package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench orchestrator's child-partial parse is load-bearing for
  * the driver contract (a mis-parse silently zeroes a group's
  * timings), and round 15 widened the partial with the diagnostic
  * objects (barometers / gc_ms / storage_mb) — pin the round-trip. */
class BenchParseSpec extends AnyFunSuite {

  test("full r15 partial: queries, failed and all three diag objects") {
    val partial =
      """{"queries":{"d01_exact":1.23,"d02_minhash_lsh":2.05},""" +
        """"failed":["d09_bad"],""" +
        """"barometers":{"pre_q69_grouped_quantiles":1.61,""" +
        """"post_q69_grouped_quantiles":1.75},""" +
        """"gc_ms":{"d01_exact":42.00,"d02_minhash_lsh":0.00},""" +
        """"storage_mb":{"d01_exact":0.00,"d02_minhash_lsh":12.50}}"""
    val (qs, failed, diag) = Bench.parsePartial(partial)
    assert(qs == Map("d01_exact" -> 1.23, "d02_minhash_lsh" -> 2.05))
    assert(failed == Seq("d09_bad"))
    assert(diag.baro.toMap == Map("pre_q69_grouped_quantiles" -> 1.61,
      "post_q69_grouped_quantiles" -> 1.75))
    assert(diag.gcMs.toMap ==
      Map("d01_exact" -> 42.0, "d02_minhash_lsh" -> 0.0))
    assert(diag.storageMb.toMap ==
      Map("d01_exact" -> 0.0, "d02_minhash_lsh" -> 12.5))
  }

  test("pre-r15 partial (no diag objects) still parses") {
    val legacy = """{"queries":{"q01_pricing_summary":3.10},"failed":[]}"""
    val (qs, failed, diag) = Bench.parsePartial(legacy)
    assert(qs == Map("q01_pricing_summary" -> 3.10))
    assert(failed.isEmpty)
    assert(diag.baro.isEmpty && diag.gcMs.isEmpty && diag.storageMb.isEmpty)
  }

  test("empty diag objects and empty queries parse to empty maps") {
    val partial = """{"queries":{},"failed":[],"barometers":{},""" +
      """"gc_ms":{},"storage_mb":{}}"""
    val (qs, failed, diag) = Bench.parsePartial(partial)
    assert(qs.isEmpty && failed.isEmpty && diag.baro.isEmpty)
  }

  test("r16 partial: retries and warmups round-trip, sentinels survive") {
    val partial =
      """{"queries":{"st03_stream_loopback":6.31},"failed":[],""" +
        """"barometers":{"pre_q69_grouped_quantiles":-1.00},""" +
        """"gc_ms":{},"storage_mb":{},""" +
        """"retries":{"st03_stream_loopback_first":14.20,""" +
        """"st03_stream_loopback_retry":6.31},""" +
        """"warmups":{"st01":2.80,"loopback":-1.00}}"""
    val (qs, _, diag) = Bench.parsePartial(partial)
    assert(qs == Map("st03_stream_loopback" -> 6.31))
    // a crashed barometer records the -1.0 sentinel, never a
    // truncated "fast" duration
    assert(diag.baro.toMap == Map("pre_q69_grouped_quantiles" -> -1.0))
    assert(diag.retries.toMap == Map(
      "st03_stream_loopback_first" -> 14.2,
      "st03_stream_loopback_retry" -> 6.31))
    assert(diag.warmups.toMap == Map("st01" -> 2.8, "loopback" -> -1.0))
  }

  test("records table loads the FULL inventory, not just the fallback") {
    // The retry rig is inert without records. Run 49's lesson: the
    // 10-entry embedded fallback satisfied a heavy-tail-only
    // assertion while the 411-record file silently failed to parse
    // (json.dump writes `"key": 1.23` with a space; the old pattern
    // required none) — so this spec demands full-inventory coverage,
    // which only the file provides.
    val r = Bench.records
    assert(r.size > 300, s"records table has only ${r.size} entries — " +
      "tools/bench_records.json did not load")
    Seq("d28_prefix_join", "q63_triangles", "st57_stream_attribution",
      "st03_stream_loopback", "c01_curate_pipeline", "t01_langid")
      .foreach { q => assert(r.get(q).exists(_ > 0), s"no record for $q") }
  }

  test("parseFlatObj tolerates whitespace after the colon (json.dump style)") {
    val text = "{\"records\":{\"a_query\": 1.25,\n\"b_query\": 0.50}}"
    assert(Bench.parseFlatObj(text, "records") ==
      Map("a_query" -> 1.25, "b_query" -> 0.5))
  }

  test("r17 partial: unadjudicated names round-trip") {
    // Budget exhaustion must be machine-visible in the artifact, not
    // discovered by a judge diffing readings against records (r16
    // verdict item 8).
    val partial =
      """{"queries":{"st73_stream_psi":12.21},"failed":[],""" +
        """"barometers":{},"gc_ms":{},"storage_mb":{},"retries":{},""" +
        """"warmups":{},"unadjudicated":["st73_stream_psi","st65_stream_benford"]}"""
    val (_, failed, diag) = Bench.parsePartial(partial)
    assert(failed.isEmpty)
    assert(diag.unadjudicated.toSeq ==
      Seq("st73_stream_psi", "st65_stream_benford"))
    // pre-r17 partials without the key still parse
    val (_, _, legacy) = Bench.parsePartial(
      """{"queries":{"a_q":1.00},"failed":[]}""")
    assert(legacy.unadjudicated.isEmpty)
  }

  test("records file with a string _provenance entry parses records only") {
    // make_records.py writes the ratchet pedigree as a string value;
    // the numeric-pair scan must skip it, not choke or mis-parse.
    val text = """{"records":{"a_query":1.25,"b_query":0.50,""" +
      """"_provenance":"ratcheted 2026-08-16 run_id=run54 baro_viol=0"}}"""
    assert(Bench.parseFlatObj(text, "records") ==
      Map("a_query" -> 1.25, "b_query" -> 0.5))
  }

  test("immediate retry budget scales with child size, floor 12") {
    assert(Bench.retryBudgetFor(5) == 12)
    assert(Bench.retryBudgetFor(47) == 12)
    assert(Bench.retryBudgetFor(54) == 14)  // t child
    assert(Bench.retryBudgetFor(81) == 21)  // st child: r16's flat 12
    assert(Bench.retryBudgetFor(111) == 28) // q child
  }

  test("overRecord: the late-pass/unadjudicated suspect set semantics") {
    val recs = Map("slow_q" -> 4.0, "fast_q" -> 1.0, "baro_q" -> 1.0,
      "failed_q" -> 2.0)
    val merged = Map(
      "slow_q" -> 6.5,   // 1.63x record -> suspect
      "fast_q" -> 1.9,   // 1.9x record but under the 2 s retry floor
      "baro_q" -> 5.0,   // over, but excluded (preMeasured barometer)
      "failed_q" -> 9.0, // over, but excluded (failed)
      "norec_q" -> 99.0) // no record -> never a suspect
    val out = Bench.overRecord(merged.keys.toSeq.sorted, merged,
      Set("baro_q", "failed_q"), recs)
    assert(out == Seq("slow_q"))
  }

  test("subfloorExcess: counts only over-record readings under the floor") {
    val recs = Map("a_q" -> 1.0, "b_q" -> 0.5, "c_q" -> 1.0,
      "d_q" -> 4.0, "e_q" -> 1.5)
    val results = Seq(
      "a_q" -> 1.8,   // 1.8x record, under 2 s floor -> counted, excess 0.8
      "b_q" -> 1.0,   // 2x record, under floor       -> counted, excess 0.5
      "c_q" -> 1.2,   // 1.2x record -> not over
      "d_q" -> 9.0,   // over record but ABOVE floor -> retry rig's job
      "e_q" -> 2.0,   // 1.33x -> not over (and exactly at floor)
      "norec" -> 50.0) // no record -> invisible, as everywhere else
    val (n, excess) = Bench.subfloorExcess(results, recs)
    assert(n == 2)
    assert(math.abs(excess - 1.3) < 1e-9)
    assert(Bench.subfloorExcess(Seq.empty, recs) == ((0, 0.0)))
  }

  test("bandsFromHistory: healthy-prefix verdicts only, 1.05x max, clamps") {
    val fb = Map("q69_grouped_quantiles" -> 2.3, "d02_minhash_lsh" -> 2.6)
    def run(id: Int, verdict: String, q69: Double, d02: Double): String =
      s""""run$id":{"d":{"pre_q69":$q69,"pre_d02":$d02,""" +
        s""""post_q69":null,"post_d02":null},"verdict":"$verdict"}"""
    // 8 healthy runs (q69 max 2.0, d02 max 2.4) + a drifted run whose
    // PROSE mentions "first half healthy" mid-string and carries wild
    // readings — the startsWith predicate must exclude it.
    val healthy = (1 to 8).map(i =>
      run(i, s"healthy ($i)", 1.5 + i * 0.0625, 1.9 + i * 0.0625))
    val drifted = run(9, "drifted; first half healthy", 9.9, 9.9)
    val text = (healthy :+ drifted).mkString("{", ",", "}")
    val bands = Bench.bandsFromHistory(text, fb)
    assert(bands("q69_grouped_quantiles") == 2.1)  // 1.05 * 2.0
    assert(bands("d02_minhash_lsh") == 2.52)       // 1.05 * 2.4
    // fewer than MinBandSamples healthy readings -> hand fallback
    val thin = healthy.take(3).mkString("{", ",", "}")
    assert(Bench.bandsFromHistory(thin, fb) == fb)
    // a corrupted history (absurd max) clamps to 2x the fallback
    val wild = (1 to 8).map(i =>
      run(i, "healthy", 40.0, 40.0)).mkString("{", ",", "}")
    assert(Bench.bandsFromHistory(wild, fb) ==
      Map("q69_grouped_quantiles" -> 4.6, "d02_minhash_lsh" -> 5.2))
  }

  test("operative bands load from the real history within the clamp") {
    // sbt test runs from the repo root, so tools/baro_history.json is
    // readable here exactly as in a bench run; the derived bands must
    // exist for both barometers and respect the clamp envelope.
    val bands = Bench.BaroUpperBand
    Seq("q69_grouped_quantiles" -> 2.3, "d02_minhash_lsh" -> 2.6)
      .foreach { case (b, fb) =>
        val v = bands(b)
        assert(v >= 0.5 * fb && v <= 2.0 * fb,
          s"band for $b = $v outside the clamp envelope of $fb")
      }
  }

  test("emit writes BENCH_SUMMARY.json as one bare parseable line") {
    // The driver-parse contract (r18 verdict item 2): besides the
    // stdout lines (bare since run/outputStrategy := StdoutOutput),
    // the exact short summary must land at a fixed file path so a
    // launcher whose stdout capture is decorated or truncated can
    // still read it. Exercised end-to-end in a temp artifact dir.
    val dir = java.nio.file.Files.createTempDirectory("benchspec")
    System.setProperty("graft.bench.out.dir", dir.toString)
    try {
      Bench.emit(Seq("q69_grouped_quantiles" -> 0.61,
        "d02_minhash_lsh" -> 1.23), Seq("x_failed"))
      val sum = dir.resolve("BENCH_SUMMARY.json")
      val full = dir.resolve("BENCH_FULL.json")
      assert(java.nio.file.Files.exists(sum), "BENCH_SUMMARY.json missing")
      assert(java.nio.file.Files.exists(full), "BENCH_FULL.json missing")
      val s = java.nio.file.Files.readString(sum).trim
      // exactly one line, bare JSON object, headline keys present
      assert(!s.contains("\n") && s.startsWith("{") && s.endsWith("}"))
      assert(s.contains("\"metric\":\"total\"") &&
        s.contains("\"unit\":\"sec\"") && s.contains("\"value\":1.84"))
      assert(s.contains("\"failed\":[\"x_failed\"]"))
      // the full line parses with the partial parser (same grammar)
      val f = java.nio.file.Files.readString(full).trim
      val (qs, failed, _) = Bench.parsePartial(f)
      assert(qs == Map("q69_grouped_quantiles" -> 0.61,
        "d02_minhash_lsh" -> 1.23))
      assert(failed == Seq("x_failed"))
    } finally {
      System.clearProperty("graft.bench.out.dir")
      scala.util.Using.resource(java.nio.file.Files.list(dir))(
        _.forEach(p => java.nio.file.Files.deleteIfExists(p)))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("the orchestrator's start drops a stale BENCH_SUMMARY.json") {
    // A run that crashes before emit must not leave the previous run's
    // summary in place to be read as its own.
    val dir = java.nio.file.Files.createTempDirectory("benchspec")
    val sum = dir.resolve("BENCH_SUMMARY.json")
    java.nio.file.Files.writeString(sum, "{\"metric\":\"total\"}\n")
    System.setProperty("graft.bench.out.dir", dir.toString)
    try {
      assert(Bench.dropStaleSummary())
      assert(!java.nio.file.Files.exists(sum))
      assert(!Bench.dropStaleSummary()) // nothing left to drop
    } finally {
      System.clearProperty("graft.bench.out.dir")
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("parseFlatObj is bounded to its own object") {
    // gc_ms must not leak into the barometers parse or vice versa
    val text = """{"barometers":{"pre_d02_minhash_lsh":1.90},""" +
      """"gc_ms":{"pre_d02_minhash_lsh":77.00}}"""
    assert(Bench.parseFlatObj(text, "barometers") ==
      Map("pre_d02_minhash_lsh" -> 1.9))
    assert(Bench.parseFlatObj(text, "gc_ms") ==
      Map("pre_d02_minhash_lsh" -> 77.0))
    assert(Bench.parseFlatObj(text, "absent") == Map.empty)
  }
}
