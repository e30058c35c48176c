package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench orchestrator's child-partial parse is load-bearing for
  * the driver contract (a mis-parse silently zeroes a group's
  * timings), and round 15 widened the partial with the diagnostic
  * objects — pin the round-trip and the two summary lines. */
class BenchParseSpec extends AnyFunSuite with TempDirs {

  test("full r15 partial: queries, failed and all three diag objects") {
    val partial =
      """{"queries":{"d01_exact":1.23,"d02_minhash_lsh":2.05},""" +
        """"failed":["d09_bad"],""" +
        """"gc_ms":{"d01_exact":42.00,"d02_minhash_lsh":0.00},""" +
        """"storage_mb":{"d01_exact":0.00,"d02_minhash_lsh":12.50},""" +
        """"warmups":{"st01":2.80}}"""
    val (qs, failed, diag) = Bench.parsePartial(partial)
    assert(qs == Map("d01_exact" -> 1.23, "d02_minhash_lsh" -> 2.05))
    assert(failed == Seq("d09_bad"))
    assert(diag.gcMs.toMap ==
      Map("d01_exact" -> 42.0, "d02_minhash_lsh" -> 0.0))
    assert(diag.storageMb.toMap ==
      Map("d01_exact" -> 0.0, "d02_minhash_lsh" -> 12.5))
    assert(diag.warmups.toMap == Map("st01" -> 2.8))
  }

  test("pre-r15 partial (no diag objects) still parses") {
    val legacy = """{"queries":{"q01_pricing_summary":3.10},"failed":[]}"""
    val (qs, failed, diag) = Bench.parsePartial(legacy)
    assert(qs == Map("q01_pricing_summary" -> 3.10))
    assert(failed.isEmpty)
    assert(diag.gcMs.isEmpty && diag.storageMb.isEmpty && diag.warmups.isEmpty)
  }

  test("empty diag objects and empty queries parse to empty maps") {
    val partial = """{"queries":{},"failed":[],"gc_ms":{},""" +
      """"storage_mb":{},"warmups":{}}"""
    val (qs, failed, diag) = Bench.parsePartial(partial)
    assert(qs.isEmpty && failed.isEmpty && diag.gcMs.isEmpty &&
      diag.storageMb.isEmpty && diag.warmups.isEmpty)
  }

  test("r16 partial: warmups round-trip, the failure sentinel survives") {
    // An r16-era partial also carries barometer and retry objects;
    // they are ignored, and a failed warmup keeps its -1.0 sentinel.
    val partial =
      """{"queries":{"st03_stream_loopback":6.31},"failed":[],""" +
        """"barometers":{"pre_q69_grouped_quantiles":-1.00},""" +
        """"gc_ms":{},"storage_mb":{},""" +
        """"retries":{"st03_stream_loopback_first":14.20,""" +
        """"st03_stream_loopback_retry":6.31},""" +
        """"warmups":{"st01":2.80,"loopback":-1.00}}"""
    val (qs, _, diag) = Bench.parsePartial(partial)
    assert(qs == Map("st03_stream_loopback" -> 6.31))
    assert(diag.warmups.toMap == Map("st01" -> 2.8, "loopback" -> -1.0))
  }

  test("parseFlatObj tolerates whitespace after the colon (json.dump style)") {
    val text = "{\"records\":{\"a_query\": 1.25,\n\"b_query\": 0.50}}"
    assert(Bench.parseFlatObj(text, "records") ==
      Map("a_query" -> 1.25, "b_query" -> 0.5))
  }

  test("emit writes BENCH_SUMMARY.json as one bare parseable line") {
    // The driver-parse contract (r18 verdict item 2): besides the
    // stdout lines (bare since run/outputStrategy := StdoutOutput),
    // the exact short summary must land at a fixed file path so a
    // launcher whose stdout capture is decorated or truncated can
    // still read it. Exercised end-to-end in a temp artifact dir.
    val dir = tempDir("benchspec")
    val diag = new Bench.Diag
    diag.gcMs("q69_grouped_quantiles") = 12.0
    diag.storageMb("d02_minhash_lsh") = 0.5
    diag.warmups("st_st01") = 2.75
    Bench.emit(Seq("q69_grouped_quantiles" -> 0.61,
      "d02_minhash_lsh" -> 1.23), Seq("x_failed"), diag, dir.toString)
    val sum = dir.resolve("BENCH_SUMMARY.json")
    val full = dir.resolve("BENCH_FULL.json")
    assert(java.nio.file.Files.exists(sum), "BENCH_SUMMARY.json missing")
    assert(java.nio.file.Files.exists(full), "BENCH_FULL.json missing")
    val s = java.nio.file.Files.readString(sum).trim
    // exactly one line, bare JSON object, exactly the seven keys
    assert(!s.contains("\n") && s.startsWith("{") && s.endsWith("}"))
    assert(""""([a-z_]+)":""".r.findAllMatchIn(s).map(_.group(1)).toSeq ==
      Seq("metric", "unit", "value", "n", "failed", "sf", "full"))
    assert(s.contains("\"metric\":\"total\"") &&
      s.contains("\"unit\":\"sec\"") && s.contains("\"value\":1.84") &&
      s.contains("\"n\":2"))
    assert(s.contains("\"failed\":[\"x_failed\"]"))
    assert(s.contains("\"full\":\"" + full.toAbsolutePath.normalize + "\""))
    // the full line parses with the partial parser (same grammar)
    val f = java.nio.file.Files.readString(full).trim
    val (qs, failed, fDiag) = Bench.parsePartial(f)
    assert(qs == Map("q69_grouped_quantiles" -> 0.61,
      "d02_minhash_lsh" -> 1.23))
    assert(failed == Seq("x_failed"))
    assert(fDiag.gcMs.toMap == Map("q69_grouped_quantiles" -> 12.0))
    assert(fDiag.storageMb.toMap == Map("d02_minhash_lsh" -> 0.5))
    assert(fDiag.warmups.toMap == Map("st_st01" -> 2.75))
  }

  test("the orchestrator's start drops a stale BENCH_SUMMARY.json") {
    // A run that crashes before emit must not leave the previous run's
    // summary in place to be read as its own.
    val dir = tempDir("benchspec")
    val sum = dir.resolve("BENCH_SUMMARY.json")
    java.nio.file.Files.writeString(sum, "{\"metric\":\"total\"}\n")
    assert(Bench.dropStaleSummary(dir.toString))
    assert(!java.nio.file.Files.exists(sum))
    assert(!Bench.dropStaleSummary(dir.toString)) // nothing left to drop
  }

  test("parseFlatObj is bounded to its own object") {
    // gc_ms must not leak into the storage_mb parse or vice versa
    val text = """{"storage_mb":{"d02_minhash_lsh":1.90},""" +
      """"gc_ms":{"d02_minhash_lsh":77.00}}"""
    assert(Bench.parseFlatObj(text, "storage_mb") ==
      Map("d02_minhash_lsh" -> 1.9))
    assert(Bench.parseFlatObj(text, "gc_ms") ==
      Map("d02_minhash_lsh" -> 77.0))
    assert(Bench.parseFlatObj(text, "absent") == Map.empty)
  }
}
