package graft.ops

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Targeted key-erasure over a shard-partitioned lake: the audit
  * numbers, the zero-residual guarantee, and — the point of the
  * layout — that shards NOT containing an erased key keep their
  * original files physically untouched. */
class LakeSpec extends AnyFunSuite with SparkFixture with TempDirs {

  private def snapshot(dir: Path): Map[String, (Long, Long)] =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_"))
      .map(p => dir.relativize(p).toString ->
        ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
      .toMap

  test("eraseKeys rewrites only affected shards; audit is exact") {
    import spark.implicits._
    val out = tempDir("graft_lake_spec")
    val path = out.resolve("t").toString
    // keys 0..9 into 4 shards; two rows for key 3 so rowsErased = 2.
    val df = ((0L to 9L).map(k => (k, s"v$k")) :+ ((3L, "v3b")))
      .toDF("user_id", "payload")
    Lake.writeSharded(df, col("user_id"), path, nShards = 4)
    val before = snapshot(out)

    val erase = Seq(3L).toDF("user_id")
    val audit = Lake.eraseKeys(spark, path, "user_id", erase, nShards = 4)
    assert(audit == Lake.EraseAudit(11L, 9L, 1L, 0L))

    val after = snapshot(out)
    // shard=3 (keys 3, 7) was rewritten; every other shard's files are
    // byte- and mtime-identical.
    val untouched = before.filter(!_._1.contains("shard=3"))
    untouched.foreach { case (f, sig) =>
      assert(after.get(f).contains(sig), s"$f was rewritten")
    }
    assert(after.keys.exists(_.contains("shard=3")))
    // the surviving key in the rewritten shard is intact
    val rows = spark.read.parquet(path)
      .select("user_id", "payload").as[(Long, String)].collect().toSet
    assert(!rows.exists(_._1 == 3L))
    assert(rows.contains((7L, "v7")))
    assert(rows.size == 9)
  }

  test("compaction changes file count, never rows or content digest") {
    import spark.implicits._
    import graft.functions.Hashes.h60
    val out = tempDir("graft_compact_spec")
    val df = (0L to 99L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    df.repartition(8).write.parquet(s"$out/raw")
    def files(p: String) = Files.list(java.nio.file.Paths.get(p))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
    val raw = spark.read.parquet(s"$out/raw")
    raw.coalesce(2).write.parquet(s"$out/compact")
    assert(files(s"$out/raw") == 8)
    assert(files(s"$out/compact") == 2)
    def sealOf(p: String) = spark.read.parquet(p)
      .select(h60(col("text")).as("d0"))
      .agg(count(lit(1)).cast("long"), expr("bit_xor(d0)")).head()
    assert(sealOf(s"$out/raw") == sealOf(s"$out/compact"))
  }

  test("clustered write yields disjoint per-file key ranges — the " +
      "property that makes row-group skipping surgical") {
    import spark.implicits._
    val out = tempDir("graft_clustered_spec")
    val path = out.resolve("t").toString
    // deliberately shuffled input: clustering must impose the order
    val df = scala.util.Random.shuffle((0L to 999L).toList)
      .toDF("user_id").withColumn("payload", col("user_id") * 3)
    Lake.writeClustered(df, col("user_id"), path, nFiles = 4)
    val files = Files.list(java.nio.file.Paths.get(path))
      .iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toSeq
    assert(files.size == 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("user_id")), max(col("user_id"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi < lo, s"file ranges overlap: $ranges")
      case _ =>
    }
    // all rows survive the layout change
    assert(spark.read.parquet(path).count() == 1000L)
  }

  test("zone map prunes a clustered layout losslessly: candidates " +
      "cover every matching row and skip non-overlapping files") {
    import spark.implicits._
    val out = tempDir("graft_zonemap_spec")
    val path = out.resolve("t").toString
    val df = scala.util.Random.shuffle((0L to 999L).toList)
      .toDF("user_id").withColumn("payload", col("user_id") * 3)
    Lake.writeClustered(df, col("user_id"), path, nFiles = 8)
    val zm = Lake.buildZoneMap(spark, path, "user_id")
    assert(zm.count() == 8)
    val (lo, hi) = (100L, 250L)
    val cand = Lake.zoneCandidates(zm, lo, hi)
      .collect().map(_.getString(0))
    // prunes: a 15% range over 8 disjoint-range files must skip most
    assert(cand.nonEmpty && cand.length < 8,
      s"zone map failed to prune: ${cand.length} of 8 files")
    // lossless: the pruned read finds every matching row
    val prunedCount = spark.read.parquet(cand.toIndexedSeq: _*)
      .filter(col("user_id").between(lo, hi)).count()
    assert(prunedCount == (hi - lo + 1))
    // all-null stats exclusion: a file of nulls never matches a range
    val nulls = Seq.empty[Option[Long]].toDF("user_id")
    assert(Lake.zoneCandidates(
      nulls.agg(min(col("user_id")).as("mn"), max(col("user_id")).as("mx"),
        lit(0L).as("n_null"), lit(0L).as("n_rows"))
        .withColumn("file", lit("f0")),
      lo, hi).count() == 0)
  }

  test("threeWayMerge: every conflict class resolves ours-wins and " +
      "is flagged; clean changes merge from either side") {
    import spark.implicits._
    // base keys 1..8; A: upd 1, del 2, upd 5 (same as B), del 6 (same)
    //               B: upd 3, del 4, upd 5 (same), del 6 (same),
    //                  upd 1 differently (CONFLICT), del 7 while A
    //                  updates it? -> A updates 7, B deletes 7 (CONFLICT)
    val base = Seq((1L, "b1"), (2L, "b2"), (3L, "b3"), (4L, "b4"),
      (5L, "b5"), (6L, "b6"), (7L, "b7"), (8L, "b8")).toDF("k", "v")
    val a = Seq((1L, "a1"), (3L, "b3"), (4L, "b4"), (5L, "x5"),
      (7L, "a7"), (8L, "b8")).toDF("k", "v") // del 2, del 6
    val b = Seq((1L, "c1"), (2L, "b2"), (3L, "c3"), (5L, "x5"),
      (8L, "b8")).toDF("k", "v") // del 4, del 6, del 7
    val m = Lake.threeWayMerge(base, a, b, "k", "v")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getBoolean(4)))).toMap
    assert(m(1) == ((Some("a1"), true)))   // both changed differently
    assert(m(2) == ((None, false)))        // A-only delete
    assert(m(3) == ((Some("c3"), false)))  // B-only update
    assert(m(4) == ((None, false)))        // B-only delete
    assert(m(5) == ((Some("x5"), false)))  // both changed identically
    assert(m(6) == ((None, false)))        // both deleted — no conflict
    assert(m(7) == ((Some("a7"), true)))   // update vs delete: conflict
    assert(m(8) == ((Some("b8"), false)))  // untouched
  }

  test("zValue interleaves bits exactly (known patterns)") {
    import spark.implicits._
    // b's bits land at odd positions; 5=101, 3=011 ->
    // z = a0 + 2*b0 + 4*a1 + 8*b1 + 16*a2 = 1+2+0+8+16 = 27
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L),
      (255L, 0L), (0L, 255L), (255L, 255L), (5L, 3L))
    val got = cases.toDF("a", "b")
      .select(col("a"), col("b"),
        Lake.zValue(col("a"), col("b"), 8).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got((0L, 0L)) == 0L && got((1L, 0L)) == 1L &&
      got((0L, 1L)) == 2L && got((1L, 1L)) == 3L)
    assert(got((255L, 0L)) == 0x5555L && got((0L, 255L)) == 0xAAAAL &&
      got((255L, 255L)) == 0xFFFFL)
    assert(got((5L, 3L)) == 27L)
  }

  test("z-ordered write bounds per-file ranges on BOTH dimensions " +
      "where 1-D clustering leaves the second at full width") {
    import spark.implicits._
    // full 64x64 grid, deliberately shuffled
    val rows = scala.util.Random.shuffle(
      (for (u <- 0L until 64L; d <- 0L until 64L) yield (u, d)).toList)
    val df = rows.toDF("u", "d")
    val out = tempDir("graft_zorder_spec")
    val zPath = out.resolve("z").toString
    val cPath = out.resolve("c").toString
    Lake.writeZOrdered(df, col("u"), col("d"), zPath, nFiles = 16)
    Lake.writeClustered(df, col("u"), cPath, nFiles = 16)
    def ranges(path: String) = Files.list(java.nio.file.Paths.get(path))
      .iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toSeq
      .map { f =>
        val r = spark.read.parquet(f).agg(
          min(col("u")), max(col("u")), min(col("d")), max(col("d")))
          .head()
        (r.getLong(1) - r.getLong(0), r.getLong(3) - r.getLong(2))
      }
    val zr = ranges(zPath)
    assert(zr.size == 16)
    // every z file covers at most half the span on BOTH dims
    zr.foreach { case (uw, dw) =>
      assert(uw <= 32L && dw <= 32L, s"z file spans ($uw, $dw)")
    }
    // the 1-D layout's second dimension is full-width in every file
    ranges(cPath).foreach { case (_, dw) => assert(dw == 63L) }
    // layout is pure: all rows survive
    assert(spark.read.parquet(zPath).count() == 64L * 64L)
  }

  test("randomized parity: eraseKeys audit matches brute-force on " +
      "seeded random data, negative keys included") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (round <- 1 to 3) {
      val n = 50 + rnd.nextInt(150)
      val nShards = 2 + rnd.nextInt(6)
      // keys may be negative and may repeat — pmod must keep shard
      // assignment total and non-negative either way
      val rows = (1 to n).map(i => (rnd.nextInt(60).toLong - 20L, i.toLong))
      val eraseKeys = (1 to 8).map(_ => rnd.nextInt(70).toLong - 25L)
        .distinct
      val out = tempDir(s"graft_lake_rand$round")
      val path = out.resolve("t").toString
      Lake.writeSharded(rows.toDF("k", "v"), col("k"), path, nShards)
      val audit = Lake.eraseKeys(spark, path, "k",
        eraseKeys.toDF("k"), nShards)
      val eSet = eraseKeys.toSet
      val expectAfter = rows.count(r => !eSet.contains(r._1)).toLong
      val expectShards = eraseKeys
        .map(k => ((k % nShards) + nShards) % nShards).distinct.size.toLong
      assert(audit == Lake.EraseAudit(n.toLong, expectAfter,
        expectShards, 0L), s"round $round n=$n shards=$nShards")
      val survived = spark.read.parquet(path)
        .select("k", "v").as[(Long, Long)].collect().toSet
      assert(survived == rows.filter(r => !eSet.contains(r._1)).toSet,
        s"round $round content mismatch")
    }
  }

  test("erasing a key present in no shard rewrites its hash shard only") {
    import spark.implicits._
    val out = tempDir("graft_lake_spec2")
    val path = out.resolve("t").toString
    Lake.writeSharded((0L to 3L).map(k => (k, k * 10))
      .toDF("user_id", "x"), col("user_id"), path, nShards = 2)
    val audit = Lake.eraseKeys(spark, path, "user_id",
      Seq(8L).toDF("user_id"), nShards = 2)
    assert(audit == Lake.EraseAudit(4L, 4L, 1L, 0L))
  }

  test("versioned merge: copy-on-write commit — v1 files untouched, " +
      "cold shards inherited by reference, time travel exact") {
    import spark.implicits._
    val out = tempDir("graft_lake_ver")
    val path = out.resolve("t").toString
    // keys 0..7 across 4 shards (key % 4).
    val v1rows = (0L to 7L).map(k => (k, k * 100))
    assert(Lake.writeVersioned(v1rows.toDF("k", "v"), "k", path, 4) == 1)
    val before = snapshot(out)

    // change batch touches shards 1 (keys 1, 5) and 2 (key 2):
    // update k=1, insert k=9 (shard 1), delete k=2.
    val changes = Seq(
      (1L, 111L, "upsert"), (9L, 999L, "upsert"),
      (2L, 0L, "delete")).toDF("k", "v", "op")
    val audit = Lake.mergeVersioned(spark, path, "k", changes, 4)
    assert(audit.version == 2 && audit.shardsRewritten == 2 &&
      audit.shardsInherited == 2 && audit.upserts == 2 &&
      audit.deletes == 1, audit.toString)

    // every v1 data file is byte- and mtime-identical post-merge.
    val after = snapshot(out)
    before.foreach { case (f, sig) =>
      assert(after.get(f).contains(sig), s"v1 file $f was touched")
    }
    // the v2 manifest inherits shards 0 and 3 from v1's directory.
    val m2 = Lake.readManifest(path, 2)
    assert(m2(0) == "files/v1" && m2(3) == "files/v1" &&
      m2(1) == "files/v2" && m2(2) == "files/v2", m2.toString)

    // snapshot contents: v2 = applied changes, v1 = original (time travel).
    def read(ver: Int) = Lake.readVersioned(spark, path, ver)
      .as[(Long, Long)].collect().toSet
    assert(read(2) == Set((0L, 0L), (1L, 111L), (3L, 300L), (4L, 400L),
      (5L, 500L), (6L, 600L), (7L, 700L), (9L, 999L)))
    assert(read(1) == v1rows.toSet)
    assert(Lake.latestVersion(path) == 2)
  }

  test("versionDiff: classifies insert/update/delete, suppresses " +
      "identical survivors, and opens ONLY manifest-differing shards") {
    import spark.implicits._
    val out = tempDir("graft_lake_diff")
    val path = out.resolve("t").toString
    // same lake as the merge test: v2 touches shards 1 and 2 only
    Lake.writeVersioned((0L to 7L).map(k => (k, k * 100)).toDF("k", "v"),
      "k", path, 4)
    Lake.mergeVersioned(spark, path, "k", Seq(
      (1L, 111L, "upsert"), (9L, 999L, "upsert"),
      (2L, 0L, "delete")).toDF("k", "v", "op"), 4)
    val diff = Lake.versionDiff(spark, path, "k", 1, 2)
    val got = diff.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.get(2)), Option(r.get(3)))).toSet
    // k=5 lives in rewritten shard 1 but is UNCHANGED -> suppressed.
    assert(got == Set(
      (1L, "update", Some(100L), Some(111L)),
      (9L, "insert", None, Some(999L)),
      (2L, "delete", Some(200L), None)), got.toString)
    // manifest pruning: the diff never opened shards 0 and 3.
    val opened = diff.inputFiles.toSet
    assert(opened.nonEmpty)
    assert(opened.forall(f => f.contains("shard=1") ||
      f.contains("shard=2")), opened.mkString("\n"))
  }

  test("versionDiff across a multi-commit chain: per-shard manifest " +
      "entries from DIFFERENT versions compose into one correct diff") {
    import spark.implicits._
    val out = tempDir("graft_lake_diff_chain")
    val path = out.resolve("t").toString
    Lake.writeVersioned((0L to 7L).map(k => (k, k * 100)).toDF("k", "v"),
      "k", path, 4)
    // v2 touches shard 1 (update k=1); v3 touches shard 2 (delete k=2)
    Lake.mergeVersioned(spark, path, "k",
      Seq((1L, 111L, "upsert")).toDF("k", "v", "op"), 4)
    Lake.mergeVersioned(spark, path, "k",
      Seq((2L, 0L, "delete")).toDF("k", "v", "op"), 4)
    val m3 = Lake.readManifest(path, 3)
    assert(m3(1) == "files/v2" && m3(2) == "files/v3", m3.toString)
    val got = Lake.versionDiff(spark, path, "k", 1, 3)
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(got == Set(
      (1L, "update", Some(100L), Some(111L)),
      (2L, "delete", Some(200L), None)), got.toString)
  }

  test("versioned merge: deleting a shard's every row marks it empty " +
      "and a further merge can repopulate it") {
    import spark.implicits._
    val out = tempDir("graft_lake_ver2")
    val path = out.resolve("t").toString
    Lake.writeVersioned(Seq((0L, 1L), (1L, 2L)).toDF("k", "v"), "k",
      path, 2)
    Lake.mergeVersioned(spark, path, "k",
      Seq((1L, 0L, "delete")).toDF("k", "v", "op"), 2)
    assert(Lake.readManifest(path, 2)(1) == "-")
    assert(Lake.readVersioned(spark, path, 2)
      .as[(Long, Long)].collect().toSet == Set((0L, 1L)))
    Lake.mergeVersioned(spark, path, "k",
      Seq((3L, 30L, "upsert")).toDF("k", "v", "op"), 2)
    assert(Lake.readVersioned(spark, path, 3)
      .as[(Long, Long)].collect().toSet == Set((0L, 1L), (3L, 30L)))
  }

  test("randomized parity: merge chain == Map-apply reference; every " +
      "historical snapshot stays readable and exact; vacuum keeps " +
      "the survivors") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    for (round <- 1 to 3) {
      val out = tempDir(s"graft_lake_rand$round")
      val path = out.resolve("t").toString
      val nShards = 1 + rnd.nextInt(6)
      var state = (0L until (5 + rnd.nextInt(40)))
        .map(k => k -> rnd.nextLong(1000)).toMap
      Lake.writeVersioned(state.toSeq.toDF("k", "v"), "k", path, nShards)
      var snapshots = List(state)
      for (_ <- 1 to 3) {
        // random batch: upserts (some new keys), deletes (some absent)
        val ups = (0 until (1 + rnd.nextInt(8))).map(_ =>
          (rnd.nextLong(60), rnd.nextLong(1000), "upsert"))
        val dels = (0 until rnd.nextInt(5)).map(_ =>
          (rnd.nextLong(60), 0L, "delete"))
        // within one batch a key must appear once (the merge applies a
        // SET of changes) — last wins when building the batch
        val batch = (ups ++ dels).groupBy(_._1).map(_._2.last).toSeq
        Lake.mergeVersioned(spark, path, "k",
          batch.toDF("k", "v", "op"), nShards)
        batch.foreach {
          case (k, v, "upsert") => state += (k -> v)
          case (k, _, _)        => state -= k
        }
        snapshots ::= state
        assert(Lake.readVersioned(spark, path)
          .as[(Long, Long)].collect().toMap == state,
          s"round $round latest mismatch")
      }
      // time travel: every historical version byte-exact
      snapshots.reverse.zipWithIndex.foreach { case (snap, i) =>
        assert(Lake.readVersioned(spark, path, i + 1)
          .as[(Long, Long)].collect().toMap == snap,
          s"round $round version ${i + 1} mismatch")
      }
      // vacuum to the latest: it must still read exactly
      Lake.vacuum(path, keepFrom = 4)
      assert(Lake.readVersioned(spark, path, 4)
        .as[(Long, Long)].collect().toMap == state,
        s"round $round post-vacuum mismatch")
    }
  }

  test("vacuum: expired versions' superseded shard copies deleted, " +
      "inherited dirs survive, surviving snapshot byte-identical") {
    import spark.implicits._
    val out = tempDir("graft_lake_vac")
    val path = out.resolve("t").toString
    Lake.writeVersioned((0L to 7L).map(k => (k, k * 100))
      .toDF("k", "v"), "k", path, 4)
    // touch shards 1 and 2 -> their v1 copies become superseded
    Lake.mergeVersioned(spark, path, "k", Seq(
      (1L, 111L, "upsert"), (2L, 0L, "delete")).toDF("k", "v", "op"), 4)
    val v2Before = Lake.readVersioned(spark, path, 2)
      .as[(Long, Long)].collect().toSet
    val keptFilesBefore = snapshot(out).filter(f =>
      f._1.contains("files/v2") ||
        (f._1.contains("files/v1") &&
          (f._1.contains("shard=0") || f._1.contains("shard=3"))))

    val audit = Lake.vacuum(path, keepFrom = 2)
    // kept: v1 shards 0/3 (inherited) + v2 shards 1/2 = 4 dirs
    assert(audit == Lake.VacuumAudit(1L, 1L, 2L, 4L), audit.toString)

    // superseded v1 copies of shards 1/2 are gone; inherited 0/3 intact
    val after = snapshot(out)
    assert(!after.keys.exists(f => f.contains("files/v1") &&
      (f.contains("shard=1") || f.contains("shard=2"))), after.keys.toString)
    keptFilesBefore.foreach { case (f, sig) =>
      assert(after.get(f).contains(sig), s"reachable file $f was touched")
    }
    // surviving snapshot identical; expired version fails loudly
    assert(Lake.readVersioned(spark, path, 2)
      .as[(Long, Long)].collect().toSet == v2Before)
    intercept[java.nio.file.NoSuchFileException] {
      Lake.readVersioned(spark, path, 1).collect()
    }
  }

  test("bloom sidecar: no false negatives, and most files skipped " +
    "for point probes on the non-clustering key") {
    import spark.implicits._
    val out = tempDir("graft_bloom_spec")
    val path = out.resolve("t").toString
    // cluster by gid — event_id point lookups get NO min/max help.
    val df = (0L until 2000L).map(k => (k, k % 37, s"p$k"))
      .toDF("event_id", "gid", "payload")
    Lake.writeClustered(df, col("gid"), path, nFiles = 8)
    val idx = Lake.buildBloomIndex(spark, path, "event_id")
      .localCheckpoint()
    val nFiles = spark.read.parquet(path)
      .select(input_file_name()).distinct().count()
    assert(nFiles == 8L)
    val probes = (0L until 2000L by 97L).toDF("event_id")
    val cand = Lake.bloomCandidates(idx, probes, "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // ground truth location of every probe key
    val truth = spark.read.parquet(path)
      .filter(col("event_id") % 97 === 0)
      .select(col("event_id"), input_file_name().as("file"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(truth.subsetOf(cand), "bloom false negative")
    // skipping is real: candidates are far fewer than probes x files
    val nProbes = probes.count()
    assert(cand.size < nProbes * nFiles / 2,
      s"bloom not selective: ${cand.size} candidates for " +
        s"$nProbes probes over $nFiles files")
    // an absent key should (with these parameters) hit few files
    val ghost = Lake.bloomCandidates(idx, Seq(999999L).toDF("event_id"),
      "event_id").count()
    assert(ghost <= 4L, s"ghost key matched $ghost files")
    // Regression: a duplicated sidecar (retried ingest micro-batch
    // re-landing its (file, word) rows) must NOT create false
    // negatives — bloomCandidates folds the index per (file, word)
    // before counting hits, so n_hit can never exceed n_need.
    val dupCand = Lake.bloomCandidates(idx.union(idx), probes,
      "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(dupCand == cand,
      "duplicated index rows changed the candidate set")
  }

  test("manifests persist the shard count; a merge with a different " +
      "nShards is refused loudly instead of silently moving keys " +
      "across shards") {
    import spark.implicits._
    val out = tempDir("graft_lake_nshards")
    val path = out.resolve("t").toString
    Lake.writeVersioned((0L to 7L).map(k => (k, k)).toDF("k", "v"),
      "k", path, 4)
    assert(Lake.readNShards(path, 1) == 4)
    val changes = Seq((1L, 11L, "upsert")).toDF("k", "v", "op")
    val e = intercept[IllegalArgumentException](
      Lake.mergeVersioned(spark, path, "k", changes, 8))
    assert(e.getMessage.contains("committed with 4 shards"), e.getMessage)
    // the matching count still merges fine
    assert(Lake.mergeVersioned(spark, path, "k", changes, 4).version == 2)
  }
}
