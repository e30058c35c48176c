package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FilePartition}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}
import graft.core.TableRow

class ViewSpec extends AnyFunSuite with SparkFixture with TempDirs {

  private def view = {
    import spark.implicits._
    new View(spark.createDataset(Seq(
      TableRow("apple", "1".getBytes), TableRow("banana", "2".getBytes),
      TableRow("apricot", "3".getBytes), TableRow("cherry", "4".getBytes))))
  }

  test("point get and has (view.go:333-371)") {
    assert(view.get("banana").map(new String(_)) == Some("2"))
    assert(view.get("nope").isEmpty)
    assert(view.has("apple") && !view.has("zzz"))
  }

  test("evict removes the key from THIS replica only (view.go:419-427)") {
    val v = view
    assert(v.get("banana").isDefined)
    v.evict("banana")
    assert(v.get("banana").isEmpty && !v.has("banana"))
    assert(v.iterator.collect().map(_.key).toSeq ==
      Seq("apple", "apricot", "cherry")) // scans skip it too
    assert(v.get("apple").isDefined)     // other keys untouched
    val fresh = new View(v.rows)         // another replica of the table
    assert(fresh.get("banana").isDefined,
      "eviction must not touch the underlying table or other views")
  }

  test("full iteration in lex key order (merge_iterator.go:45-124)") {
    assert(view.iterator.collect().map(_.key).toSeq ==
      Seq("apple", "apricot", "banana", "cherry"))
  }

  test("range [start, limit) ordered (view.go:396-417)") {
    assert(view.range("apple", "banana").collect().map(_.key).toSeq ==
      Seq("apple", "apricot"))
    assert(view.range("b", "").collect().map(_.key).toSeq ==
      Seq("banana", "cherry"))
  }

  test("prefix scan (storage/memory.go:154-170)") {
    assert(view.prefix("ap").collect().map(_.key).toSeq ==
      Seq("apple", "apricot"))
  }

  test("seek repositions at >= key (iterator.go:66-68)") {
    assert(view.seek("b").collect().map(_.key).toSeq ==
      Seq("banana", "cherry"))
  }

  test("changelog compaction: last write wins, tombstones drop rows") {
    import spark.implicits._
    import graft.core.Message
    def m(k: String, v: String, off: Long) =
      Message(k, if (v == null) null else v.getBytes("UTF-8"), "t", 0, off,
        new java.sql.Timestamp(1000L), Map.empty)
    val log = spark.createDataset(Seq(
      m("a", "v1", 1), m("a", "v2", 5), m("a", "v3", 3), // out of order
      m("b", "x", 1), m("b", null, 2),                   // tombstoned
      m("c", null, 1), m("c", "alive", 2)))              // re-created
    val t = View.compact(log).collect()
      .map(r => r.key -> new String(r.value, "UTF-8")).toMap
    assert(t == Map("a" -> "v2", "c" -> "alive"))
  }

  /** A View whose point-read plan — the same `live` rows `get` and `has`
    * filter — the spec can inspect. */
  private class PlanProbe(rows: Dataset[TableRow]) extends View(rows) {
    def pointRead(key: String): Dataset[TableRow] =
      live.filter(col("key") === key).limit(1)
  }

  /** Names of the files the point read's scan reads. */
  private def filesRead(v: PlanProbe, key: String): Seq[String] = {
    val plan = v.pointRead(key).queryExecution.executedPlan
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail(s"no file scan in the point-read plan\n$plan"))
    scan.inputRDD.partitions.toSeq.flatMap {
      case p: FilePartition => p.files.map(_.toPath.getName).toSeq
    }
  }

  test("bucketed persistence prunes point reads to one bucket") {
    val dir = tempDir("graft_vbuck")
    val bucketed = view.persistBucketed("viewspec_bucketed", 8, dir.toString)
    assert(bucketed.get("banana").map(new String(_)) == Some("2"))
    assert(bucketed.iterator.collect().map(_.key).toSeq ==
      Seq("apple", "apricot", "banana", "cherry"))
    // Bucketed writes hash with Murmur3 (the `hash` function) mod N.
    val bucket = spark.range(1).select(pmod(hash(lit("banana")), lit(8)))
      .head().getInt(0)
    val onDisk = dir.toFile.listFiles().map(_.getName)
      .flatMap(BucketingUtils.getBucketId).toSet
    assert(onDisk.contains(bucket) && onDisk.size > 1, onDisk)
    val probe = new PlanProbe(bucketed.rows)
    for (evicted <- Seq(None, Some("apple"))) {
      evicted.foreach(probe.evict)
      val files = filesRead(probe, "banana")
      assert(files.nonEmpty &&
        files.forall(BucketingUtils.getBucketId(_).contains(bucket)),
        s"evicted=$evicted: point read must scan only bucket $bucket: $files")
      assert(probe.get("banana").map(new String(_)) == Some("2"))
    }
  }

  test("bucketed persistence writes one file per bucket") {
    import spark.implicits._
    val dir = tempDir("graft_vbuck_files")
    // Four writing partitions: without the repartition by key each of
    // them would leave a file in every bucket.
    val rows = spark.range(200).repartition(4)
      .map(i => TableRow(s"k$i", i.toString.getBytes))
    val bucketed = new View(rows)
      .persistBucketed("viewspec_bucket_files", 8, dir.toString)
    val dataFiles = dir.toFile.listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(dataFiles.length == 8 &&
      dataFiles.flatMap(BucketingUtils.getBucketId).toSet == (0 until 8).toSet,
      dataFiles.toSeq)
    assert(filesRead(new PlanProbe(bucketed.rows), "k42").size == 1)
    assert(bucketed.get("k42").map(new String(_)) == Some("42"))
  }
}
