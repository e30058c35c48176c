package graft.operators

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

  test("bucketed persistence prunes point reads to one bucket") {
    val dir = tempDir("graft_vbuck").toString
    val bucketed = view.persistBucketed("viewspec_bucketed", 8, dir)
    val plan = bucketed.pointReadPlan("banana")
    assert(plan.contains("SelectedBucketsCount: 1 out of 8"), plan)
    assert(bucketed.get("banana").map(new String(_)) == Some("2"))
    assert(bucketed.iterator.collect().map(_.key).toSeq ==
      Seq("apple", "apricot", "banana", "cherry"))
    // the conf scoping leaves the session untouched
    assert(spark.conf.get(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled") == "true")
  }
}
