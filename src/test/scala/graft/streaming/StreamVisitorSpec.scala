package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}
import graft.core._
import graft.core.Codecs._
import graft.operators.BatchExecutor.SinkTable

/** The reference's live VisitAll (`partition_processor.go:625-716`):
  * visits interleave with normal processing on a RUNNING query, per-key
  * serial. Here: keys come from the query's own state store (statestore
  * data source on the live checkpoint), visit messages ride the same
  * source, and data arriving after the visit builds on visited state. */
class StreamVisitorSpec extends AnyFunSuite with SparkFixture with TempDirs {

  test("visitAll doubles counts mid-stream; later batches build on visited state") {
    import spark.implicits._
    val g = GroupGraph.define("vlive")(
      Input("in", StringCodec, ProcessCallback { (ctx, _) =>
        val c = ctx.value match { case null => 0L; case n: Long => n }
        ctx.setValue(c + 1L)
      }),
      VisitorEdge("double", ProcessCallback { (ctx, _) =>
        ctx.value match {
          case null => ()
          case n: Long => ctx.setValue(n * 2L)
        }
      }),
      Persist(Int64Codec))

    def msg(key: String, offset: Long): Message =
      Message(key, "x".getBytes("UTF-8"), "in", 0, offset,
        new Timestamp(offset * 1000), Map.empty)

    val staging = tempDir("graft_vlive_src").toString
    val ckpt = tempDir("graft_vlive_ckpt").toString
    spark.createDataset(Seq(msg("a", 1), msg("a", 2), msg("b", 3)))
      .coalesce(1).write.mode("append").parquet(staging)

    val stream = spark.readStream
      .schema(Encoders.product[Message].schema).parquet(staging).as[Message]
    val out = new StreamExecutor(g).run(spark, stream)
    val q = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cnt")
      .writeStream.format("memory").queryName("vlive")
      .outputMode("update").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable() // batch 1: a->2, b->1
      val n = StreamVisitor.visitLive(spark, g, ckpt, staging, "double")
      assert(n == 2) // both live keys scheduled
      q.processAllAvailable() // visit batch: a->4, b->2
      spark.createDataset(Seq(msg("a", 4)))
        .coalesce(1).write.mode("append").parquet(staging)
      q.processAllAvailable() // a->5 — new data builds on visited state
    } finally q.stop()
    val upserts = spark.table("vlive").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // per-key upsert sequence: a: 2 -> 4 -> 5, b: 1 -> 2
    assert(upserts.toSet == Set(("a", 2L), ("a", 4L), ("a", 5L),
      ("b", 1L), ("b", 2L)))
    val finalCounts = upserts.groupBy(_._1).map { case (k, xs) =>
      k -> xs.map(_._2).max }
    assert(finalCounts == Map("a" -> 5L, "b" -> 2L))
  }

  test("visitLive fires through POST /actions on the web server") {
    import spark.implicits._
    val g = GroupGraph.define("vweb")(
      Input("in", StringCodec, ProcessCallback { (ctx, _) =>
        val c = ctx.value match { case null => 0L; case n: Long => n }
        ctx.setValue(c + 1L)
      }),
      VisitorEdge("double", ProcessCallback { (ctx, _) =>
        ctx.value match {
          case null => ()
          case n: Long => ctx.setValue(n * 2L)
        }
      }),
      Persist(Int64Codec))

    def msg(key: String, offset: Long): Message =
      Message(key, "x".getBytes("UTF-8"), "in", 0, offset,
        new Timestamp(offset * 1000), Map.empty)

    val staging = tempDir("graft_vweb_src").toString
    val ckpt = tempDir("graft_vweb_ckpt").toString
    spark.createDataset(Seq(msg("a", 1), msg("a", 2), msg("b", 3)))
      .coalesce(1).write.mode("append").parquet(staging)

    val stream = spark.readStream
      .schema(Encoders.product[Message].schema).parquet(staging).as[Message]
    val out = new StreamExecutor(g).run(spark, stream)
    val q = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cnt")
      .writeStream.format("memory").queryName("vweb")
      .outputMode("update").option("checkpointLocation", ckpt).start()
    // The deployment wiring of the reference's web actions server
    // (actions.go:10-22): the canonical action IS a live visitor.
    val server = new graft.web.WebServer()
      .registerAction("visit-all",
        meta => StreamVisitor.visitLive(spark, g, ckpt, staging, "double", meta))
    val port = server.start()
    try {
      q.processAllAvailable() // a->2, b->1
      val url = new java.net.URI(
        s"http://127.0.0.1:$port/actions/visit-all").toURL
      val conn = url.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write("null".getBytes("UTF-8"))
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(conn.getResponseCode == 200)
      assert(body == """{"action":"visit-all","result":2}""")
      q.processAllAvailable() // visit batch lands: a->4, b->2
    } finally { server.stop(); q.stop() }
    val finalCounts = spark.table("vweb").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).max }
    assert(finalCounts == Map("a" -> 4L, "b" -> 2L))
  }
}
