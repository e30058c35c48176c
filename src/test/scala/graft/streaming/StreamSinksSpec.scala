package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.core._
import graft.core.Codecs._
import graft.operators.BatchExecutor.SinkTable

class StreamSinksSpec extends AnyFunSuite with SparkFixture {

  test("one stateful query fans out to per-topic sinks + table dir") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val g = GroupGraph.define("fanout")(
      Input("in", StringCodec, ProcessCallback { (c, m) =>
        val cur = c.value match { case null => 0L; case n: Long => n }
        c.setValue(cur + 1L)
        if (m.toString.startsWith("e")) c.emit("evens", c.key, m)
        else c.emit("odds", c.key, m)
      }),
      Output("evens", StringCodec),
      Output("odds", StringCodec),
      Persist(Int64Codec))
    val dirE = java.nio.file.Files.createTempDirectory("graft_fo_e").toString
    val dirO = java.nio.file.Files.createTempDirectory("graft_fo_o").toString
    val dirT = java.nio.file.Files.createTempDirectory("graft_fo_t").toString
    val ms = MemoryStream[Message]
    val out = new StreamExecutor(g).run(spark, ms.toDS())
    val q = StreamSinks.routeOutputs(out,
      Map("evens" -> dirE, "odds" -> dirO),
      java.nio.file.Files.createTempDirectory("graft_fo_ckpt").toString,
      tableDir = Some(dirT))
    try {
      ms.addData(
        Message("a", "even1".getBytes("UTF-8"), "in", 0, 1, new Timestamp(1000), Map.empty),
        Message("a", "odd1".getBytes("UTF-8"), "in", 0, 2, new Timestamp(2000), Map.empty),
        Message("b", "even2".getBytes("UTF-8"), "in", 0, 3, new Timestamp(3000), Map.empty))
      q.processAllAvailable()
    } finally q.stop()
    val evens = spark.read.parquet(dirE).as[Message].collect()
      .map(m => (m.key, new String(m.value, "UTF-8"))).sorted
    val odds = spark.read.parquet(dirO).as[Message].collect()
      .map(m => (m.key, new String(m.value, "UTF-8"))).sorted
    assert(evens.toSeq == Seq(("a", "even1"), ("b", "even2")))
    assert(odds.toSeq == Seq(("a", "odd1")))
    assert(evens.forall(_ => true)) // topics routed disjointly
    val table = spark.read.parquet(dirT)
      .collect().map(r => (r.getAs[String]("key"),
        Int64Codec.decode(r.getAs[Array[Byte]]("value")))).toMap
    assert(table == Map("a" -> 2L, "b" -> 1L))
  }

  test("streaming topologies chain: query 1's output topic feeds query 2") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // graph 1: forward every message to topic "relay"
    val g1 = GroupGraph.define("upstream")(
      Input("in", StringCodec, ProcessCallback { (c, m) =>
        c.emit("relay", c.key, m)
      }),
      Output("relay", StringCodec))
    // graph 2: count relayed messages per key
    val g2 = GroupGraph.define("downstream")(
      Input("relay", StringCodec, ProcessCallback { (c, _) =>
        val n = c.value match { case null => 0L; case x: Long => x }
        c.setValue(n + 1L)
      }),
      Persist(Int64Codec))
    val relayDir = java.nio.file.Files.createTempDirectory("graft_relay").toString
    val ms = MemoryStream[Message]
    val q1 = StreamSinks.routeOutputs(
      new StreamExecutor(g1).run(spark, ms.toDS()),
      Map("relay" -> relayDir),
      java.nio.file.Files.createTempDirectory("graft_relay_ckpt").toString)
    val stream2 = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Message].schema)
      .parquet(relayDir).as[Message]
    val q2 = new StreamExecutor(g2).run(spark, stream2)
      .filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cnt")
      .writeStream.format("memory").queryName("chainspec")
      .outputMode("update").start()
    try {
      ms.addData(
        Message("a", "1".getBytes("UTF-8"), "in", 0, 1, new Timestamp(1000), Map.empty),
        Message("a", "2".getBytes("UTF-8"), "in", 0, 2, new Timestamp(2000), Map.empty))
      q1.processAllAvailable()
      q2.processAllAvailable()
      ms.addData(
        Message("b", "3".getBytes("UTF-8"), "in", 0, 3, new Timestamp(3000), Map.empty))
      q1.processAllAvailable()
      q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }
    val counts = spark.table("chainspec").groupBy($"key")
      .agg(org.apache.spark.sql.functions.max($"cnt").as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts == Map("a" -> 2L, "b" -> 1L))
  }
}
