package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}
import graft.core._
import graft.core.Codecs._
import graft.operators.BatchExecutor.SinkTable

class StreamExecutorSpec extends AnyFunSuite with SparkFixture with TempDirs {

  private def counterGraph = GroupGraph.define("scount")(
    Input("in", StringCodec, ProcessCallback { (ctx, _) =>
      val c = ctx.value match { case null => 0L; case n: Long => n }
      ctx.setValue(c + 1L)
    }),
    Persist(Int64Codec))

  private def msg(key: String, value: String, offset: Long): Message =
    Message(key, value.getBytes("UTF-8"), "in", 0, offset,
      new Timestamp(offset * 1000), Map.empty)

  test("state carries across micro-batches; changelog upserts per batch") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Message]
    val out = new StreamExecutor(counterGraph).run(spark, ms.toDS())
    val q = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value)))
      .toDF("key", "cnt")
      .writeStream.format("memory").queryName("sspec1")
      .outputMode("update").start()
    try {
      ms.addData(msg("a", "1", 1), msg("a", "2", 2), msg("b", "3", 3))
      q.processAllAvailable()
      ms.addData(msg("a", "4", 4))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sspec1").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // batch1: a->2, b->1; batch2: a->3
    assert(rows.toSet == Set(("a", 2L), ("b", 1L), ("a", 3L)))
  }

  test("tombstones remove streaming state") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val g = GroupGraph.define("stomb")(
      Input("in", StringCodec, ProcessCallback { (c, m) =>
        if (m == "DEL") c.delete() else c.setValue(m)
      }),
      Persist(StringCodec))
    val ms = MemoryStream[Message]
    val out = new StreamExecutor(g).run(spark, ms.toDS())
    val q = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Option(e.value).map(new String(_, "UTF-8"))))
      .toDF("key", "v")
      .writeStream.format("memory").queryName("sspec2")
      .outputMode("update").start()
    try {
      ms.addData(msg("k", "v1", 1)); q.processAllAvailable()
      ms.addData(msg("k", "DEL", 2)); q.processAllAvailable()
      ms.addData(msg("k", "v2", 3)); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sspec2").collect()
      .map(r => (r.getString(0), Option(r.getString(1))))
    assert(rows.toSeq.sortBy(_._2.getOrElse("")) ==
      Seq(("k", None), ("k", Some("v1")), ("k", Some("v2"))))
  }

  test("loop edge is rejected in streaming mode") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val g = GroupGraph.define("sloop")(
      Input("in", StringCodec, ProcessCallback { (c, m) => c.loopback("x", m) }),
      Loop(StringCodec, ProcessCallback { (_, _) => () }))
    val ms = MemoryStream[Message]
    assertThrows[IllegalArgumentException] {
      new StreamExecutor(g).run(spark, ms.toDS())
    }
  }

  test("join table updates consumed as changelog refresh mid-stream") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val g = GroupGraph.define("sjoin")(
      Input("in", StringCodec, ProcessCallback { (c, _) =>
        val seg = c.join("seg") match { case null => "-"; case s => s.toString }
        val cur = c.value match { case null => ""; case s: String => s }
        c.setValue(cur + seg)
      }),
      Join("seg", StringCodec),
      Persist(StringCodec))
    def seg(key: String, value: String, offset: Long): Message =
      Message(key, if (value == null) null else value.getBytes("UTF-8"),
        "seg", 0, offset, new Timestamp(offset * 1000), Map.empty)
    val ms = MemoryStream[Message]
    val out = new StreamExecutor(g).run(spark, ms.toDS(),
      joinSnapshots = Map("seg" -> Map("k" -> "A".getBytes("UTF-8"))))
    val q = out.filter(_.sink == SinkTable)
      .map(e => (e.key, new String(e.value, "UTF-8"))).toDF("key", "v")
      .writeStream.format("memory").queryName("sspecj")
      .outputMode("update").start()
    try {
      // batch 1: snapshot value A gates msg@1; update to B at ts 2
      // gates msg@3 within the SAME batch (ts-interleaved, not barrier)
      ms.addData(msg("k", "m1", 1), seg("k", "B", 2), msg("k", "m2", 3))
      q.processAllAvailable()
      // batch 2: B persisted in keyed state, no seg rows at all
      ms.addData(msg("k", "m3", 4))
      q.processAllAvailable()
      // batch 3: tombstone then message -> join reads null
      ms.addData(seg("k", null, 5), msg("k", "m4", 6))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("sspecj").collect()
      .map(r => (r.getString(0), r.getString(1))).last
    assert(last == (("k", "ABB-")))
  }

  test("initial state seeds the keyed store (recover-from-table-topic)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val seed = spark.createDataset(Seq(
      TableRow("a", Int64Codec.encode(10L)),
      TableRow("gone", null))) // tombstone in the compacted table: no row
    val ms = MemoryStream[Message]
    val out = new StreamExecutor(counterGraph).run(spark, ms.toDS(),
      initialState = Some(seed))
    val q = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cnt")
      .writeStream.format("memory").queryName("sspec_init")
      .outputMode("update").start()
    try {
      ms.addData(msg("a", "x", 1), msg("b", "y", 2))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sspec_init").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows == Map("a" -> 11L, "b" -> 1L)) // a continues from the seed
  }

  test("feedback loopback composes with join snapshots") {
    import spark.implicits._
    val g = GroupGraph.define("loopjoin")(
      Input("in", StringCodec, ProcessCallback { (c, m) =>
        c.loopback(c.key, m) // re-key through the feedback topic
      }),
      Loop(StringCodec, ProcessCallback { (c, _) =>
        val seg = c.join("seg") match { case null => "-"; case s => s.toString }
        c.setValue(seg)
      }),
      Join("seg", StringCodec),
      Persist(StringCodec))
    val staging = tempDir("graft_lj").toString
    val results = tempDir("graft_lj_out").toString
    spark.createDataset(Seq(
      msg("a", "x", 1), msg("b", "y", 2)))
      .write.mode("overwrite").parquet(staging)
    new StreamExecutor(g).runWithLoopback(spark, staging, results,
      joinSnapshots = Map("seg" -> Map("a" -> "SEG".getBytes("UTF-8"))))
    val table = spark.read.parquet(results)
      .where(org.apache.spark.sql.functions.col("sink") === SinkTable)
      .collect()
      .map(r => r.getAs[String]("key") ->
        new String(r.getAs[Array[Byte]]("value"), "UTF-8")).toMap
    assert(table == Map("a" -> "SEG", "b" -> "-"))
  }

  test("idle state expires past the configured TTL and re-seeds from null") {
    // TTL queries run under TimeMode.ProcessingTime, where the operator
    // requests a batch EVERY trigger to evaluate timers — a drain-based
    // wait (processAllAvailable / AvailableNow) never settles. That is
    // the production shape: a periodic trigger and an explicit stop; the
    // spec polls the sink instead of waiting for quiescence.
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.Trigger
    val staging = tempDir("graft_ttl_src").toString
    def feed(ms: Message*): Unit =
      spark.createDataset(ms).coalesce(1)
        .write.mode("append").parquet(staging)
    feed(msg("a", "1", 1), msg("a", "2", 2))
    val stream = spark.readStream
      .schema(Encoders.product[Message].schema).parquet(staging).as[Message]
    val out = new StreamExecutor(counterGraph,
      stateTtl = Some(java.time.Duration.ofMillis(300))).run(spark, stream)
    val q = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cnt")
      .writeStream.format("memory").queryName("sspec_ttl")
      .outputMode("update")
      .trigger(Trigger.ProcessingTime("500 milliseconds")).start()
    def pollFor(expect: (String, Long)): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!spark.table("sspec_ttl").collect()
          .exists(r => (r.getString(0), r.getLong(1)) == expect)) {
        assert(System.currentTimeMillis() < deadline,
          s"timed out waiting for $expect in sink")
        Thread.sleep(200)
      }
    }
    try {
      pollFor(("a", 2L))   // batch 1 lands: two messages counted
      Thread.sleep(1500)   // idle well past the 300ms TTL
      feed(msg("a", "3", 3))
      pollFor(("a", 1L))   // expired: the count re-seeds from null
    } finally q.stop()
    val rows = spark.table("sspec_ttl").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSet == Set(("a", 2L), ("a", 1L)))
  }

  test("streaming and batch executors agree on final state") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val work = (1 to 40).map(i => msg(s"k${i % 7}", s"v$i", i.toLong))
    val ms = MemoryStream[Message]
    val out = new StreamExecutor(counterGraph).run(spark, ms.toDS())
    val q = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cnt")
      .writeStream.format("memory").queryName("sspec3")
      .outputMode("update").start()
    try {
      work.grouped(13).foreach { batch =>
        ms.addData(batch); q.processAllAvailable()
      }
    } finally q.stop()
    val streamFinal = spark.table("sspec3").groupBy($"key")
      .agg(org.apache.spark.sql.functions.max($"cnt").as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batchRes = new graft.operators.BatchExecutor(counterGraph)
      .run(spark, Map("in" -> spark.createDataset(work)))
    val batchFinal = batchRes.table.collect()
      .map(r => (r.key, Int64Codec.decode(r.value))).toMap
    assert(streamFinal == batchFinal)
  }
}
