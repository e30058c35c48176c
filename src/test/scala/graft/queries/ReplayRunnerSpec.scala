package graft.queries

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** The st queries' one lifecycle ([[StreamingQueries.withQueries]]):
  * every query that started is stopped on every path, errors are never
  * swallowed, and each stateful query starts with its staged topic's
  * shard count while the session keeps its own. */
class ReplayRunnerSpec extends AnyFunSuite with SparkFixture {
  import StreamingQueries.{drain, memorySink, parquetSink, withQueries}

  private val Shards = "spark.sql.shuffle.partitions"

  /** A query whose stop() fails; everything else is a no-op. */
  private def stopFails(msg: String): StreamingQuery =
    java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[StreamingQuery]), (_, m, _) =>
        if (m.getName == "stop") throw new IllegalStateException(msg)
        else null).asInstanceOf[StreamingQuery]

  test("a chain whose second start throws rethrows it and stops the first") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Int]
    val boom = new IllegalStateException("second start failed")
    val e = intercept[IllegalStateException] {
      withQueries(spark)(memorySink(ms.toDF(), "runner_spec_first", "append"),
        () => throw boom)(drain)
    }
    assert(e eq boom)
    assert(spark.catalog.tableExists("runner_spec_first")) // it did start
    assert(spark.streams.active.isEmpty)
  }

  test("a failing stop() is suppressed onto the first error, or thrown") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Int]
    val e = intercept[IllegalStateException] {
      withQueries(spark)(memorySink(ms.toDF(), "runner_spec_stop", "append"),
        () => stopFails("stop failed")) { _ =>
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("stop failed"))
    // the real query is stopped although the one stopped before it threw
    assert(spark.streams.active.isEmpty)
    val alone = intercept[IllegalStateException] {
      withQueries(spark)(() => stopFails("only stop failed"))(drain)
    }
    assert(alone.getMessage == "only stop failed")
  }

  test("a two-query MemoryStream chain drains both and leaves none active") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Int]
    ms.addData(1, 2, 3)
    val relay = java.nio.file.Files.createTempDirectory("runner_relay").toString
    val shardsBefore = spark.conf.get(Shards)
    try {
      withQueries(spark)(
        parquetSink(ms.toDF(), relay, "append", None)(identity),
        memorySink(spark.readStream.schema(StructType.fromDDL("value INT"))
          .parquet(relay), "runner_spec_chain", "append"))(drain)
      assert(spark.table("runner_spec_chain").as[Int].collect().sorted
        .toSeq == Seq(1, 2, 3))
      assert(spark.streams.active.isEmpty)
      assert(spark.conf.get(Shards) == shardsBefore)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(relay))
  }

  test("st01 and st07 start each stateful query with the topic's shards") {
    val sf = "/root/testdata/sf0.001"
    // Both replay topics are staged as two parquet files; the fixture
    // session's own count (4) differs, so an unbound start would show.
    val topicShards = 2
    assert(spark.conf.get(Shards) != topicShards.toString)
    Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, Int)](
      ("st01", StreamingQueries.streamCount, 1),
      ("st07", StreamingQueries.streamChained, 2)).foreach {
      case (name, query, nQueries) =>
        val shardsBefore = spark.conf.get(Shards)
        val seen = shardsByQuery(query(spark, sf).collect())
        assert(seen.size == nQueries, s"$name: $seen")
        assert(seen.values.forall(_ == Set(topicShards)), s"$name: $seen")
        assert(spark.conf.get(Shards) == shardsBefore, name)
    }
  }

  /** numShufflePartitions of every stateful progress event `body`'s
    * streaming queries report, by query run id. */
  private def shardsByQuery(body: => Unit): Map[String, Set[Long]] = {
    val shards = new ConcurrentHashMap[String, Set[Long]]()
    val started = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach { op =>
          shards.merge(e.progress.runId.toString, Set(op.numShufflePartitions),
            (a: Set[Long], b: Set[Long]) => a ++ b)
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.incrementAndGet()
    }
    spark.streams.addListener(listener)
    try {
      body
      // Listener events arrive asynchronously; a query's terminated
      // event follows all of its progress events.
      val deadline = System.nanoTime() + 60L * 1000000000L
      while ((started.get == 0 || ended.get < started.get) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(started.get > 0 && ended.get == started.get)
    } finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    shards.asScala.toMap
  }
}
