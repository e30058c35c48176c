package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources

/** The codec-boundary guarantee for the file source: `Sources.table`
  * normalizes `ts` to a session-TZ TIMESTAMP whatever physical encoding
  * the parquet writer chose — raw int64 (how a nanos TIMESTAMP arrives
  * under `nanosAsLong`), TIMESTAMP_NTZ(µs), or TIMESTAMP(µs) — and any
  * OTHER encoding fails loudly instead of computing garbage. Round 10
  * proved the stakes: the driver regenerated fixtures nanos→µs-NTZ and a
  * pinned raw schema silently compressed two years of events into ~17
  * hours (st02: 5 rows, all in 1970). This spec writes a tiny fixture in
  * each encoding in-test and requires one batch aggregation and one
  * streaming windowed aggregation to produce identical results on all
  * three. Reference analogue: goka normalizes payload bytes once at the
  * codec boundary (`/root/reference/codec/codec.go:4-7`), never
  * per-processor.
  */
class TimestampTypesSpec extends AnyFunSuite with SparkFixture with TempDirs {

  // 6 events: 3 on day 1, 2 on day 2, 1 on day 3 (epoch micros, UTC).
  private val day = 86400000000L
  private val rows = Seq(
    (1L, day + 1000000L, 10L, "view"),
    (2L, day + 2000000L, 10L, "click"),
    (3L, day + 3000000L, 11L, "view"),
    (4L, 2 * day + 1000000L, 11L, "view"),
    (5L, 2 * day + 2000000L, 12L, "buy"),
    (6L, 3 * day + 1000000L, 12L, "view"))

  /** Write the fixture with `ts` in the given physical shape and return
    * the directory usable as a `Sources.table` sfDir. */
  private def writeFixture(encoding: String): String = {
    val dir = tempDir(s"graft_tstypes_$encoding").toString
    import spark.implicits._
    val base = rows.toDF("event_id", "ts_us", "user_id", "event_type")
    val df = encoding match {
      // How parquet TIMESTAMP(NANOS) arrives under nanosAsLong=true:
      // Spark surfaces the raw int64 — so a plain long column named ts
      // exercises exactly that ingestion path (Spark itself cannot
      // write a NANOS-annotated column).
      case "nanos-long" => base.withColumn("ts", col("ts_us") * 1000L)
      case "ntz-us" =>
        base.withColumn("ts",
          timestamp_micros(col("ts_us")).cast(TimestampNTZType))
      case "ltz-us" =>
        base.withColumn("ts", timestamp_micros(col("ts_us")))
    }
    df.drop("ts_us").select("event_id", "ts", "user_id", "event_type")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def batchDaily(dir: String): Seq[(String, Long)] = {
    val ev = Sources.table(spark, dir, "events")
    assert(ev.schema("ts").dataType === TimestampType,
      s"normalized ts must be TIMESTAMP, got ${ev.schema("ts").dataType}")
    ev.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("day").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))
  }

  private def streamDaily(dir: String): Seq[(String, Long)] = {
    // Stage the NORMALIZED frame, then stream it — the production shape
    // (st02/st06): the file stream source never sees a raw physical ts.
    val ev = Sources.table(spark, dir, "events")
    val staged = tempDir("graft_tstypes_staged").toString
    ev.repartition(1).write.mode("overwrite").parquet(staged)
    val q = spark.readStream.schema(ev.schema)
      .parquet(staged)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("cnt"))
    val sink = s"tstypes_${System.nanoTime()}"
    val sq = q.writeStream.format("memory").queryName(sink)
      .outputMode("update").start()
    try { sq.processAllAvailable() } finally { sq.stop() }
    spark.table(sink).orderBy("day").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))
  }

  private val expected = Seq(
    ("1970-01-02", 3L), ("1970-01-03", 2L), ("1970-01-04", 1L))

  for (enc <- Seq("nanos-long", "ntz-us", "ltz-us")) {
    test(s"batch daily agg is identical under $enc encoding") {
      assert(batchDaily(writeFixture(enc)) === expected)
    }
    test(s"streaming daily window is identical under $enc encoding") {
      assert(streamDaily(writeFixture(enc)) === expected)
    }
  }

  test("an unsupported ts physical type fails loudly, not silently") {
    val dir = tempDir("graft_tstypes_bad").toString
    import spark.implicits._
    rows.toDF("event_id", "ts_us", "user_id", "event_type")
      .withColumn("ts", (col("ts_us") / 1000000L).cast("double"))
      .drop("ts_us")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] {
      Sources.table(spark, dir, "events")
    }
    assert(e.getMessage.contains("unsupported physical type"))
  }

  test("tables without a ts column pass through untouched") {
    val dir = writeFixture("ltz-us")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "name")
      .write.mode("overwrite").parquet(s"$dir/plain.parquet")
    val df = Sources.table(spark, dir, "plain")
    assert(df.schema.fieldNames.toSeq === Seq("id", "name"))
    assert(df.count() === 1L)
  }
}
