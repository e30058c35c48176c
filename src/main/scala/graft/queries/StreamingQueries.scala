package graft.queries

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, StructType}
import graft.ScratchDirs.{create => tempDir}
import graft.core._
import graft.core.Codecs._
import graft.operators.BatchExecutor.{Emitted, SinkTable, collectReplica}
import graft.sources.Sources
import graft.streaming.{FileLookups, LookupFile, StaticLookups,
  StreamExecutor, StreamSinks, StreamVisitor}

/** Structured Streaming queries, oracle-checked: the events fixture is
  * replayed through the file stream source, processed by the *streaming*
  * engine (keyed state / watermarked windows), and the materialized
  * result must hash-match the same DuckDB oracle as its batch twin —
  * proving the two executors implement identical semantics. */
/** State for [[StreamingQueries.streamDedup]]: first doc_id seen for a
  * fingerprint + how many carried it. Codec'd as 16 fixed bytes
  * ([[Codecs.twoLongs]]) — this en/decodes once per message in the hot
  * fold, where the earlier JSON struct codec was the measured cost
  * hot-spot. */
final case class DedupState(keep: Long, cnt: Long)

/** State for [[StreamingQueries.streamEce]]: per (source, bin, label)
  * key, the observation count and the accumulated milli-score mass —
  * the two sufficient statistics of a reliability-diagram cell. */
final case class EceState(n: Long, sum: Long)

/** State for [[StreamingQueries.streamedDailyAggregates]]: per
  * (type, day) key, the observation count and milli-value sum — the
  * sufficient statistics of the whole daily-series trend family
  * (Mann-Kendall, Theil-Sen, Kendall τ-b, Hodges-Lehmann). */
final case class DailyAggState(x: Long, y: Long)

/** State for [[StreamingQueries.streamNearDup]]'s collector: smallest
  * bucket-owner reported for the doc + messages folded (the monotone
  * counter that makes last-upsert-wins collapse possible). Fixed-width
  * binary codec for the same hot-fold reason as [[DedupState]]. */
final case class NearDupState(own: Long, n: Long)

/** State for [[StreamingQueries.streamDecontaminate]]: shingle messages
  * folded for the doc + how many hit the benchmark set. Fixed-width
  * binary codec ([[Codecs.twoLongs]]) like the other ingest folds. */
final case class DecontamState(n: Long, hits: Long)

/** State for [[StreamingQueries.streamCard]]'s fingerprint stage: how
  * many docs of this content hash have arrived, and which (lang,source)
  * cell the FIRST one belonged to — kept so the 1→2 transition can
  * credit the first owner's cell retroactively. JSON codec: the cell is
  * a string and this stage touches each doc once, not per-token. */
final case class CardFpState(cnt: Long, firstCell: String)

/** Buffering funnel state for [[StreamingQueries.streamFunnelUnordered]]
  * — the out-of-order-tolerant variant of [[FunnelState]]. Packed long
  * array `[nUpd, minView, nClicks, clicks…, purchases…]` (both lists
  * sorted ascending, distinct). The buffers are PRUNED, not complete
  * event logs: the final view threshold can only end at or below the
  * current min view, so among clicks above it only the FIRST can ever
  * be the min-qualifying click — everything later is dominated and
  * dropped; purchases prune the same way against the min qualifying
  * click. State is O(out-of-order straddlers) per key — O(1) for an
  * in-order stream, never O(events). nUpd makes each update strictly
  * greater, so the sink collapse is last-writer-wins via max_by. */
private[queries] object FunnelBuffer {
  val Empty: Array[Long] = Array(0L, 0L, 0L)

  def update(a: Array[Long], eventType: String, ts: Long): Array[Long] = {
    var v = a(1)
    val k = a(2).toInt
    var clicks = a.slice(3, 3 + k)
    var purchases = a.drop(3 + k)
    eventType match {
      case "view" => if (v == 0L || ts < v) v = ts
      case "click" => clicks = insert(clicks, ts)
      case "purchase" => purchases = insert(purchases, ts)
      case _ => ()
    }
    if (v != 0L) {
      clicks = keepThrough(clicks, v)
      val i = firstAbove(clicks, v)
      if (i < clicks.length) purchases = keepThrough(purchases, clicks(i))
    }
    Array(a(0) + 1L, v, clicks.length.toLong) ++ clicks ++ purchases
  }

  /** Resolve the chain exactly as q26 does: t1 = min view,
    * t2 = min click > t1, t3 = min purchase > t2 (0 = absent). */
  def resolve(a: Array[Long]): (Long, Long, Long) = {
    val v = a(1)
    val k = a(2).toInt
    val clicks = a.slice(3, 3 + k)
    val purchases = a.drop(3 + k)
    val t2 = if (v == 0L) 0L
      else { val i = firstAbove(clicks, v)
             if (i < clicks.length) clicks(i) else 0L }
    val t3 = if (t2 == 0L) 0L
      else { val i = firstAbove(purchases, t2)
             if (i < purchases.length) purchases(i) else 0L }
    (v, t2, t3)
  }

  private def insert(arr: Array[Long], ts: Long): Array[Long] = {
    val i = java.util.Arrays.binarySearch(arr, ts)
    if (i >= 0) arr
    else {
      val at = -i - 1
      val out = new Array[Long](arr.length + 1)
      System.arraycopy(arr, 0, out, 0, at)
      out(at) = ts
      System.arraycopy(arr, at, out, at + 1, arr.length - at)
      out
    }
  }
  private def firstAbove(arr: Array[Long], t: Long): Int = {
    var i = 0
    while (i < arr.length && arr(i) <= t) i += 1
    i
  }
  /** Everything ≤ t plus the single smallest element above it. */
  private def keepThrough(arr: Array[Long], t: Long): Array[Long] =
    arr.take(firstAbove(arr, t) + 1)
}

/** State for [[StreamingQueries.streamFunnel]]: the user's three funnel
  * step timestamps in µs (0 = step not reached). Monotone — each field
  * is set at most once and never unset, which is what makes the sink
  * collapse a plain max per field. Fixed-width 24-byte codec
  * ([[Codecs.threeLongs]]). */
final case class FunnelState(t1: Long, t2: Long, t3: Long)


object StreamingQueries {

  private val nameSeq = new AtomicInteger(0)

  /** Events staged once per (JVM, fixture dir) as 2 parquet files —
    * st01/st03 replay identical content; re-staging per query would just
    * re-run the same distributed write. st03 copies the files into its
    * own directory because the feedback loop appends to it. */
  private val stagedEventsCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def stagedEvents(spark: SparkSession, dir: String): String =
    stagedEventsCache.getOrElseUpdate(dir, {
      val staged = tempDir("graft_stream_src")
      Sources.eventMessages(spark, dir).repartition(2)
        .write.mode("overwrite").parquet(staged)
      staged
    })

  private def copyParquetFiles(from: String, to: String): Unit =
    new java.io.File(from).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(to, f.getName))
      }

  // ---------------------------------------------------------------- //
  //  The replay runner: one topic source, one sink per shape, one     //
  //  start/drain/stop path for every st query.                        //
  // ---------------------------------------------------------------- //

  /** A streaming query not started yet: a sink bound to its input. */
  private[queries] type Start = () => StreamingQuery

  private val MessageSchema = Encoders.product[Message].schema
  private val ShardsKey = "spark.sql.shuffle.partitions"

  /** Per session, its own shard count from before the first [[topic]]
    * binding that no [[withQueries]] has put back yet. */
  private val unboundShards = TrieMap.empty[SparkSession, String]

  /** A staged directory as a file stream source, one file per
    * micro-batch (file mtimes order the batches, see [[stageFile]]).
    * Only `*.parquet` files are messages: st05 keeps its lookup file
    * beside them. The stateless lake replays (st51-st53) read through
    * it directly: no state store, so no shard binding. */
  private def fileSource(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.parquet")
      .parquet(dir)

  /** The staged topic `staging` as a stream source, with the session's
    * state-shard count bound to the topic's partition count: the
    * reference's shards-follow-topic-partitions rule
    * (`partition_processor.go:60-72`: one partition processor, hence
    * one state store, per TOPIC partition, never per worker). A staged
    * directory models one topic and its parquet files are its
    * partitions; the floor of 2 keeps a single-file replay from
    * collapsing the fold to one task. Spark instead sizes stateful
    * operators by `spark.sql.shuffle.partitions` (= cores here), which
    * over-shards small topics: every micro-batch pays one RocksDB
    * load + commit + changelog upload per shard (measured: st01 20.0 s
    * at 32 shards vs 5.0 s at 8, identical results and cores). The
    * value in force at `.start()` fixes a query's shard count, so the
    * binding happens here, after staging; [[withQueries]] puts the
    * session's own value back, so batch queries keep theirs. */
  private def topic(spark: SparkSession, staging: String,
      schema: StructType): DataFrame = {
    bindShards(spark, staging)
    fileSource(spark, staging, schema)
  }

  private def bindShards(spark: SparkSession, staging: String): Unit = {
    val ls = new java.io.File(staging).listFiles()
    val files = if (ls == null) 0 else ls.count(_.getName.endsWith(".parquet"))
    unboundShards.putIfAbsent(spark, spark.conf.get(ShardsKey))
    spark.conf.set(ShardsKey, math.max(2, files).toString)
  }

  /** [[topic]] over staged [[Message]]s. */
  private def messageTopic(spark: SparkSession,
      staging: String): Dataset[Message] =
    topic(spark, staging, MessageSchema).as(Encoders.product[Message])

  /** A relay topic that an upstream query of the same chain writes: no
    * batch cap (each batch takes what the upstream has written so far)
    * and no binding (the chain keeps its source topic's shard count). */
  private def relayTopic(spark: SparkSession, dir: String): Dataset[Message] =
    spark.readStream.schema(MessageSchema).parquet(dir)
      .as(Encoders.product[Message])

  // Sinks, one per shape; each is a Start for withQueries to run.

  /** An in-memory table named `name` — in update mode the changelog of
    * upserts, in append mode each row once. */
  private[queries] def memorySink(df: DataFrame, name: String,
      mode: String): Start =
    () => df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()

  /** `each(batch, batchId)` consumes every micro-batch — usually by
    * appending it to a parquet table ([[parquetSink]]), the recoverable
    * sink a deployment uses. With `ckpt` the query can restart from
    * that checkpoint; without, Spark keeps a temporary one and deletes
    * it on stop. */
  private def batchSink(df: DataFrame, mode: String,
      ckpt: Option[String])(each: (DataFrame, Long) => Unit): Start = () => {
    val w = df.writeStream.outputMode(mode)
    ckpt.fold(w)(w.option("checkpointLocation", _))
      .foreachBatch { (b: Dataset[Row], id: Long) => each(b, id) }
      .start()
  }

  /** [[batchSink]] appending `f` of each micro-batch to parquet `dir`. */
  private[queries] def parquetSink(df: DataFrame, dir: String, mode: String,
      ckpt: Option[String])(f: DataFrame => DataFrame): Start =
    batchSink(df, mode, ckpt)((b, _) => f(b).write.mode("append").parquet(dir))

  /** The exactly-once parquet file sink, partitioned by `partitionCol`:
    * its `_spark_metadata` commit log hides a half-written batch from
    * readers of `path`. */
  private def fileSink(df: DataFrame, path: String, ckpt: String,
      partitionCol: String): Start =
    () => df.writeStream.format("parquet").option("path", path)
      .option("checkpointLocation", ckpt).partitionBy(partitionCol).start()

  /** [[StreamSinks.routeOutputs]]: each output topic to its own
    * directory (a chain's relays), the table changelog to `tableDir`;
    * checkpointed in a dir deleted at JVM exit. */
  private def routed(out: Dataset[Emitted],
      dirByTopic: Map[String, String], tableDir: Option[String]): Start =
    () => StreamSinks.routeOutputs(out, dirByTopic,
      tempDir("graft_sinks_ckpt"), tableDir)

  /** The one lifecycle of every st query, goka's `Cleanup` discipline
    * (`processor.go:720-749`: a group stops all its partition
    * processors, whichever one failed): start `starts` in order, run
    * `body` over the started queries (usually [[drain]]), then stop
    * every query that started, in reverse order, on every path. The
    * first error is rethrown and a failing `stop()` is added to it as
    * suppressed. Last, the shard count [[topic]] bound is put back. */
  private[queries] def withQueries[T](spark: SparkSession)(starts: Start*)(
      body: Seq[StreamingQuery] => T): T = {
    val started = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    var first: Throwable = null
    def fail(t: Throwable): Unit =
      if (first == null) first = t else first.addSuppressed(t)
    val result =
      try { starts.foreach(s => started += s()); Some(body(started.toSeq)) }
      catch { case t: Throwable => fail(t); None }
    try started.reverseIterator.foreach { q =>
      try q.stop() catch { case t: Throwable => fail(t) }
    } finally unboundShards.remove(spark).foreach(spark.conf.set(ShardsKey, _))
    if (first != null) throw first
    result.get
  }

  /** The usual [[withQueries]] body: drain each query in start order,
    * so a chain's upstream query has written all of its relay output
    * before the consumer drains it. */
  private[queries] def drain(queries: Seq[StreamingQuery]): Unit =
    queries.foreach(_.processAllAvailable())

  /** Drain `upstream` and then `df` into a memory table ([[memorySink]])
    * and return it. The returned DataFrame is resolved before the
    * table's view is dropped, so it holds the sink's rows itself and
    * they go when it does; the view would hold every upsert row for the
    * session's life. Not a checkpoint: [[sharedIngest]] keeps some of
    * these results across queries, and a harness may unpersist every
    * block between queries. */
  private def runToTable(spark: SparkSession, df: DataFrame, mode: String,
      upstream: Start*): DataFrame = {
    val name = s"stream_result_${nameSeq.incrementAndGet()}"
    try {
      withQueries(spark)(upstream :+ memorySink(df, name, mode): _*)(drain)
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }

  /** Write one dataset as a single parquet file `staging/<name>` with a
    * chosen modification time — the file stream source picks files
    * oldest-mtime-first, so mtimes define micro-batch order.
    *
    * repartition(1), NOT coalesce(1): coalesce propagates the one-task
    * constraint through the WHOLE upstream plan (for st04 that meant
    * the events scan + union + flag aggregation all ran single-task,
    * twice), while repartition shuffles only the already-computed rows
    * into the one output file and keeps the computation parallel. */
  private def stageFile[T](ds: Dataset[T], staging: String, name: String,
      mtime: Long): Unit = {
    val tmp = tempDir("graft_stage")
    ds.repartition(1).write.mode("overwrite").parquet(tmp)
    val src = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = java.nio.file.Paths.get(staging, name)
    java.nio.file.Files.move(src.toPath, dst)
    dst.toFile.setLastModified(mtime)
    ()
  }

  /** Split messages into two micro-batch files at the median timestamp
    * (micros, integer midpoint of min/max) — early rows in `earlyDir` as
    * `b1.parquet`, late rows in `lateDir` as `b2.parquet`. Returns the
    * split point so oracles can reproduce the same classification with
    * `epoch_us(ts) <= mid`. */
  private def stageSplit(spark: SparkSession, all: Dataset[Message],
      earlyDir: String, lateDir: String,
      midOpt: Option[Long] = None): Long = {
    // The message set feeds three actions (the split-point agg + two
    // staged writes); persist so the upstream plan — which for st04/st05
    // includes a union and an aggregation — computes once, not thrice.
    all.persist()
    try {
      // midOpt: a caller that already computed the midpoint (because
      // its message KEY depends on it, e.g. the half bit of the
      // valueCounts family) passes it in rather than paying the agg
      // twice; the ts column is the same, so the values agree.
      val mid = midOpt.getOrElse(all.agg(
        unix_micros(min(col("timestamp"))).as("mn"),
        unix_micros(max(col("timestamp"))).as("mx"))
        .select(expr("(mn + mx) div 2").as("mid")).head().getLong(0))
      val now = System.currentTimeMillis()
      stageFile(all.filter(unix_micros(col("timestamp")) <= mid),
        earlyDir, "b1.parquet", now - 120000)
      stageFile(all.filter(unix_micros(col("timestamp")) > mid),
        lateDir, "b2.parquet", now - 60000)
      mid
    } finally { all.unpersist(blocking = false); () }
  }

  private def stageTwoBatches(spark: SparkSession, all: Dataset[Message],
      staging: String, midOpt: Option[Long] = None): Long =
    stageSplit(spark, all, staging, staging, midOpt)

  /** Time-split staging of the DEFAULT event messages, cached per
    * (JVM, fixture dir) like [[stagedEvents]]: st13-style replays that
    * only READ the staged topic (no feedback appends, no custom value
    * column) all replay identical content, so re-staging per query
    * would just repeat the same two distributed writes. Queries that
    * stage a transformed value (st22's tier) or append (st03) keep
    * their own directories. */
  private val stagedSplitCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def stagedEventsSplit(spark: SparkSession, dir: String): String =
    stagedSplitCache.getOrElseUpdate(dir, {
      val staged = tempDir("graft_stream_split")
      stageTwoBatches(spark, Sources.eventMessages(spark, dir), staged)
      staged
    })

  /** Count-per-key through the streaming executor (keyed state store).
    * Fed in TWO micro-batches so state genuinely carries across batches
    * — the result still matches the single DuckDB GROUP BY.
    *
    * The fixture is staged (distributed write, once) as two parquet
    * files and streamed back with `maxFilesPerTrigger=1` — the classic
    * files-arriving-in-a-directory incremental ingest. No driver-side
    * collect/MemoryStream: that would serialize the whole fixture into
    * one task binary, a non-starter at real scale. */
  def streamCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-counter")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val cur = ctx.value match { case null => 0L; case n: Long => n }
        ctx.setValue(cur + 1L)
      }),
      Persist(Int64Codec))
    val staged = stagedEvents(spark, dir)
    val stream = messageTopic(spark, staged)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cnt")
    // update-mode memory sink appends upserts; latest per key wins.
    // cnt only grows, so max(cnt) == last upsert.
    runToTable(spark, table, "update")
      .groupBy(col("key")).agg(max(col("cnt")).as("cnt"))
  }

  /** Streaming ingest-time exact dedup — d01's online twin and the point
    * where the goka machinery meets the curation pipeline: documents
    * arrive as a keyed stream (key = content fingerprint, value =
    * doc_id), and per-fingerprint state keeps the FIRST doc seen plus an
    * occurrence count. In goka terms it is the simplest keyed fold, with
    * a fixed-width binary struct codec so the per-message en/decode is
    * allocation-cheap; at 100 TB it is dedup-on-ingest — no global
    * batch re-scan, state sharded by fingerprint across the cluster.
    *
    * Messages are timestamped by doc_id (ingest order) and split into
    * two micro-batches at the median, so "first seen" must survive in
    * the state store across batches; within a batch the executor applies
    * rows in timestamp order. First-seen therefore equals min(doc_id)
    * and the result hash-matches d01's batch oracle. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val codec = Codecs.twoLongs[DedupState](s => (s.keep, s.cnt))(DedupState.apply)
    val graph = GroupGraph.define("stream-dedup")(
      Input("docs", Int64Codec, ProcessCallback { (ctx, msg) =>
        val id = msg.asInstanceOf[Long]
        ctx.value match {
          case null => ctx.setValue(DedupState(id, 1L))
          case s: DedupState => ctx.setValue(DedupState(s.keep, s.cnt + 1L))
        }
      }),
      Persist(codec))
    val msgs = Sources.messages(Sources.table(spark, dir, "documents"),
      "docs", md5(col("text")), col("doc_id"),
      expr("timestamp_micros(doc_id)"), col("doc_id"))
    val staging = tempDir("graft_stream_dedup")
    stageTwoBatches(spark, msgs, staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map { e =>
        val s = codec.decode(e.value); (e.key, s.keep, s.cnt)
      }.toDF("fp", "keep_id", "cnt")
    // cnt grows strictly per fp, so the max-cnt row IS the last upsert;
    // take keep_id from it (last-upsert-wins) rather than min() over all
    // upserts — if keyed state were lost between micro-batches, batch 2
    // would re-seed keep with its own first doc_id and the final upsert
    // would carry it, so this collapse genuinely exercises first-seen
    // state carry where a min() could mask the regression.
    runToTable(spark, table, "update").groupBy(col("fp"))
      .agg(max_by(col("keep_id"), col("cnt")).as("keep_id"),
        max(col("cnt")).as("cnt"))
  }

  /** Streaming ingest-time NEAR-dup detection — d02's online twin and
    * st08's harder sibling: exact dedup keys the stream by one content
    * fingerprint, but near-dup needs a doc to match on ANY of its LSH
    * bucket memberships. The classic streaming decomposition is a
    * two-processor topology (the st07 relay shape):
    *
    *  1. `bucket-owner`: input keyed by LSH bucket `(band, sig)` — one
    *     message per (doc, band) from the map-only [[graft.ops.Dedup
    *     .minhashBands]] kernel; per-bucket state = first doc seen
    *     (the owner); every message emits `(doc → owner)` onto the
    *     `owners` topic.
    *  2. `neardup-collect`: input keyed by doc; folds the min owner
    *     over the doc's band messages. min(owner) < doc_id ⇔ some
    *     bucket had an earlier member ⇔ LSH candidate — the same
    *     verdict d02's banded self-join reaches in batch.
    *
    * At 100 TB this is dedup-on-ingest for near-dups: state is sharded
    * by bucket across the cluster, no global re-scan, and the per-doc
    * fan-out is `bands` messages (4), constant. Messages are
    * timestamped by doc_id and split into two micro-batches at the
    * median, so bucket ownership established in batch 1 must gate
    * batch-2 docs from the state store; within a batch the executor
    * folds in timestamp order, so first-seen = min(doc_id) and the
    * result matches the batch oracle. The collector's `n` counter only
    * grows, so max_by(own, n) keeps the LAST upsert per doc — a state
    * regression that re-seeded `own` mid-stream would surface, not be
    * masked by a min() collapse. */
  def streamNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bucketGraph = GroupGraph.define("bucket-owner")(
      Input("buckets", Int64Codec, ProcessCallback { (ctx, msg) =>
        val id = msg.asInstanceOf[Long]
        val owner = ctx.value match {
          case null => ctx.setValue(id); id
          case o: Long => o
        }
        ctx.emit("owners", id.toString, owner)
      }),
      Persist(Int64Codec),
      Output("owners", Int64Codec))
    val codec = Codecs.twoLongs[NearDupState](s => (s.own, s.n))(NearDupState.apply)
    val collectGraph = GroupGraph.define("neardup-collect")(
      Input("owners", Int64Codec, ProcessCallback { (ctx, msg) =>
        val o = msg.asInstanceOf[Long]
        ctx.value match {
          case null => ctx.setValue(NearDupState(o, 1L))
          case s: NearDupState =>
            ctx.setValue(NearDupState(math.min(s.own, o), s.n + 1L))
        }
      }),
      Persist(codec))
    val banded = graft.ops.Dedup.minhashBands(
      Sources.table(spark, dir, "documents"), col("text"), col("doc_id"))
    val msgs = Sources.messages(banded, "buckets",
      concat_ws("|", col("band"), col("sig")), col("doc_id"),
      expr("timestamp_micros(doc_id)"), col("doc_id"))
    val staging = tempDir("graft_stream_neardup")
    val relayDir = tempDir("graft_stream_neardup_relay")
    stageTwoBatches(spark, msgs, staging)
    val owners = routed(new StreamExecutor(bucketGraph)
      .run(spark, messageTopic(spark, staging)),
      Map("owners" -> relayDir), None)
    val table = new StreamExecutor(collectGraph)
      .run(spark, relayTopic(spark, relayDir))
      .filter(_.sink == SinkTable)
      .map { e =>
        val s = codec.decode(e.value); (e.key, s.own, s.n)
      }.toDF("doc_key", "own", "n")
    runToTable(spark, table, "update", owners).groupBy(col("doc_key"))
      .agg(max_by(col("own"), col("n")).as("own"))
      .select(col("doc_key").cast("long").as("doc_id"),
        when(col("own") < col("doc_key").cast("long"), col("own"))
          .as("dup_of"),
        (col("own") < col("doc_key").cast("long")).as("dup"))
  }

  /** Streaming ingest-time DECONTAMINATION — d09's online twin and the
    * third ingest-gate of the streaming curation story (exact dedup
    * st08, near-dup st10, eval-overlap here): training documents arrive
    * as a shingle stream (key = doc, one message per DISTINCT 3-gram
    * shingle from the map-only [[graft.ops.Dedup.nativeShingles]]
    * kernel), and each shingle is checked against the held-out
    * benchmark's shingle set served as a goka LOOKUP table — the
    * replicated view (`/root/reference/view.go:30-48`), which is the
    * right table kind here exactly as in batch d09: eval suites are
    * KBs-to-MBs by contract, so every executor holds the full replica
    * and the check is a map-side probe, never a shuffle.
    *
    * Per-doc state folds (n_shingles, n_shared) as two longs; messages
    * are timestamped by doc_id and split into two micro-batches at the
    * median, so counts genuinely accumulate across batches in the state
    * store. `n` grows monotonically, so max/max_by collapse the
    * update-mode upserts to the final row, and the result hash-matches
    * d09's batch oracle (same distinct-shingle multiplicity, same
    * 0.5 threshold).
    *
    * At 100 TB: state is sharded by doc, the bench replica is static
    * and bounded, per-doc fan-out = the doc's distinct shingle count —
    * the same per-message cost the reference's lookup processors pay
    * (`examples/3-messaging`'s translator), and no batch re-scan of the
    * corpus is ever needed to admit a new document. */
  def streamDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val codec = Codecs.twoLongs[DecontamState](s => (s.n, s.hits))(DecontamState.apply)
    val graph = GroupGraph.define("stream-decontam")(
      Input("shingles", StringCodec, ProcessCallback { (ctx, msg) =>
        val hit =
          if (ctx.lookup("bench", msg.asInstanceOf[String]) != null) 1L else 0L
        ctx.value match {
          case null => ctx.setValue(DecontamState(1L, hit))
          case s: DecontamState =>
            ctx.setValue(DecontamState(s.n + 1L, s.hits + hit))
        }
      }),
      Lookup("bench", StringCodec),
      Persist(codec))
    val docs = Sources.table(spark, dir, "documents")
    // The replicated eval-set view: distinct src0 shingles → full
    // replica, the lookup-table contract (bounded by the eval suite's
    // size, not the corpus's).
    val benchSet = collectReplica("bench",
      docs.filter(col("source") === "src0")
        .select(explode(
          graft.ops.Dedup.nativeShingles(docs, col("text"), 3)).as("s"))
        .distinct().as[String])
      .map(s => s -> StringCodec.encode("1")).toMap
    val trainShingles = docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode(
        graft.ops.Dedup.nativeShingles(docs, col("text"), 3)).as("s"))
    val msgs = Sources.messages(trainShingles, "shingles", col("doc_id"),
      col("s"), expr("timestamp_micros(doc_id)"), col("doc_id"))
    val staging = tempDir("graft_stream_decontam")
    stageTwoBatches(spark, msgs, staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream,
      StaticLookups(Map("bench" -> benchSet)))
    val table = out.filter(_.sink == SinkTable)
      .map { e =>
        val s = codec.decode(e.value); (e.key, s.n, s.hits)
      }.toDF("doc_key", "n", "hits")
    runToTable(spark, table, "update").groupBy(col("doc_key"))
      .agg(max(col("n")).as("n_shingles"),
        max_by(col("hits"), col("n")).as("n_shared"))
      .select(col("doc_key").cast("long").as("doc_id"),
        col("n_shingles"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_shingles").cast("double"))
          .as("contam_ratio"))
      .withColumn("contaminated", col("contam_ratio") >= 0.5)
  }

  /** Streaming INGEST-TIME CURATION — the three ingest gates composed
    * as one live topology, the capstone of the streaming curation story
    * (st08 exact dedup, st10 near-dup, st11 decontamination were each
    * proven alone; a real training-data ingest runs them as a chain):
    *
    *  1. **Quality gate** (stateless): arriving documents are filtered
    *     by the SAME Catalyst expression the batch gate table uses
    *     ([[graft.ops.TextAnalysis.gopherKeep]]) — a map-only predicate
    *     on the stream, then re-keyed by content fingerprint
    *     (`md5(text)`) streaming-side: the map→re-key stage every
    *     keyed-ingest topology starts with.
    *  2. **`curate-dedup`** (keyed state): per-fingerprint first-seen
    *     fold (st08's graph) — and the DECISION HAPPENS AT INGEST: the
    *     first document of a fingerprint is admitted the moment it
    *     arrives (`ctx.emit` onto the `kept` topic, carrying the text);
    *     later duplicates only bump the count. No batch re-scan ever
    *     readmits or revokes a document.
    *  3. **`curate-decontam`** (keyed state + replicated lookup):
    *     admitted documents explode into their distinct 3-gram shingles
    *     (stateless, the native kernel) and fold (n, hits) against the
    *     held-out benchmark's shingle set served as a goka lookup table
    *     — st11's graph, now fed by the dedup stage's live output
    *     instead of a staged corpus.
    *
    * Result: per surviving (gated, first-of-fingerprint) document, its
    * decontamination verdict — which must hash-match the BATCH
    * composition of the same three operators in DuckDB (gates → min
    * doc_id per md5 → d09 arithmetic). Two micro-batches per stage, so
    * fingerprint ownership and shingle counts both carry across batch
    * boundaries in the state store.
    *
    * At 100 TB: gate is a scan predicate, dedup state shards by
    * fingerprint, decontam state by doc, the bench replica is bounded
    * by the eval suite — every stage is the proven st08/st11 shape and
    * the chain adds no new shuffle beyond the two keyed exchanges. */
  def streamCurate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dedupCodec =
      Codecs.twoLongs[DedupState](s => (s.keep, s.cnt))(DedupState.apply)
    val dedupGraph = GroupGraph.define("curate-dedup")(
      Input("gated", StringCodec, ProcessCallback { (ctx, msg) =>
        ctx.value match {
          case null =>
            // offset carries the doc_id (staged below) — admit NOW
            ctx.setValue(DedupState(ctx.offset, 1L))
            ctx.emit("kept", ctx.offset.toString, msg.asInstanceOf[String])
          case s: DedupState => ctx.setValue(DedupState(s.keep, s.cnt + 1L))
        }
      }),
      Persist(dedupCodec),
      Output("kept", StringCodec))
    val decontamCodec =
      Codecs.twoLongs[DecontamState](s => (s.n, s.hits))(DecontamState.apply)
    val decontamGraph = GroupGraph.define("curate-decontam")(
      Input("shingles", StringCodec, ProcessCallback { (ctx, msg) =>
        val hit =
          if (ctx.lookup("bench", msg.asInstanceOf[String]) != null) 1L else 0L
        ctx.value match {
          case null => ctx.setValue(DecontamState(1L, hit))
          case s: DecontamState =>
            ctx.setValue(DecontamState(s.n + 1L, s.hits + hit))
        }
      }),
      Lookup("bench", StringCodec),
      Persist(decontamCodec))

    val docs = Sources.table(spark, dir, "documents")
    val benchSet = collectReplica("bench",
      docs.filter(col("source") === "src0")
        .select(explode(
          graft.ops.Dedup.nativeShingles(docs, col("text"), 3)).as("s"))
        .distinct().as[String])
      .map(s => s -> StringCodec.encode("1")).toMap
    val train = docs.filter(col("source") =!= "src0")
    val msgs = Sources.messages(train, "docs", col("doc_id"), col("text"),
      expr("timestamp_micros(doc_id)"), col("doc_id"))
    val staging = tempDir("graft_stream_curate")
    val relayDir = tempDir("graft_stream_curate_relay")
    stageTwoBatches(spark, msgs, staging)

    // Stage 1+2: stateless gate + re-key by fingerprint, then the keyed
    // first-seen fold; admitted docs relay onto the `kept` topic.
    val gated = messageTopic(spark, staging).toDF()
      .withColumn("text", col("value").cast("string"))
      // minStopHits = 1: fixture calibration, see PipelineQueries.gopher
      .where(graft.ops.TextAnalysis.gopherKeep(col("text"), minStopHits = 1))
      .select(md5(col("text")).as("key"), col("value"),
        lit("gated").as("topic"), col("partition"), col("offset"),
        col("timestamp"), col("headers"))
      .as[Message]
    val kept = routed(new StreamExecutor(dedupGraph).run(spark, gated),
      Map("kept" -> relayDir), None)

    // Stage 3: admitted docs explode into distinct shingle messages
    // (stateless, native kernel), then the lookup-probe fold.
    val shingleDf = relayTopic(spark, relayDir).toDF()
      .withColumn("text", col("value").cast("string"))
    val shingleMsgs = shingleDf
      .select(col("key"), col("offset"), col("timestamp"),
        explode(graft.ops.Dedup.nativeShingles(
          shingleDf, col("text"), 3)).as("s"))
      .select(col("key"), col("s").cast("string").cast("binary").as("value"),
        lit("shingles").as("topic"), lit(0).as("partition"), col("offset"),
        col("timestamp"),
        typedLit(Map.empty[String, Array[Byte]]).as("headers"))
      .as[Message]
    val table = new StreamExecutor(decontamGraph)
      .run(spark, shingleMsgs, StaticLookups(Map("bench" -> benchSet)))
      .filter(_.sink == SinkTable)
      .map { e =>
        val s = decontamCodec.decode(e.value); (e.key, s.n, s.hits)
      }.toDF("doc_key", "n", "hits")
    runToTable(spark, table, "update", kept).groupBy(col("doc_key"))
      .agg(max(col("n")).as("n_shingles"),
        max_by(col("hits"), col("n")).as("n_shared"))
      .select(col("doc_key").cast("long").as("doc_id"),
        col("n_shingles"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_shingles").cast("double"))
          .as("contam_ratio"))
      .withColumn("contaminated", col("contam_ratio") >= 0.5)
  }

  /** Untimed once-per-JVM warmup of the loopback serving path, for the
    * bench harness: a ~200-row SYNTHETIC stream (spark.range keys, no
    * fixture data — this must never pre-compute any timed query's
    * answer) through [[StreamExecutor.runWithLoopback]]. The memory-
    * sink machinery is charged to the harness's untimed st01 warmup,
    * but the loopback path exercises DIFFERENT one-time machinery —
    * foreachBatch codegen, the parquet append sink's committer
    * classes, cleanSource deletion, feedback re-staging — which st03
    * otherwise absorbs into its timed window alone (measured at
    * sf0.1: first loopback run 12.8 s vs 5.8 s steady, with
    * pre-start 2.7 s vs 0.16 s and outside-batches 3.6 s vs 0.4 s —
    * all class-init/codegen, none of it st03's data). Same rationale,
    * same boundary as the existing warmups: per-JVM costs land in
    * warmup, per-query data costs stay timed. */
  private val loopbackWarmed = new java.util.concurrent.atomic.AtomicBoolean
  def warmLoopbackMachinery(spark: SparkSession): Unit =
    if (loopbackWarmed.compareAndSet(false, true)) {
      import spark.implicits._
      val staging = tempDir("graft_warm_loop")
      val results = tempDir("graft_warm_loop_out")
      val msgs = spark.range(200).map { i =>
        Message(i.toString, Array[Byte]('x'), "events", 0, i,
          new java.sql.Timestamp(i + 1L), Map.empty[String, Array[Byte]])
      }
      msgs.repartition(2).write.mode("overwrite").parquet(staging)
      // Same path as st03 itself, so the warmed machinery (per-shard
      // store instances included) matches the timed one.
      runPingpong(spark, staging, results)
    }

  /** The pingpong graph through [[StreamExecutor.runWithLoopback]],
    * which starts, drains and stops its own query; the shards follow
    * the staged topic's partitions like every [[topic]] source's, and
    * the feedback topic inherits them (reference graph.go:476-483: the
    * loop topic is group-private with the group's partition count). */
  private def runPingpong(spark: SparkSession, staging: String,
      results: String): Unit =
    withQueries(spark)() { _ =>
      bindShards(spark, staging)
      new StreamExecutor(GokaQueries.pingpongGraph)
        .runWithLoopback(spark, staging, results)
    }

  /** Streaming loopback through a real feedback topic: the same
    * pingpong graph as batch g06, but `@loop` rows round-trip through
    * the staged source directory (the streaming analogue of producing to
    * `<group>-loop`, `/root/reference/graph.go:476-483`) and are
    * consumed by trailing micro-batches of the SAME query. Must
    * hash-match g06's oracle — proving the feedback path preserves the
    * fixpoint semantics. */
  def streamLoopback(spark: SparkSession, dir: String): DataFrame = {
    val staging = tempDir("graft_stream_loop")
    val results = tempDir("graft_stream_loop_out")
    copyParquetFiles(stagedEvents(spark, dir), staging)
    runPingpong(spark, staging, results)
    // Update-mode upserts accumulate in resultDir; cnt only grows, so
    // max(cnt) == the final table row per key.
    spark.read.parquet(results)
      .where(col("sink") === SinkTable)
      .select(col("key"), expr("CAST(CAST(value AS STRING) AS BIGINT)").as("cnt"))
      .groupBy(col("key")).agg(max(col("cnt")).as("cnt"))
  }

  /** Stream joined against a table that MUTATES mid-stream: the `flags`
    * table (key → "on", set at the user's first purchase) is consumed as
    * a changelog alongside the events — the reference's
    * continuously-catching-up join table (`partition_table.go:119-126`),
    * NOT a lifetime-static snapshot. Events are counted only while the
    * key's flag reads "on"; rows are applied in (ts, table-before-stream)
    * order, so the result is the deterministic as-of semantics the
    * DuckDB oracle expresses — and the fixture is split into two
    * micro-batches at the median timestamp, so flags set in batch 1 must
    * survive in keyed state to gate batch-2 events. */
  def streamJoinRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("flagged")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        if (ctx.join("flags") == "on") {
          val cur = ctx.value match { case null => 0L; case n: Long => n }
          ctx.setValue(cur + 1L)
        }
      }),
      Join("flags", StringCodec),
      Persist(Int64Codec))
    val ev = Sources.table(spark, dir, "events")
    val flagUpdates = Sources.messages(
      ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0")),
      "flags", col("user_id"), lit("on"), col("t0"), lit(0L))
    val all = Sources.eventMessages(spark, dir).unionByName(flagUpdates)
    // Split into two micro-batches at the median ts: batch 1 carries the
    // early flags, batch 2 the events they must keep gating.
    val staging = tempDir("graft_stream_join")
    stageTwoBatches(spark, all, staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cnt")
    runToTable(spark, table, "update")
      .groupBy(col("key")).agg(max(col("cnt")).as("cnt"))
  }

  /** Stream doing `ctx.lookup` against a table that MUTATES mid-stream —
    * the reference's forever-catching-up lookup view
    * (`/root/reference/partition_table.go:119-126`, view-per-processor
    * `processor.go:105-120`), e.g. the translator table of
    * `examples/3-messaging`. The `rates` table holds one row
    * (`multiplier`); v1 = 1 while the early half processes, then the
    * driver republishes v2 = 2 and only THEN reveals the late half (an
    * external publisher in production). [[FileLookups]] re-resolves the
    * snapshot when the batch id advances, so late events add 2 per event
    * — the DuckDB oracle reproduces the same classification from the
    * median-ts split. A lifetime-static broadcast (the pre-round-3
    * behavior) would hash-mismatch: every event would add 1.
    *
    * The sequencing is a hard barrier, not a timing assumption: the late
    * file sits in a pending dir OUTSIDE the source path until
    * `processAllAvailable()` has fully drained the early file under v1 —
    * a `foreachBatch(batchId == 0)` republish (the pre-round-4 shape)
    * intermittently fired around the wrong batch under full-run load.
    * [[FileLookups.recentResolutions]] records which snapshot each batch
    * actually resolved, so LookupsSpec can assert the v1→v2 handover. */
  def streamLookupRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("rated")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val rate = ctx.lookup("rates", "multiplier") match {
          case null => 0L; case n: Long => n
        }
        val cur = ctx.value match { case null => 0L; case n: Long => n }
        ctx.setValue(cur + rate)
      }),
      Lookup("rates", Int64Codec),
      Persist(Int64Codec))
    val staging = tempDir("graft_stream_lookup")
    val pending = tempDir("graft_stream_lookup_pending")
    stageSplit(spark, Sources.eventMessages(spark, dir), staging, pending)
    val ratesFile = java.nio.file.Paths
      .get(staging, "rates.lkp").toString
    LookupFile.write(ratesFile, Map("multiplier" -> Int64Codec.encode(1L)))
    val out = new StreamExecutor(graph).run(spark,
      messageTopic(spark, staging), FileLookups(Map("rates" -> ratesFile)))
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cnt")
    val resultDir = tempDir("graft_stream_lookup_out")
    val ckpt = tempDir("graft_stream_lookup_ckpt")
    withQueries(spark)(parquetSink(table, resultDir, "update", Some(ckpt))(
        identity)) { case Seq(q) =>
      q.processAllAvailable() // early half fully drained under v1
      LookupFile.write(ratesFile,
        Map("multiplier" -> Int64Codec.encode(2L)))
      copyParquetFiles(pending, staging) // reveal the late half
      q.processAllAvailable() // late half drained under v2
    }
    // cnt only grows; max(cnt) collapses update-mode upserts.
    spark.read.parquet(resultDir)
      .groupBy(col("key")).agg(max(col("cnt")).as("cnt"))
  }

  /** VisitAll against a LIVE streaming query, oracle-checked — the
    * reference's experimental live visitor
    * (`/root/reference/partition_processor.go:625-716`), where visits
    * interleave with message processing on a running processor. The
    * early half of the events processes into per-key counts; then
    * [[StreamVisitor.visitLive]] enumerates the query's OWN state store
    * (statestore data source on the live checkpoint — no stop-the-world)
    * and injects one `@visit:double` message per live key, doubling its
    * count in the next micro-batch; then the late half is revealed and
    * builds on the visited state. Final table: cnt = 2·early + late per
    * key — exactly the oracle's median-split arithmetic, with keys that
    * first appear late getting no doubling (they were not in the state
    * when the visit ran). The pending-dir barrier makes the sequencing
    * deterministic, as in st05. */
  def streamVisitor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("visited")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val cur = ctx.value match { case null => 0L; case n: Long => n }
        ctx.setValue(cur + 1L)
      }),
      VisitorEdge("double", ProcessCallback { (ctx, _) =>
        ctx.value match {
          case null => (); case n: Long => ctx.setValue(n * 2L)
        }
      }),
      Persist(Int64Codec))
    val staging = tempDir("graft_stream_visit")
    val pending = tempDir("graft_stream_visit_pending")
    stageSplit(spark, Sources.eventMessages(spark, dir), staging, pending)
    val table = new StreamExecutor(graph)
      .run(spark, messageTopic(spark, staging))
      .filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cnt")
    val resultDir = tempDir("graft_stream_visit_out")
    val ckpt = tempDir("graft_stream_visit_ckpt")
    withQueries(spark)(parquetSink(table, resultDir, "update", Some(ckpt))(
        identity)) { case Seq(q) =>
      q.processAllAvailable() // early half → per-key counts
      StreamVisitor.visitLive(spark, graph, ckpt, staging, "double")
      q.processAllAvailable() // visit batch doubles every live key
      copyParquetFiles(pending, staging) // reveal the late half
      q.processAllAvailable() // late events build on visited state
    }
    // per-key upserts only grow (doubling + increments): max = final.
    spark.read.parquet(resultDir)
      .groupBy(col("key")).agg(max(col("cnt")).as("cnt"))
  }

  /** Chained STREAMING topologies — g16's twin and the reference's
    * flagship deployment shape (`examples/3-messaging`): the detector
    * query counts per-user traffic and emits a block command every 10th
    * event; its `blocks` output topic (a parquet relay directory here,
    * the `blocks` Kafka topic in production) is consumed by a SECOND
    * live streaming query, the blocker, folding into its own table.
    * Both queries run keyed state through [[StreamExecutor]]; events are
    * split into two micro-batches, so detector counts carry across
    * batches AND the relay grows incrementally while the blocker is
    * already running — the hop is stream-to-stream, not batch handoff.
    * Must hash-match g16's oracle. */
  def streamChained(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staging = stagedEventsSplit(spark, dir)
    val relayDir = tempDir("graft_stream_chain_relay")
    val detector = routed(new StreamExecutor(GokaQueries.detectorGraph)
      .run(spark, messageTopic(spark, staging)),
      Map("blocks" -> relayDir), None)
    val table = new StreamExecutor(GokaQueries.blockerGraph)
      .run(spark, relayTopic(spark, relayDir))
      .filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "n_blocks")
    // n_blocks only grows; max collapses update-mode upserts.
    runToTable(spark, table, "update", detector).groupBy(col("key"))
      .agg(max(col("n_blocks")).as("n_blocks"))
  }

  /** Streaming session windows — q17's twin through
    * `session_window` + watermark in APPEND mode (the only mode Spark
    * allows for session aggregates): a window is emitted exactly once,
    * when the watermark passes its close. The fixture is split at the
    * median ts, so sessions spanning the split must MERGE across
    * micro-batches inside the state store. TWO far-future sentinel
    * events (user_id -1, +2 and +4 days) in trailing micro-batches
    * advance the watermark past every real session's end: the watermark
    * from batch N's data only takes effect in batch N+1, so sentinel #2
    * makes batch 4 a real data batch that deterministically flushes all
    * real sessions — relying on the trailing no-data micro-batch instead
    * races with `processAllAvailable()` (observed: the max-ts session
    * intermittently unemitted). Sentinel sessions themselves are never
    * closed and are filtered out. Hash-matches q17's batch oracle. */
  def streamSession(spark: SparkSession, dir: String): DataFrame = {
    // Staged from the normalized Sources.table path (ts = TIMESTAMP,
    // whatever the fixture's physical encoding) — never a pinned raw
    // schema, which silently corrupts when the writer changes.
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir("graft_stream_sess")
    val Array(mnUs, mxUs) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val midUs = mnUs / 2 + mxUs / 2
    val now = System.currentTimeMillis()
    stageFile(ev.filter(unix_micros(col("ts")) <= midUs), staging,
      "b1.parquet", now - 180000)
    stageFile(ev.filter(unix_micros(col("ts")) > midUs), staging,
      "b2.parquet", now - 120000)
    def sentinel(days: Long) = ev.sparkSession.range(1).select(
      lit(-1L).as("event_id"),
      timestamp_micros(lit(mxUs + days * 24 * 3600 * 1000000L)).as("ts"),
      lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
      lit(0.0).as("value"), lit("{}").as("props"))
    stageFile(sentinel(2), staging, "b3.parquet", now - 60000)
    stageFile(sentinel(4), staging, "b4.parquet", now - 30000)
    val sessions = topic(spark, staging, ev.schema)
      .withWatermark("ts", "1 second")
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id").cast("string").as("key"),
        unix_micros(col("session_window.start")).as("session_start"),
        col("cnt"))
    // The sentinel user is filtered AFTER materialization: a filter on
    // the grouping column inside the streaming plan gets pushed below
    // the watermark node by the optimizer, silently dropping the
    // sentinel rows before they can advance the watermark (observed:
    // rows=0 per sentinel batch, final session never flushed).
    runToTable(spark, sessions, "append")
      .filter(col("key") =!= "-1")
  }

  /** Watermarked event-time tumbling window (daily) over the stream,
    * fed in TWO micro-batches split at the median ts (time-ordered, so
    * the 1-hour watermark never drops a batch-2 row). Windows straddling
    * the split are upserted twice by the update-mode sink; `max_by(·,
    * cnt)` keeps each window's LAST upsert (cnt grows monotonically), so
    * the result is multi-batch-safe instead of silently relying on the
    * whole fixture landing in one trigger.
    *
    * Streams the fixture parquet through the file source — no driver-side
    * collect / MemoryStream (which serializes the whole fixture into one
    * task binary and breaks whole-stage codegen); scans stay parallel and
    * the same pipeline swaps to `readStream.format("kafka")` unchanged. */
  def streamTumble(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // Staged from the normalized Sources.table path (ts = TIMESTAMP,
    // whatever the fixture's physical encoding) — never a pinned raw
    // schema, which silently corrupts when the writer changes.
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir("graft_stream_tumble")
    val Array(mnUs, mxUs) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val midUs = (mnUs + mxUs) / 2
    val now = System.currentTimeMillis()
    stageFile(ev.filter(unix_micros(col("ts")) <= midUs), staging,
      "b1.parquet", now - 120000)
    stageFile(ev.filter(unix_micros(col("ts")) > midUs), staging,
      "b2.parquet", now - 60000)
    val windowed = topic(spark, staging, ev.schema)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double")
          .as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("cnt"), col("total_value"))
    runToTable(spark, windowed, "update")
      .groupBy(col("day"), col("event_type"))
      .agg(max(col("cnt")).as("cnt"),
        max_by(col("total_value"), col("cnt")).as("total_value"))
  }

  /** Streaming funnel — q26's online twin and the most goka-shaped
    * construct in the suite: a per-user keyed state machine advancing
    * view → click → purchase at ingest time, exactly the per-user
    * processor the reference's examples build
    * (`/root/reference/examples/1-simplest/main.go:28-42`).
    *
    * Event-time ordering makes the one-pass fold equal q26's
    * min-chaining: per key, each micro-batch is sorted by (ts, offset)
    * by the fold kernel, and the staged batches split at the median
    * timestamp, so every user's events are processed in ts order. The
    * first view then sets t1 = min view ts; the first click with
    * ts > t1 IS the min click after t1 (any earlier click was already
    * processed and failed the guard); likewise purchase. Equal-ts
    * events can't advance a step in either engine (strict >), whatever
    * their offset order.
    *
    * At 100 TB this is the reference's own deployment shape: state
    * sharded by user across the cluster, one 24-byte row per user,
    * O(1) work per event, no rescans. The sink collapse is per-field
    * max — valid because the state machine is monotone (fields set
    * once, never unset). */
  def streamFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val codec = Codecs.threeLongs[FunnelState](
      s => (s.t1, s.t2, s.t3))(FunnelState.apply)
    val graph = GroupGraph.define("stream-funnel")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val ts = graft.operators.BatchExecutor.tsMicros(ctx.timestamp)
        val s = ctx.value match {
          case null => FunnelState(0L, 0L, 0L)
          case st: FunnelState => st
        }
        val next = msg.asInstanceOf[String] match {
          case "view" if s.t1 == 0L => s.copy(t1 = ts)
          case "click" if s.t1 != 0L && s.t2 == 0L && ts > s.t1 =>
            s.copy(t2 = ts)
          case "purchase" if s.t2 != 0L && s.t3 == 0L && ts > s.t2 =>
            s.copy(t3 = ts)
          case _ => s
        }
        if (next != s) ctx.setValue(next)
      }),
      Persist(codec))
    // NOT the shared hash-split stagedEvents: the fold is order-
    // sensitive across batches, so the split must be BY TIME (early
    // batch ≤ median ts < late batch) for per-key ts order to hold
    // globally — hash-split staging loses 3 purchases at sf0.01.
    val staging = stagedEventsSplit(spark, dir)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable).map { e =>
      val s = codec.decode(e.value); (e.key, s.t1, s.t2, s.t3)
    }.toDF("user_id", "t1", "t2", "t3")
    runToTable(spark, table, "update").groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
        max(col("t3")).as("t3"))
      .agg(count(when(col("t1") > 0, 1)).as("u1"),
        count(when(col("t2") > 0, 1)).as("u2"),
        count(when(col("t3") > 0, 1)).as("u3"))
      .select(expr(
        """stack(3, 'step1_view', u1, 'step2_click', u2,
                    'step3_purchase', u3) AS (step, users)"""))
  }

  /** Out-of-order-tolerant streaming funnel — q26's oracle under
    * HASH-split staging, the delivery order [[streamFunnel]] cannot
    * survive (its comment documents losing 3 purchases at sf0.01 on
    * this exact staging). Instead of fixing chain steps at first
    * sight, per-user state BUFFERS the minimal evidence
    * ([[FunnelBuffer]]: min view + the dominance-pruned click/purchase
    * straddler lists) and the chain resolves at emission — the gap
    * between goka parity (arrival-order folds, no cross-topic
    * guarantees) and what an event-time engine should actually
    * promise. The buffers stay O(straddlers), not O(events): an
    * in-order prefix collapses to the same 24 bytes st13 carries.
    * Unlike the monotone st13 state, buffered state can shrink, so
    * the sink collapse is last-writer-wins (max_by on the strictly
    * increasing update counter), and the q26 min-chain runs
    * declaratively on the resolved (t1, clicks, purchases) row. */
  def streamFunnelUnordered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-funnel-ooo")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val ts = graft.operators.BatchExecutor.tsMicros(ctx.timestamp)
        val prev = ctx.value match {
          case null => FunnelBuffer.Empty
          case a: Array[Long] => a
        }
        ctx.setValue(FunnelBuffer.update(prev, msg.asInstanceOf[String], ts))
      }),
      Persist(Codecs.LongArrayCodec))
    // The shared hash-split staging st13 must avoid: each user's
    // events land in BOTH files, so the second micro-batch delivers
    // events that precede already-processed ones.
    val staged = stagedEvents(spark, dir)
    val stream = messageTopic(spark, staged)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable).map { e =>
      val a = Codecs.LongArrayCodec.decode(e.value)
      val (t1, t2, t3) = FunnelBuffer.resolve(a)
      (e.key, a(0), t1, t2, t3)
    }.toDF("user_id", "n", "t1", "t2", "t3")
    runToTable(spark, table, "update").groupBy(col("user_id"))
      .agg(max_by(struct(col("t1"), col("t2"), col("t3")), col("n")).as("s"))
      .agg(count(when(col("s.t1") > 0, 1)).as("u1"),
        count(when(col("s.t2") > 0, 1)).as("u2"),
        count(when(col("s.t3") > 0, 1)).as("u3"))
      .select(expr(
        """stack(3, 'step1_view', u1, 'step2_click', u2,
                    'step3_purchase', u3) AS (step, users)"""))
  }

  /** Streaming sliding event-time aggregates — q28's online twin and
    * the thing goka users hand-roll in every monitoring processor: per
    * user, the trailing-hour event count + exact sum AT each event,
    * emitted as the event is ingested. State is a time-pruned deque of
    * (ts_us, value_µ) pairs packed as a raw long array
    * ([[Codecs.LongArrayCodec]] — no per-element framing); each event
    * evicts expired pairs, appends itself, and emits (n, Σ) to the
    * output topic — O(window) work and state per key, the classic
    * stream-processor shape.
    *
    * Exactness: values are scaled to integers through the SAME
    * DECIMAL(18,6) rounding the batch plan uses, summed exactly as
    * longs, divided once by 10^6 at the edge (IEEE divide = correctly
    * rounded = the decimal→double cast both engines make). The frame
    * [ts-1h, ts] matches q28's RANGE frame; with ts-ordered ingest and
    * no same-user µs ties in the fixture (checked at every SF), the
    * per-event emission IS the batch frame row — so st15 shares q28's
    * oracle verbatim. Each event emits exactly once (no upsert
    * collapse needed — the output topic is append-shaped). */
  def streamSlidingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val windowUs = 3600L * 1000000L
    val graph = GroupGraph.define("stream-sliding")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val parts = msg.asInstanceOf[String].split('|')
        val ts = graft.operators.BatchExecutor.tsMicros(ctx.timestamp)
        val prev = ctx.value match {
          case null => Array.empty[Long]
          case a: Array[Long] => a
        }
        val cutoff = ts - windowUs
        val kept = prev.grouped(2).filter(p => p(0) >= cutoff)
          .flatten.toArray
        val next = kept :+ ts :+ parts(1).toLong
        ctx.setValue(next)
        var sum = 0L; var i = 1
        while (i < next.length) { sum += next(i); i += 2 }
        ctx.emit("winstats", parts(0), s"${next.length / 2}|$sum")
      }),
      Persist(Codecs.LongArrayCodec), Output("winstats", StringCodec))
    // value carried as "event_id|value_micros" with the batch plan's
    // exact DECIMAL(18,6) rounding applied before staging
    val msgs = Sources.messages(Sources.table(spark, dir, "events"),
      "events", col("user_id"),
      concat_ws("|", col("event_id"),
        (col("value").cast(DecimalType(18, 6)) * lit(1000000))
          .cast("long")),
      col("ts"), col("event_id"))
    val staging = tempDir("graft_stream_sliding")
    stageTwoBatches(spark, msgs, staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == "winstats").map { e =>
      val parts = new String(e.value, "UTF-8").split('|')
      (e.key.toLong, parts(0).toLong, parts(1).toLong)
    }.toDF("event_id", "n_hour", "sum_micros")
    runToTable(spark, table, "update")
      .select(col("event_id"), col("n_hour"),
        (col("sum_micros").cast("double") / lit(1000000.0)).as("sum_hour"))
  }

  /** Streaming retention cohorts — q27's online twin. Per-user state is
    * a variable-length long array ([[Codecs.LongArrayCodec]]):
    * `[cohortDay, off1, off2, ...]` — the cohort week (Monday epoch-day
    * of the FIRST event, fixed once under ts-ordered ingest like
    * [[streamFunnel]]) followed by the DISTINCT active week offsets in
    * increasing order. Unlike a fixed bitmask there is no horizon cap:
    * a user active 64+ weeks after its cohort week stays byte-exact
    * with the q27 batch oracle. Ts-ordered ingest makes offsets arrive
    * non-decreasing, so the state only ever APPENDS — an append with an
    * equal prefix is lexicographically greater, so the array is
    * monotone and the sink collapse is a plain per-key max. A regressing
    * offset (out-of-order delivery) fails loudly instead of corrupting
    * state. O(active-weeks) bytes per user; the (cohort, offset) rollup
    * happens on the collapsed user-level table — never on the event
    * stream. */
  def streamRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val codec = Codecs.LongArrayCodec
    // epoch day 0 = Thursday; Monday-of-week = d - ((d + 3) mod 7)
    def mondayOf(tsMicros: Long): Long = {
      val d = Math.floorDiv(tsMicros, 86400000000L)
      d - Math.floorMod(d + 3, 7)
    }
    val graph = GroupGraph.define("stream-retention")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val wk = mondayOf(
          graft.operators.BatchExecutor.tsMicros(ctx.timestamp))
        ctx.value match {
          case null => ctx.setValue(Array(wk, 0L))
          case a: Array[Long] =>
            val off = (wk - a(0)) / 7
            val last = a(a.length - 1)
            if (off < last) throw new IllegalStateException(
              s"stream-retention: out-of-order event for key ${ctx.key} " +
                s"(week offset $off after $last) — this fold requires " +
                "ts-ordered ingest per key")
            if (off > last) ctx.setValue(a :+ off)
        }
      }),
      Persist(codec))
    val staging = stagedEventsSplit(spark, dir)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable).map { e =>
      (e.key, codec.decode(e.value))
    }.toDF("user_id", "state")
    runToTable(spark, table, "update").groupBy(col("user_id"))
      .agg(max(col("state")).as("state"))
      .select(element_at(col("state"), 1).as("cohort_day"),
        explode(expr("slice(state, 2, size(state) - 1)")).as("off"))
      .groupBy(
        date_format(date_add(lit(java.sql.Date.valueOf("1970-01-01")),
          col("cohort_day").cast("int")), "yyyy-MM-dd").as("cohort_week"),
        col("off").as("week_offset"))
      .agg(count(lit(1)).as("active_users"))
  }

  /** st19: streaming dataset card — c04's online twin: the corpus
    * report maintained AT INGEST instead of recomputed by a batch
    * sweep. The interesting part is dup attribution, which in batch is
    * a window over the content-hash partition: online, a doc is not
    * known to be a duplicate when it arrives — the verdict lands when
    * its SECOND copy shows up. Stage 1 (keyed by fingerprint) stores
    * the first owner's (lang, source) cell in state; on the 1→2
    * transition it credits BOTH cells (the retroactive credit for the
    * first copy, the immediate one for the second), and each later
    * copy credits its own cell — every member of an m-copy group gets
    * exactly one credit, so per-cell totals are delivery-order-free.
    * Stage 2 (keyed by cell) folds arrival metrics (docs, tokens,
    * chars, gate passes) and dup credits into five monotone counters;
    * every message adds exactly 1 to nDocs+dupDocs, so the sink
    * collapse is max_by that total. Result hash-matches c04's batch
    * oracle. At 100 TB stage 1 shards by fingerprint, stage 2's state
    * is card-sized — the live dashboard form of the dataset card. */
  def streamCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fpCodec = Codecs.json[CardFpState]
    val fpGraph = GroupGraph.define("card-fps")(
      Input("docs", StringCodec, ProcessCallback { (ctx, msg) =>
        // value: lang|source|tokens|chars|keep
        val v = msg.asInstanceOf[String]
        val cell = v.substring(0, v.indexOf('|', v.indexOf('|') + 1))
        val rest = v.substring(cell.length + 1)
        ctx.value match {
          case null =>
            ctx.setValue(CardFpState(1L, cell))
            ctx.emit("arrivals", cell, rest)
          case s: CardFpState =>
            ctx.setValue(CardFpState(s.cnt + 1L, s.firstCell))
            ctx.emit("arrivals", cell, rest)
            if (s.cnt == 1L) ctx.emit("dups", s.firstCell, "1")
            ctx.emit("dups", cell, "1")
        }
      }),
      Persist(fpCodec),
      Output("arrivals", StringCodec), Output("dups", StringCodec))
    // state: [nDocs, tokens, chars, gatePass, dupDocs]
    val cellGraph = GroupGraph.define("card-cells")(
      Input("arrivals", StringCodec, ProcessCallback { (ctx, msg) =>
        val Array(tok, ch, keep) = msg.asInstanceOf[String].split('|')
        val a = ctx.value match {
          case null => Array(0L, 0L, 0L, 0L, 0L)
          case x: Array[Long] => x
        }
        ctx.setValue(Array(a(0) + 1L, a(1) + tok.toLong, a(2) + ch.toLong,
          a(3) + keep.toLong, a(4)))
      }),
      Input("dups", StringCodec, ProcessCallback { (ctx, _) =>
        val a = ctx.value match {
          case null => Array(0L, 0L, 0L, 0L, 0L)
          case x: Array[Long] => x
        }
        ctx.setValue(Array(a(0), a(1), a(2), a(3), a(4) + 1L))
      }),
      Persist(Codecs.LongArrayCodec))

    val d = Sources.table(spark, dir, "documents")
    val msgs = Sources.messages(d, "docs", md5(col("text")),
      concat_ws("|", col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long"),
        length(col("text")).cast("long"),
        graft.ops.TextAnalysis.gopherKeep(col("text"), minStopHits = 1)
          .cast("int")),
      expr("timestamp_micros(doc_id)"), col("doc_id"))
    val staging = tempDir("graft_stream_card")
    val relayA = tempDir("graft_stream_card_arrivals")
    val relayD = tempDir("graft_stream_card_dups")
    stageTwoBatches(spark, msgs, staging)

    val fps = routed(new StreamExecutor(fpGraph)
      .run(spark, messageTopic(spark, staging)),
      Map("arrivals" -> relayA, "dups" -> relayD), None)

    def relay(dirIn: String, topic: String) =
      relayTopic(spark, dirIn)
        .select(col("key"), col("value"), lit(topic).as("topic"),
          col("partition"), col("offset"), col("timestamp"), col("headers"))
    val both = relay(relayA, "arrivals").union(relay(relayD, "dups"))
      .as[Message]
    val table = new StreamExecutor(cellGraph).run(spark, both)
      .filter(_.sink == SinkTable)
      .map { e => (e.key, Codecs.LongArrayCodec.decode(e.value)) }
      .toDF("cell", "state")
    runToTable(spark, table, "update", fps).groupBy(col("cell"))
      .agg(max_by(col("state"),
        element_at(col("state"), 1) + element_at(col("state"), 5))
        .as("state"))
      .select(substring_index(col("cell"), "|", 1).as("lang"),
        substring_index(col("cell"), "|", -1).as("source"),
        element_at(col("state"), 1).as("n_docs"),
        element_at(col("state"), 2).as("total_tokens"),
        element_at(col("state"), 3).as("total_chars"),
        element_at(col("state"), 5).as("dup_docs"),
        element_at(col("state"), 4).as("gate_pass"))
      .withColumn("dup_rate",
        col("dup_docs").cast("double") / col("n_docs").cast("double"))
      .withColumn("pass_rate",
        col("gate_pass").cast("double") / col("n_docs").cast("double"))
  }

  /** st18: streaming KMV distinct-count sketch — t14's online twin.
    * The KMV invariant makes this the sketch that streams perfectly:
    * the k smallest DISTINCT hashes are maintainable in O(k) state
    * with NO memory of dropped hashes (a duplicate of a dropped hash
    * is ≥ the current k-th minimum, so it is re-dropped for free), and
    * insertion is commutative — no ordering constraint on delivery,
    * unlike st13/st14's ts-ordered folds.
    *
    * Topology, three chained live queries, each the scalable shape:
    *  1. **`kmv-words`** keyed by (stratum|word): streaming DISTINCT
    *     (st08's first-seen fold, state O(1) per key sharded by key —
    *     never a per-stratum word set in one state object); first
    *     occurrences relay onto `firstwords`.
    *  2. **`kmv-hashes`** keyed by (stratum|h32): the same fold over
    *     the 32-bit hashes (distinct words can collide), relaying
    *     first-seen hashes onto `firsthashes`.
    *  3. **`kmv-sketch`** keyed by stratum, consuming BOTH relay
    *     topics via per-topic Input edges (the multi-topic group,
    *     g03's streaming form): `firstwords` bumps the exact count,
    *     `firsthashes` bumps the hash count and inserts into the
    *     sorted O(k) minima array ([[Codecs.LongArrayCodec]],
    *     layout [nExact, nHashes, kmv…]).
    *
    * Every transition adds exactly 1 to nExact+nHashes, so the sink
    * collapse is max_by that monotone total; the estimate arithmetic
    * is t14's, and the result hash-matches t14's batch oracle. At
    * 100 TB stages 1-2 shard by (stratum, token) across the cluster
    * and stage 3's state is the k-row sketch per stratum — the
    * mergeable-sketch serving layer, maintained at ingest. */
  def streamKmv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 16
    def firstSeen(group: String, in: String, outT: String) =
      GroupGraph.define(group)(
        Input(in, StringCodec, ProcessCallback { (ctx, msg) =>
          if (ctx.value == null) {
            ctx.setValue(1L)
            ctx.emit(outT, ctx.key, msg.asInstanceOf[String])
          }
        }),
        Persist(Int64Codec), Output(outT, StringCodec))
    val sketchGraph = GroupGraph.define("kmv-sketch")(
      Input("firstwords", StringCodec, ProcessCallback { (ctx, _) =>
        ctx.value match {
          case null => ctx.setValue(Array(1L, 0L))
          case a: Array[Long] => ctx.setValue(Array(a(0) + 1L, a(1)) ++ a.drop(2))
        }
      }),
      Input("firsthashes", StringCodec, ProcessCallback { (ctx, msg) =>
        val hw = java.lang.Long.parseLong(msg.asInstanceOf[String])
        ctx.value match {
          case null => ctx.setValue(Array(0L, 1L, hw))
          case a: Array[Long] =>
            val arr = a.drop(2)
            // every arriving hash is DISTINCT (stage 2 guarantees it):
            // count unconditionally, keep the k smallest
            val kept =
              if (arr.length < k) (arr :+ hw).sorted
              else if (hw < arr(arr.length - 1))
                (arr.take(arr.length - 1) :+ hw).sorted
              else arr
            ctx.setValue(Array(a(0), a(1) + 1L) ++ kept)
        }
      }),
      Persist(Codecs.LongArrayCodec))

    val docs = Sources.table(spark, dir, "documents")
    val tokens = docs.select(col("lang"), col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .filter(col("w") =!= "")
    val msgs = Sources.messages(tokens, "tokens",
      concat_ws("|", col("lang"), col("w")), col("w"),
      expr("timestamp_micros(doc_id)"), col("doc_id"))
    val staging = tempDir("graft_stream_kmv")
    val relayW = tempDir("graft_stream_kmv_words")
    val relayH = tempDir("graft_stream_kmv_hashes")
    stageTwoBatches(spark, msgs, staging)

    val words = routed(
      new StreamExecutor(firstSeen("kmv-words", "tokens", "firstwords"))
        .run(spark, messageTopic(spark, staging)),
      Map("firstwords" -> relayW), None)

    // stateless re-key between stages: (stratum|word) → (stratum|h32)
    val words2 = relayTopic(spark, relayW)
    val stratum2 = substring_index(col("key"), "|", 1)
    val hw2 = graft.functions.Hashes.h32(col("value").cast("string"))
    val hashMsgs = words2
      .select(concat_ws("|", stratum2, hw2).as("key"),
        hw2.cast("string").cast("binary").as("value"),
        lit("hashes").as("topic"), col("partition"), col("offset"),
        col("timestamp"), col("headers"))
      .as[Message]
    val hashes = routed(
      new StreamExecutor(firstSeen("kmv-hashes", "hashes", "firsthashes"))
        .run(spark, hashMsgs),
      Map("firsthashes" -> relayH), None)

    // stage 3 consumes both relays, re-keyed to the bare stratum
    def rekeyed(dirIn: String, topic: String) =
      relayTopic(spark, dirIn)
        .select(substring_index(col("key"), "|", 1).as("key"), col("value"),
          lit(topic).as("topic"), col("partition"), col("offset"),
          col("timestamp"), col("headers"))
    val both = rekeyed(relayW, "firstwords")
      .union(rekeyed(relayH, "firsthashes")).as[Message]
    val table = new StreamExecutor(sketchGraph).run(spark, both)
      .filter(_.sink == SinkTable)
      .map { e => (e.key, Codecs.LongArrayCodec.decode(e.value)) }
      .toDF("stratum", "state")
    runToTable(spark, table, "update", words, hashes).groupBy(col("stratum"))
      .agg(max_by(col("state"),
        element_at(col("state"), 1) + element_at(col("state"), 2))
        .as("state"))
      .select(col("stratum"),
        element_at(col("state"), 1).as("n_exact"),
        element_at(col("state"), 2).as("n_hashes"),
        col("state"))
      .select(col("stratum"), col("n_exact"), col("n_hashes"),
        when(col("n_hashes") >= k, element_at(col("state"), 2 + k))
          .as("kth_hash"),
        when(col("n_hashes") >= k,
          lit((k - 1L) * 4294967296L).cast("double") /
            element_at(col("state"), 2 + k).cast("double"))
          .otherwise(col("n_exact").cast("double")).as("est_distinct"))
  }

  /** Checkpoint crash-recovery proof — the reference's core recovery
    * loop (`/root/reference/partition_table.go:98-167`: restore local
    * state from the changelog to the high-water mark, then resume
    * consuming) exercised for real, not just mapped onto "Spark
    * checkpointing". st01's count topology runs with an explicit
    * checkpoint over a staging dir that initially holds only the EARLY
    * half of the stream; that query is stopped cold and its object
    * discarded (the crash), the late half is delivered, and a
    * brand-new query — fresh plan, fresh StreamExecutor, same
    * checkpoint dir — drains the rest. File availability, not trigger
    * timing, places the crash point, so the replay is deterministic.
    * Counts are monotone, so the per-key max over the two phases'
    * update-mode sinks is the final table — and the shared st01
    * oracle convicts BOTH recovery failure modes: state lost across
    * the restart makes post-restart counts too LOW; source offsets
    * lost (the early half re-consumed) makes them too HIGH. */
  def streamRecover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-recover")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val cur = ctx.value match { case null => 0L; case n: Long => n }
        ctx.setValue(cur + 1L)
      }),
      Persist(Int64Codec))
    val staging = tempDir("graft_stream_recover")
    val lateDir = tempDir("graft_stream_recover_late")
    stageSplit(spark, Sources.eventMessages(spark, dir), staging, lateDir)
    val ckpt = tempDir("graft_stream_recover_ckpt")
    val resultDir = tempDir("graft_stream_recover_out") + "/table"
    // The memory sink refuses checkpoint recovery (it is not
    // fault-tolerant), so the upserts land in an append-parquet
    // foreachBatch sink — the recoverable sink shape a real
    // deployment uses, and the surviving record of BOTH phases.
    def phase(): Long = {
      val stream = messageTopic(spark, staging)
      val table = new StreamExecutor(graph).run(spark, stream)
        .filter(_.sink == SinkTable)
        .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cnt")
      withQueries(spark)(parquetSink(table, resultDir, "update", Some(ckpt))(
          identity)) { case Seq(q) =>
        q.processAllAvailable()
        q.recentProgress.iterator.map(_.numInputRows).sum
      }
    }
    val earlyRows = phase() // consumes the early half, then "crashes"
    copyParquetFiles(lateDir, staging)
    val lateRows = phase() // cold restart: fresh plan, same checkpoint
    // A query that silently started FRESH (discarded offsets + state)
    // would re-read the early file and still produce oracle-correct
    // totals — the oracle alone cannot convict that failure mode, but
    // the source progress counters can: the restarted query must have
    // consumed ONLY the late half.
    val total = spark.read.parquet(staging).count()
    require(earlyRows > 0 && earlyRows < total && lateRows == total - earlyRows,
      s"cold restart did not resume from the checkpoint: " +
        s"phase1=$earlyRows phase2=$lateRows staged=$total")
    spark.read.parquet(resultDir)
      .groupBy(col("key")).agg(max(col("cnt")).as("cnt"))
  }

  /** st20: native stream-STREAM event-time interval join — every view
    * paired with each purchase by the same user within the following
    * hour. Unlike st01-st19 (which route through the goka executor's
    * keyed state), this is Spark's own symmetric hash join: two
    * logical subscriptions of the staged topic, each watermarked, the
    * interval condition bounding both buffers so state is EVICTABLE —
    * the unbounded-buffer failure mode of an unconstrained
    * stream-stream join is structurally impossible here.
    *
    * Eviction-safety argument for the two-batch replay (delay = 2h,
    * interval = 1h, time-split at the median ts `mid`): after the
    * early batch the watermark is at most `mid − 2h`; a view is
    * evicted only once the watermark passes `ts_v + 1h`, i.e. views
    * with `ts_v < mid − 3h` — but purchases in the late batch (ts >
    * mid) only need views with `ts_v > mid − 1h`. No needed row is
    * ever evicted, so the append-mode result equals the batch join
    * bit-for-bit, which is exactly what the oracle checks. The staging
    * MUST be the time-split (not hash-split) layout for this bound to
    * hold — with random halves the first batch can carry the global
    * max timestamp and flush live state (st13's lesson, same cause).
    *
    * At 100 TB: state per side is bounded by (join window + delay) of
    * arrivals per user shard; the equi-key (`user_id`) shuffles both
    * streams to the same state shard, so matching is local and the
    * interval probe is an in-shard range lookup, never a cross-shard
    * broadcast. */
  /** st23: the MATERIALIZED VIEW maintained by Spark's native
    * streaming aggregation — q33's online face. q33 merges stored
    * partials with a delta batch; here the SAME algebraic partials
    * (count, exact decimal sum, min, max) live in the streaming
    * aggregation's keyed state and every micro-batch IS the delta
    * merge, update mode emitting the refreshed groups. No watermark by
    * design: an MV's groups never expire, and state is O(|groups|) —
    * group-sized, not stream-sized, which is why this is safe at
    * 100 TB where a per-event state would not be.
    *
    * Sink collapse exploits per-field monotonicity across upserts
    * (count/sum/max only grow — values are positive, min only falls),
    * so latest-state recovery is field-wise max/min, order-free.
    * avg derives from the final sum/count, exactly as q33 derives it
    * from merged partials. */
  def streamMv(spark: SparkSession, dir: String): DataFrame = {
    val staging = tempDir("graft_stream_mv")
    stageTwoBatches(spark,
      Sources.messages(Sources.table(spark, dir, "events"), "events",
        col("event_type"), col("value").cast("string"), col("ts"),
        col("event_id")),
      staging)
    val src = topic(spark, staging, MessageSchema)
    val mv = src
      .select(col("key").as("event_type"),
        col("value").cast("string")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        min(col("v")).as("minv"), max(col("v")).as("maxv"))
    runToTable(spark, mv, "update")
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        max(col("sv")).cast("double").as("sum_value"),
        min(col("minv")).cast("double").as("min_value"),
        max(col("maxv")).cast("double").as("max_value"))
      .withColumn("avg_value",
        col("sum_value") / col("n_events").cast("double"))
  }

  /** st22: q32's online twin — the CDC feed applied into an SCD2
    * temporal dimension AT INGEST, per-user keyed state instead of the
    * batch gaps-and-islands window. State per user is the flat run
    * array `[tier_1, from_1, tier_2, from_2, …]`, APPENDED only when
    * the incoming tier differs from the open run's — so state is
    * O(version count), arrays are prefix-ordered (append-only), and
    * the update-mode sink collapse is a plain `max(state)`. Validity
    * intervals are derived at read time: version i's `valid_to` is
    * version i+1's `valid_from` (the same lead() the batch side uses),
    * so the emitted rows hash-match q32's oracle verbatim.
    *
    * Like st14 the fold is ts-order-sensitive per key — it requires
    * the time-split staging and FAILS LOUDLY on out-of-order ingest
    * rather than silently mis-versioning. At 100 TB this is the
    * "maintain the dimension table live" mode: per-key state is the
    * user's version history, sharded by key across the cluster. */
  def streamScd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val codec = Codecs.LongArrayCodec
    val graph = GroupGraph.define("stream-scd2")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val tier = msg.asInstanceOf[String].toLong
        val ts = graft.operators.BatchExecutor.tsMicros(ctx.timestamp)
        ctx.value match {
          case null => ctx.setValue(Array(tier, ts))
          case a: Array[Long] =>
            if (ts < a(a.length - 1)) throw new IllegalStateException(
              s"stream-scd2: out-of-order event for key ${ctx.key} " +
                s"($ts before ${a(a.length - 1)}) — this fold requires " +
                "ts-ordered ingest per key")
            if (a(a.length - 2) != tier) ctx.setValue(a :+ tier :+ ts)
        }
      }),
      Persist(codec))
    val staging = tempDir("graft_stream_scd2")
    stageTwoBatches(spark,
      Sources.eventMessages(spark, dir,
        value = floor(col("value") / 100.0d).cast("long").cast("string")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable).map { e =>
      (e.key, codec.decode(e.value))
    }.toDF("user_id", "state")
    val byVersion = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("version"))
    runToTable(spark, table, "update").groupBy(col("user_id"))
      .agg(max(col("state")).as("state"))
      .select(col("user_id").cast("long").as("user_id"),
        explode(expr(
          """transform(sequence(0, size(state) div 2 - 1),
               i -> struct(cast(i + 1 AS bigint) AS version,
                 element_at(state, int(2*i + 1)) AS tier,
                 element_at(state, int(2*i + 2)) AS valid_from))"""))
          .as("r"))
      .select(col("user_id"), col("r.version"), col("r.tier"),
        col("r.valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
  }

  /** st21: Spark's NATIVE bounded-state streaming dedup —
    * `dropDuplicatesWithinWatermark` — next to st08's goka-state exact
    * dedup. The operator contract: duplicates are dropped as long as
    * they arrive within the watermark delay of the key's first
    * occurrence, and per-key state is EVICTED once the watermark
    * passes — the unbounded-state problem of a plain streaming
    * `dropDuplicates` solved by a time bound instead of by hand-rolled
    * keyed state.
    *
    * Oracle-exactness is by key construction: the dedup key includes
    * the event's HOUR bucket, so all occurrences of one key span < 1h
    * of event time, strictly inside the 2h delay — no duplicate can
    * outlive its key's state. The emitted columns are exactly the key
    * columns (first-arrival wins, but every survivor projects
    * identically), so the append-mode output equals batch DISTINCT
    * bit-for-bit under ANY delivery order the time-split staging can
    * produce. At 100 TB: state is one entry per live key hashed across
    * shards, TTL'd by the watermark — dedup-on-ingest with O(keys in
    * window) memory, the streaming face of d01/d10's batch passes. */
  def streamDedupWatermark(spark: SparkSession, dir: String): DataFrame = {
    val staging = stagedEventsSplit(spark, dir)
    val keyed = topic(spark, staging, MessageSchema)
      .select(col("key").cast("long").as("user_id"),
        col("value").cast("string").as("event_type"),
        col("timestamp").as("ts"))
      .withColumn("hour_start", date_trunc("hour", col("ts")))
      .withWatermark("ts", "2 hours")
    val dedup = keyed
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour_start")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("hour_start")).as("hour_us"))
    runToTable(spark, dedup, "append")
  }

  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val staging = stagedEventsSplit(spark, dir)
    val src = topic(spark, staging, MessageSchema)
    val views = src.filter(col("value").cast("string") === "view")
      .select(col("key").cast("long").as("user_id"),
        col("offset").as("view_id"), col("timestamp").as("ts_v"))
      .withWatermark("ts_v", "2 hours")
    val purchases = src.filter(col("value").cast("string") === "purchase")
      .select(col("key").cast("long").as("p_user"),
        col("offset").as("purchase_id"), col("timestamp").as("ts_p"))
      .withWatermark("ts_p", "2 hours")
    val joined = views.join(purchases,
      col("user_id") === col("p_user") &&
        col("ts_p") > col("ts_v") &&
        col("ts_p") <= col("ts_v") + expr("INTERVAL 1 HOUR"))
    runToTable(spark, joined.select(col("user_id"), col("view_id"),
        col("purchase_id"),
        (unix_micros(col("ts_p")) - unix_micros(col("ts_v")))
          .as("lag_us")),
      mode = "append")
  }

  /** st24: streaming ANN serving — the ONLINE half of s25's
    * train-once/serve-many lifecycle. The IVF index (centroids +
    * inverted lists, both parquet artifacts) is built once BEFORE the
    * stream starts; queries then arrive as a stream, and each
    * micro-batch is answered in `foreachBatch`: assign the batch's
    * queries to cells against the broadcast centroids, equi-join the
    * cells' inverted lists, exact int64-cosine rerank, append to the
    * result sink — the standard stream-static serving shape (same sink
    * pattern as st16's recoverable parquet sink). Every query's
    * candidate set lies entirely within its own micro-batch because the
    * static side is complete, so the union of per-batch top-k IS the
    * batch answer: hash-matches s10/s25's trained-IVF oracle.
    *
    * At 100 TB: centroids are model-sized (broadcast), inverted lists
    * are corpus-sized but reached ONLY by cell-id equi-join — a query
    * batch touches its probed cells, never the corpus; per-batch cost
    * is O(queries × cell size) + fixed micro-batch overhead. */
  def streamAnnServe(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Vectors
    val e = Sources.table(spark, dir, "embeddings")
    val (cents, _) = Vectors.kmeansFit(e, col("vec_id"), col("embedding"),
      k = 16, iters = 2)
    val idxDir = tempDir("graft_ann_serve_idx")
    cents.write.mode("overwrite").parquet(s"$idxDir/centroids")
    Vectors.ivfInvertedLists(e, col("vec_id"), col("embedding"), cents)
      .write.mode("overwrite").parquet(s"$idxDir/lists")
    val storedCents = spark.read.parquet(s"$idxDir/centroids")
    val lists = spark.read.parquet(s"$idxDir/lists")
    val q = e.filter(col("vec_id") < 10)
    val staging = tempDir("graft_ann_serve")
    val now = System.currentTimeMillis()
    stageFile(q.filter(col("vec_id") < 5), staging, "b1.parquet",
      now - 120000)
    stageFile(q.filter(col("vec_id") >= 5), staging, "b2.parquet",
      now - 60000)
    val resultDir = tempDir("graft_ann_serve_out") + "/table"
    withQueries(spark)(parquetSink(topic(spark, staging, q.schema),
        resultDir, "append", None) { batch =>
      Vectors.ivfServeTopK(lists, storedCents, batch,
        col("vec_id"), col("embedding"), k = 10)
    })(drain)
    spark.read.parquet(resultDir)
  }

  /** st25: streaming index ADD — s26's online twin and st24's write-side
    * complement: the index is trained once on the base corpus, then the
    * ARRIVALS feed streams in and each micro-batch is assigned against
    * the FROZEN stored centroids and APPENDED to the stored inverted
    * lists in `foreachBatch` — the index stays servable and fresh under
    * a live ingest, with no retrain and no base re-read (FAISS add(),
    * micro-batched). Serving after the feed drains must equal the
    * from-scratch same-centroid rebuild: s26's oracle, because
    * per-vector assignment depends only on the frozen centroids and
    * parquet-append on the lists dir is order-independent.
    *
    * At 100 TB: each arrivals batch is a map-side assignment vs
    * broadcast centroids + an append of new files into the lists
    * layout — O(batch) work regardless of index size; compaction of
    * small appended files is ordinary parquet housekeeping. */
  def streamAnnIndexAdd(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Vectors
    val e = Sources.table(spark, dir, "embeddings")
    val base = e.filter(col("vec_id") % 10 =!= 7)
    val arrivals = e.filter(col("vec_id") % 10 === 7)
    val (cents, _) = Vectors.kmeansFit(base, col("vec_id"),
      col("embedding"), k = 16, iters = 2)
    val idxDir = tempDir("graft_ivf_stream_add")
    cents.write.mode("overwrite").parquet(s"$idxDir/centroids")
    Vectors.ivfInvertedLists(base, col("vec_id"), col("embedding"), cents)
      .write.mode("overwrite").parquet(s"$idxDir/lists")
    val storedCents = spark.read.parquet(s"$idxDir/centroids")
    val staging = tempDir("graft_ann_add_stage")
    val now = System.currentTimeMillis()
    stageFile(arrivals.filter(col("vec_id") % 20 === 7), staging,
      "b1.parquet", now - 120000)
    stageFile(arrivals.filter(col("vec_id") % 20 === 17), staging,
      "b2.parquet", now - 60000)
    withQueries(spark)(parquetSink(topic(spark, staging, arrivals.schema),
        s"$idxDir/lists", "append", None) { batch =>
      Vectors.ivfInvertedLists(batch, col("vec_id"), col("embedding"),
        storedCents)
    })(drain)
    Vectors.ivfServeTopK(spark.read.parquet(s"$idxDir/lists"),
      storedCents, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 10)
  }

  /** st26: streaming LM quality gate — the CCNet head/middle/tail gate
    * (t20) applied AT INGEST, st24's train-once/serve-online lifecycle
    * for the text model: the bigram LM
    * ([[graft.ops.TextAnalysis.bigramLmFit]]) and the per-language
    * tercile boundaries ([[TextAnalysis.ccnetBounds]]) are trained
    * offline and persisted as parquet artifacts; documents then arrive
    * as a stream and every micro-batch is scored against the STORED
    * model and bucketed against the STORED boundaries in
    * `foreachBatch` — the quality verdict exists the moment the
    * document lands, no nightly batch re-pass. Hash-matches t20's
    * whole-corpus oracle because a doc's score depends only on (its
    * own text, the frozen model) and its bucket only on (score, lang,
    * frozen bounds) — [[TextAnalysis.bigramLmScoreWith]]'s slice-union
    * property, proven in the spec.
    *
    * At 100 TB: the model is the classic Zipf-truncated MBs-sized
    * small side (broadcast within [[TextAnalysis.bigramLmScoreWith]]'s
    * counted guard); each micro-batch costs two model joins + one
    * per-doc fold — O(batch), independent of corpus size; refreshing
    * the gate is re-running the offline fit, exactly CCNet's own
    * retrain cadence. */
  def streamLmGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysis
    val d = Sources.table(spark, dir, "documents")
    val modelDir = tempDir("graft_lm_gate_model")
    TextAnalysis.bigramLmFit(d, col("text"))
      .write.mode("overwrite").parquet(s"$modelDir/bigrams")
    val cb = spark.read.parquet(s"$modelDir/bigrams")
    val scoredFull = TextAnalysis
      .bigramLmScoreWith(d, col("text"), col("doc_id"), cb)
      .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
    TextAnalysis.ccnetBounds(scoredFull)
      .write.mode("overwrite").parquet(s"$modelDir/bounds")
    val bounds = spark.read.parquet(s"$modelDir/bounds")
    val docsIn = d.select(col("doc_id"), col("text"), col("lang"))
    val staging = tempDir("graft_lm_gate_stage")
    val now = System.currentTimeMillis()
    stageFile(docsIn.filter(col("doc_id") % 2 === 0), staging,
      "b1.parquet", now - 120000)
    stageFile(docsIn.filter(col("doc_id") % 2 === 1), staging,
      "b2.parquet", now - 60000)
    val resultDir = tempDir("graft_lm_gate_out") + "/table"
    withQueries(spark)(parquetSink(topic(spark, staging, docsIn.schema),
        resultDir, "append", None) { b =>
      val scored = TextAnalysis
        .bigramLmScoreWith(b, col("text"), col("doc_id"), cb)
        .join(b.select(col("doc_id"), col("lang")), Seq("doc_id"))
      TextAnalysis.ccnetBucketed(scored, bounds)
    })(drain)
    spark.read.parquet(resultDir)
  }

  /** st27: streaming table profile — data-quality MONITORING of a live
    * feed: every micro-batch computes its mergeable partial profile
    * ([[graft.ops.Profiling.kmvProfilePartial]]: counts, typed
    * min/max, a KMV ndv sketch per column) and APPENDS it to a stored
    * profile artifact; the current table profile is the
    * #columns×#partials-sized merge of the artifact
    * ([[graft.ops.Profiling.kmvProfileMerge]]), available at any
    * moment without ever re-scanning the stream's history. This is
    * q33's partial-aggregate-merge lifecycle applied to DQ — the
    * sketch (not exact ndv) is what makes the profile mergeable at
    * all — and the online half of the q34→c06 profiling story:
    * c06-style drift gates can run against this continuously
    * maintained profile instead of a nightly full pass.
    *
    * Hash-matches the batch sketch-profile of the whole feed because
    * every field is associative-merge-exact: counts add, min/max
    * combine, and the global k-minima survive per-batch truncation
    * (the KMV mergeability invariant, proven in the spec).
    *
    * At 100 TB/day of events: per-batch cost is one slice scan; the
    * artifact grows by #columns rows per batch and compacts by
    * pre-merging (the merge is associative — micro-batch → hourly →
    * daily); nothing downstream ever touches raw history. */
  def streamProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Profiling
    val e = Sources.table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("props"))
    val staging = tempDir("graft_stream_profile_stage")
    val now = System.currentTimeMillis()
    stageFile(e.filter(col("event_id") % 2 === 0), staging,
      "b1.parquet", now - 120000)
    stageFile(e.filter(col("event_id") % 2 === 1), staging,
      "b2.parquet", now - 60000)
    val artifactDir = tempDir("graft_stream_profile_art") + "/partials"
    withQueries(spark)(parquetSink(topic(spark, staging, e.schema),
        artifactDir, "append", None) { batch =>
      Profiling.kmvProfilePartial(batch,
        longCols = Seq("event_id", "user_id"),
        strCols = Seq("event_type", "props"))
    })(drain)
    Profiling.kmvProfileMerge(spark.read.parquet(artifactDir))
  }

  /** st28: late-data QUARANTINE — the dead-letter accounting Spark's
    * own watermark does not give you: `withWatermark` silently DROPS
    * rows older than the watermark, which at 100 TB/day is an unaudited
    * data loss channel (Beam surfaces it as `droppedDueToLateness`,
    * Flink as the late-data side output; Spark has no side output).
    * Here the watermark rule is applied EXPLICITLY per micro-batch —
    * watermark visible to batch N = max event time over batches < N
    * minus the 30-min delay, exactly Spark's update cadence — and each
    * batch SPLITS: on-time rows feed per-hour partial counts (the
    * q33/st23 merge lifecycle), late rows are routed to a quarantine
    * sink WITH their window, so every dropped row is accounted for.
    * Output per hour window: on-time count + quarantined-late count;
    * the staged replay (batch 1 = 80% of events, batch 2 = the
    * event_id ≡ 0 mod 5 stragglers, which include events far older
    * than batch 1's frontier) makes both classes non-empty and the
    * whole split deterministic, so the oracle replays the identical
    * watermark arithmetic.
    *
    * At scale: the split is a map-only predicate against a broadcast
    * scalar; both sinks are append-only partials merged on read —
    * nothing here adds state beyond what the windowed aggregate
    * already keeps, and the quarantine table is exactly as queryable
    * as the main one (reprocessing late data = reading it back). */
  def streamQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val ev = Sources.table(spark, dir, "events")
      .select(col("event_id"), col("ts"))
    val staging = tempDir("graft_stream_quar_stage")
    val now = System.currentTimeMillis()
    stageFile(ev.filter(col("event_id") % 5 =!= 0), staging,
      "b1.parquet", now - 120000)
    stageFile(ev.filter(col("event_id") % 5 === 0), staging,
      "b2.parquet", now - 60000)
    val outDir = tempDir("graft_stream_quar_out")
    val ontimeDir = outDir + "/ontime"
    val lateDir = outDir + "/late"
    val delayUs = 30L * 60 * 1000000
    @volatile var wmUs = Long.MinValue
    withQueries(spark)(batchSink(topic(spark, staging, ev.schema), "append",
        None) { (batch, _) =>
      val b = batch.localCheckpoint()
      val wm = wmUs
      b.filter(unix_micros(col("ts")) >= wm)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"))
        .agg(count(lit(1)).as("cnt"))
        .write.mode("append").parquet(ontimeDir)
      b.filter(unix_micros(col("ts")) < wm)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"))
        .agg(count(lit(1)).as("cnt"))
        .write.mode("append").parquet(lateDir)
      val mx = b.agg(max(unix_micros(col("ts")))).head()
      if (!mx.isNullAt(0))
        wmUs = math.max(wmUs, mx.getLong(0) - delayUs)
    })(drain)
    val ontime = spark.read.parquet(ontimeDir)
      .groupBy(col("window_start")).agg(sum(col("cnt")).as("ontime_cnt"))
    val late = spark.read.parquet(lateDir)
      .groupBy(col("window_start")).agg(sum(col("cnt")).as("late_cnt"))
    ontime.join(late, Seq("window_start"), "full_outer")
      .select(col("window_start"),
        coalesce(col("ontime_cnt"), lit(0L)).as("ontime_cnt"),
        coalesce(col("late_cnt"), lit(0L)).as("late_cnt"))
  }

  /** st29: streaming heavy hitters — q36's Misra-Gries summaries
    * maintained ONLINE: each micro-batch folds into its own
    * bounded-memory partials ([[graft.ops.Profiling
    * .heavyHittersPartial]]) appended to the artifact; the current
    * top-k is the merge ([[graft.ops.Profiling.heavyHittersTopK]]) of
    * ≤ m·#partials summary rows — the who-is-hammering-the-feed
    * monitor, available at any moment with no history re-scan (the
    * st27 lifecycle for frequency instead of profile). Counts add
    * across batches, so in the exact regime the merged answer equals
    * q36's batch answer — one oracle for both. */
  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Profiling
    val ev = Sources.table(spark, dir, "events")
      .select(col("event_id"), col("user_id"))
    val staging = tempDir("graft_stream_hh_stage")
    val now = System.currentTimeMillis()
    stageFile(ev.filter(col("event_id") % 2 === 0), staging,
      "b1.parquet", now - 120000)
    stageFile(ev.filter(col("event_id") % 2 === 1), staging,
      "b2.parquet", now - 60000)
    val artifactDir = tempDir("graft_stream_hh_art") + "/partials"
    withQueries(spark)(parquetSink(topic(spark, staging, ev.schema),
        artifactDir, "append", None) { batch =>
      Profiling.heavyHittersPartial(batch, col("user_id"), m = 131072)
    })(drain)
    Profiling.heavyHittersTopK(spark.read.parquet(artifactDir), k = 20)
  }

  /** st31: streaming incremental near-dup ingest — d23's stored band
    * index under LIVE arrivals, the full CDC-dedup lifecycle: every
    * micro-batch (1) PROBES the index as it stands — so a document is
    * checked against the base corpus AND every earlier-batch arrival —
    * and (2) APPENDS its own bands (the s26/st25 add() move on the
    * text side), keeping the index fresh for the next batch with no
    * history re-hash. Within-batch pairs are deliberately invisible
    * (probe precedes append), giving the deterministic "matches
    * everything strictly before me" semantics the oracle replays via
    * an ordinal (base=0, batch1=1, batch2=2; a pair counts iff
    * ord_b < ord_a). Exact verification re-reads text only for
    * candidate ids, from the full corpus table since a match may now
    * be an earlier arrival.
    *
    * At 100 TB: per batch = O(batch) hashing + candidate-sized verify
    * + a parquet append of (doc, band, sig) rows; the probe is an
    * equi-join against an index that only ever GROWS by band rows,
    * never gets re-built. */
  def streamNearDupProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup
    val d = Sources.table(spark, dir, "documents")
    val base = d.filter(col("doc_id") % 10 =!= 7)
    val arrivals = d.select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 10 === 7)
    val idxDir = tempDir("graft_lsh_stream_idx")
    Dedup.lshBandIndex(base, col("text"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$idxDir/bands")
    val staging = tempDir("graft_lsh_stream_stage")
    val now = System.currentTimeMillis()
    stageFile(arrivals.filter(col("doc_id") % 20 === 7), staging,
      "b1.parquet", now - 120000)
    stageFile(arrivals.filter(col("doc_id") % 20 === 17), staging,
      "b2.parquet", now - 60000)
    val resultDir = tempDir("graft_lsh_stream_out") + "/table"
    withQueries(spark)(batchSink(topic(spark, staging, arrivals.schema),
        "append", None) { (batch, _) =>
      val b = batch.localCheckpoint()
      // probe the index AS IT STANDS (fresh read per batch)...
      Dedup.probeNearDupIndex(b, d, col("text"), col("doc_id"),
          spark.read.parquet(s"$idxDir/bands"))
        .write.mode("append").parquet(resultDir)
      // ...then admit this batch's bands for the batches after it
      Dedup.lshBandIndex(b, col("text"), col("doc_id"))
        .write.mode("append").parquet(s"$idxDir/bands")
    })(drain)
    spark.read.parquet(resultDir)
  }

  /** st30: streaming CEP — q37's greedy non-overlapping
    * view→click→purchase counter run AT INGEST as a per-user keyed
    * fold (the Flink-CEP deployment shape): state is the same
    * integer-encoded machine (acc = 10·completed + stage, one Long per
    * user), each event advances it in O(1), and the count is live the
    * moment the pattern completes — where q37 needs the sorted
    * per-user event list. Time-split staging + the fold kernel's
    * per-batch (ts, offset) ordering give the same global per-user
    * event order q37 sorts by, and the acc is MONOTONE, so the
    * changelog max is the final state and the batch oracle is shared
    * verbatim. State is written on every message (not only on
    * transitions) so pattern-free users still emit their 0 row, as the
    * batch side does. */
  def streamCep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-cep")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val acc = ctx.value match {
          case null => 0L
          case a: Long => a
          case a: java.lang.Long => a.longValue
        }
        val c = msg.asInstanceOf[String] match {
          case "view" => 1L
          case "click" => 2L
          case "purchase" => 3L
          case _ => 0L
        }
        val next = (acc % 10, c) match {
          case (0L, 1L) => acc + 1
          case (1L, 2L) => acc + 1
          case (2L, 3L) => acc + 8
          case _ => acc
        }
        ctx.setValue(next)
      }),
      Persist(Int64Codec))
    val staging = stagedEventsSplit(spark, dir)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value)))
      .toDF("user_id", "acc")
    runToTable(spark, table, "update")
      .groupBy(col("user_id"))
      .agg((max(col("acc")) / 10).cast("long").as("n_matches"))
      .select(col("user_id").cast("long").as("user_id"),
        col("n_matches"))
  }

  /** st32: q39's duration-capped sessionization maintained AT INGEST —
    * the sequential per-user recurrence (anchor resets on every split,
    * so no window/`session_window` form exists) becomes a per-user
    * keyed fold: state is the same 4 longs the batch fold carries
    * (anchor, prev, nsess, ncap), each event advances it in O(1), and
    * the session count is live as events arrive. Time-split staging
    * preserves global per-user event order across micro-batches, so
    * the final state equals the batch fold's; both counters are
    * monotone, so the update-mode changelog's max per key is that
    * final state and q39's oracle is shared verbatim. */
  def streamCappedSession(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 24L * 3600 * 1000000
    val capUs = 48L * 3600 * 1000000
    val graph = GroupGraph.define("stream-capped-session")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val t = graft.operators.BatchExecutor.tsMicros(ctx.timestamp)
        val (anchor, prev, nsess, ncap) = ctx.value match {
          case null => (0L, 0L, 0L, 0L)
          case s: String =>
            val p = s.split(',')
            (p(0).toLong, p(1).toLong, p(2).toLong, p(3).toLong)
        }
        val next =
          if (nsess == 0L || t - prev > gapUs) (t, t, nsess + 1, ncap)
          else if (t - anchor > capUs) (t, t, nsess + 1, ncap + 1)
          else (anchor, t, nsess, ncap)
        ctx.setValue(s"${next._1},${next._2},${next._3},${next._4}")
      }),
      Persist(StringCodec))
    val staging = stagedEventsSplit(spark, dir)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("user_id", "st")
    runToTable(spark, table, "update")
      .select(col("user_id").cast("long").as("user_id"),
        split(col("st"), ",").as("p"))
      .groupBy(col("user_id"))
      .agg(max(element_at(col("p"), 3).cast("long")).as("n_sessions"),
        max(element_at(col("p"), 4).cast("long")).as("n_cap_splits"))
  }

  /** st33: streaming admission control — a per-key arrival-order quota
    * enforced AT INGEST (the rate-cap every production intake runs so
    * one runaway producer cannot flood a topic): per event type, the
    * first 300 arrivals in event-time order are admitted, the rest
    * counted as rejected, with the LAST ADMITTED event id carried in
    * state. That last-admitted column is what makes the oracle pin the
    * GLOBAL per-key arrival order, not just the counts — any
    * mis-ordering across micro-batches would surface as a different
    * boundary event. State is 3 longs per key; O(keys), never O(events).
    * Differs from t26's quota mix (quality-ranked batch allocation):
    * this is the online arrival-order form. */
  def streamAdmission(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cap = 300L
    val graph = GroupGraph.define("stream-admission")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val (adm, rej, last) = ctx.value match {
          case null => (0L, 0L, -1L)
          case s: String =>
            val p = s.split(',')
            (p(0).toLong, p(1).toLong, p(2).toLong)
        }
        val eid = msg.asInstanceOf[String].toLong
        val next =
          if (adm < cap) (adm + 1, rej, eid) else (adm, rej + 1, last)
        ctx.setValue(s"${next._1},${next._2},${next._3}")
      }),
      Persist(StringCodec))
    val staging = tempDir("graft_admission_split")
    stageTwoBatches(spark,
      Sources.messages(Sources.table(spark, dir, "events"), "events",
        col("event_type"), col("event_id"), col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("event_type", "st")
    // last_admitted is NOT monotone (ids arrive in ts order), so the
    // changelog's final row is selected by the version adm+rej —
    // which increments on every message — not by per-column max.
    runToTable(spark, table, "update")
      .select(col("event_type"), split(col("st"), ",").as("p"))
      .withColumn("ver", element_at(col("p"), 1).cast("long") +
        element_at(col("p"), 2).cast("long"))
      .groupBy(col("event_type"))
      .agg(max_by(col("p"), col("ver")).as("p"))
      .select(col("event_type"),
        element_at(col("p"), 1).cast("long").as("admitted"),
        element_at(col("p"), 2).cast("long").as("rejected"),
        element_at(col("p"), 3).cast("long").as("last_admitted"))
  }

  /** st35: LEFT OUTER stream-stream interval join — the semantics st20
    * (inner) cannot give: a view with NO purchase in its hour window
    * must still emit, and in a streaming join that emission can only
    * happen once the WATERMARK has passed the view's window (until
    * then a matching purchase could still arrive). The replay appends
    * one sentinel message per side at max-ts + 30 days (key −1,
    * filtered from the result): it advances both inputs' watermarks
    * past every real window, so Spark's no-data micro-batch evicts and
    * emits every unmatched view — without it the tail of the stream
    * would sit in state forever and the batch oracle could not match.
    * Null join columns are coalesced to −1 so the result schema is
    * non-nullable on both engines.
    *
    * At 100 TB: state is bounded by the watermark horizon per key —
    * exactly the production outer-join deployment shape; the sentinel
    * corresponds to the real world's steadily advancing event time. */
  def streamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Sources.table(spark, dir, "events")
    val maxUs = ev.agg(unix_micros(max(col("ts"))).as("m"))
      .head().getLong(0)
    val sentinels = spark.range(2).select(
      lit(-1L).as("user_id"),
      when(col("id") === 0, "view").otherwise("purchase")
        .as("event_type"),
      timestamp_micros(lit(maxUs + 30L * 86400000000L)).as("ts"),
      (-col("id") - 1L).as("event_id"))
    val msgs = Sources.messages(
      ev.select(col("user_id"), col("event_type"), col("ts"),
        col("event_id")).unionByName(sentinels),
      "events", col("user_id"), col("event_type"), col("ts"),
      col("event_id"))
    val staging = tempDir("graft_outer_join")
    stageTwoBatches(spark, msgs, staging)
    val src = topic(spark, staging, msgs.schema)
    val views = src.filter(col("value").cast("string") === "view")
      .select(col("key").cast("long").as("user_id"),
        col("offset").as("view_id"), col("timestamp").as("ts_v"))
      .withWatermark("ts_v", "1 hour")
    val purchases = src.filter(col("value").cast("string") === "purchase")
      .select(col("key").cast("long").as("p_user"),
        col("offset").as("purchase_id"), col("timestamp").as("ts_p"))
      .withWatermark("ts_p", "1 hour")
    val joined = views.join(purchases,
      col("user_id") === col("p_user") &&
        col("ts_p") > col("ts_v") &&
        col("ts_p") <= col("ts_v") + expr("INTERVAL 1 HOUR"),
      "leftOuter")
    runToTable(spark, joined.select(col("user_id"), col("view_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(unix_micros(col("ts_p")) - unix_micros(col("ts_v")),
          lit(-1L)).as("lag_us")), mode = "append")
      .filter(col("user_id") >= 0)
  }

  /** st37: streaming ingest INTO the partitioned lake — the c13 layout
    * produced by the streaming path, which is how a production events
    * lake actually comes to exist: micro-batches append date-partitioned
    * parquet through the exactly-once file sink (the `_spark_metadata`
    * commit log makes a half-written batch invisible to readers), and
    * the serving query over the resulting lake is c13's
    * directory-pruned aggregate, hash-matching the same oracle — the
    * full stream→lake→pruned-serving loop in one operator. Partition
    * columns are derived IN the stream (to_date over event time), so
    * arrival order never affects layout.
    *
    * At 100 TB: this sink shape is the standard landing zone; the one
    * operational cost it leaves behind is small files per
    * (micro-batch × partition) — exactly the debt c15's compaction
    * pass retires. */
  def streamLakeIngest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Sources.table(spark, dir, "events")
    val msgs = Sources.messages(ev, "events", col("user_id"),
      col("event_type"), col("ts"), col("event_id"))
    val staging = tempDir("graft_lake_ingest_src")
    stageTwoBatches(spark, msgs, staging)
    val lake = tempDir("graft_lake_ingest_lake")
    val ckpt = tempDir("graft_lake_ingest_ckpt")
    val rows = topic(spark, staging, msgs.schema).select(
      col("key").cast("long").as("user_id"),
      col("value").cast("string").as("event_type"),
      col("offset").as("event_id"),
      to_date(col("timestamp")).as("event_date"))
    withQueries(spark)(fileSink(rows, lake, ckpt, "event_date"))(drain)
    spark.read.parquet(lake)
      .filter(col("event_date")
        .between(lit("2024-01-10"), lit("2024-01-16")))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("id_sum"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("event_date", col("event_date").cast("string"))
  }

  /** st36: streaming right-to-be-forgotten — c14's erasure lifecycle
    * applied ONLINE, the way a deployment actually receives GDPR
    * requests: a control topic ("erasures") interleaves with the event
    * stream in event-time order, and the processor's per-key state
    * machine answers both message kinds — an erasure CLEARS the user's
    * accumulated state and pins a tombstone flag (the goka ctx.Delete
    * discipline, g07, kept as a marker so the deletion is durable
    * against later arrivals); subsequent events for an erased user are
    * counted as dropped, never processed. The final table therefore
    * shows non-erased users with full counts and erased users with
    * count 0 plus the audit of post-erasure drops — exactly what a
    * compliance check reads. State is one 4-long tuple per user; the
    * changelog's final row is selected by the every-message `seen`
    * counter (the count column RESETS at erasure, so per-column max
    * would resurrect pre-erasure state — st33's version-counter
    * lesson). */
  def streamForget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-forget")(
      Inputs(Seq("events", "erasures"), StringCodec,
        ProcessCallback { (ctx, _) =>
          val (cnt, erased, dropped, seen) = ctx.value match {
            case null => (0L, 0L, 0L, 0L)
            case s: String =>
              val p = s.split(',')
              (p(0).toLong, p(1).toLong, p(2).toLong, p(3).toLong)
          }
          val next =
            if (ctx.topic == "erasures") (0L, 1L, dropped, seen + 1)
            else if (erased == 1L) (cnt, 1L, dropped + 1, seen + 1)
            else (cnt + 1, 0L, 0L, seen + 1)
          ctx.setValue(s"${next._1},${next._2},${next._3},${next._4}")
        }),
      Persist(StringCodec))
    val ev = Sources.table(spark, dir, "events")
    val controls = ev.select(col("user_id")).distinct()
      .filter(col("user_id") % 7 === 3)
      .select(col("user_id"), lit("erase").as("v"),
        to_timestamp(lit("2024-01-16 00:00:00")).as("ts"),
        (-col("user_id") - 1L).as("event_id"))
    val msgs = Sources.messages(ev, "events", col("user_id"),
        col("event_type"), col("ts"), col("event_id"))
      .unionByName(Sources.messages(controls, "erasures",
        col("user_id"), col("v"), col("ts"), col("event_id")))
    val staging = tempDir("graft_forget_stream")
    stageTwoBatches(spark, msgs, staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("user_id", "st")
    runToTable(spark, table, "update")
      .select(col("user_id"), split(col("st"), ",").as("p"))
      .withColumn("seen", element_at(col("p"), 4).cast("long"))
      .groupBy(col("user_id"))
      .agg(max_by(col("p"), col("seen")).as("p"))
      .select(col("user_id").cast("long").as("user_id"),
        element_at(col("p"), 1).cast("long").as("n_events"),
        (element_at(col("p"), 2).cast("long") === 1L).as("erased"),
        element_at(col("p"), 3).cast("long").as("n_dropped"))
  }

  /** st38: forward-fill maintained ONLINE — q44's `LAST_VALUE IGNORE
    * NULLS` as live per-user keyed state: the state is the latest
    * purchase value seen (one string), updated BEFORE the emit so a
    * purchase fills itself exactly like the batch window's
    * CURRENT ROW bound; every event emits its filled row at ingest.
    * Per-key event-time order across micro-batches comes from the
    * executor's in-batch (ts, offset) sort + time-split staging —
    * the same contract as st13/st34. State is O(1) per user; the
    * emitted stream is the enriched event stream a feature pipeline
    * would sink to its store. The double rides through state and
    * emission as its shortest-round-trip string, so the shared q44
    * oracle hash-matches bit-for-bit. */
  def streamForwardFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-forward-fill")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        // value = "<event_id>|<ts_us>|<event_type>|<value>"
        val p = msg.asInstanceOf[String].split('|')
        if (p(2) == "purchase") ctx.setValue(p(3))
        val filled = ctx.value match {
          case null => ""
          case s: String => s
        }
        ctx.emit("filled", p(0), s"${ctx.key}|${p(1)}|$filled")
      }),
      Persist(StringCodec), Output("filled", StringCodec))
    val staging = tempDir("graft_fill_split")
    val ev = Sources.table(spark, dir, "events")
      .filter(col("user_id") % 5 === 2)
    stageTwoBatches(spark,
      Sources.messages(ev, "events", col("user_id"),
        concat_ws("|", col("event_id"), unix_micros(col("ts")),
          col("event_type"), col("value")),
        col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val filled = out.filter(_.sink == "filled")
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("event_id", "row")
    runToTable(spark, filled, "update")
      .select(col("event_id").cast("long").as("event_id"),
        split(col("row"), "\\|").as("p"))
      .select(element_at(col("p"), 1).cast("long").as("user_id"),
        col("event_id"),
        element_at(col("p"), 2).cast("long").as("ts_us"),
        when(element_at(col("p"), 3) === "", lit(null).cast("double"))
          .otherwise(element_at(col("p"), 3).cast("double"))
          .as("last_purchase_value"))
  }

  /** st39: sweep-line peak concurrency maintained ONLINE — q45 as
    * live keyed state. The ingested stream IS the boundary-point
    * stream (each event's day-clipped ±1 points, derived at staging —
    * the shape a CDC feed of interval opens/closes would arrive in);
    * per-day state is 3 longs: current depth, running peak, points
    * applied. Event-time order per day comes from a SYNTHETIC µs
    * ordinal `2t + (delta=+1)`, which makes −1 sort before +1 at a
    * tie instant (half-open intervals) — and within equal ordinals
    * the fold is order-free (same-sign deltas commute through
    * cur/peak). The changelog's final row per day is `max_by` the
    * monotone applied-count; the shared q45 oracle hash-matches. */
  def streamPeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-peak-concurrency")(
      Input("points", StringCodec, ProcessCallback { (ctx, msg) =>
        val delta = msg.asInstanceOf[String].toLong
        val (cur, peak, n) = ctx.value match {
          case null => (0L, 0L, 0L)
          case s: String =>
            val p = s.split(',')
            (p(0).toLong, p(1).toLong, p(2).toLong)
        }
        val c2 = cur + delta
        ctx.setValue(s"$c2,${math.max(peak, c2)},${n + 1L}")
      }),
      Persist(StringCodec))
    val pts = graft.queries.Relational.concurrencyPoints(
      Sources.table(spark, dir, "events"))
    val staging = tempDir("graft_peak_split")
    stageTwoBatches(spark,
      Sources.messages(pts, "points", col("day"), col("delta"),
        timestamp_micros(col("t") * 2 +
          when(col("delta") === 1, 1L).otherwise(0L)),
        col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("k", "st")
    runToTable(spark, table, "update")
      .select(col("k"), split(col("st"), ",").as("p"))
      .withColumn("n", element_at(col("p"), 3).cast("long"))
      .groupBy(col("k"))
      .agg(max_by(col("p"), col("n")).as("p"))
      .select(date_format(date_add(lit("1970-01-01").cast("date"),
        col("k").cast("int")), "yyyy-MM-dd").as("day"),
        element_at(col("p"), 2).cast("long").as("peak_concurrent"))
  }

  /** st41: usage metering maintained ONLINE — q49's time-weighted
    * accumulation as live keyed state per (user, day): each arrival
    * closes the previous observation's holding interval and adds its
    * exact `value_c · dur_µs` term; the still-open tail (last value
    * held to midnight) is folded at READ time, mirroring st40's
    * open-day treatment. 4 longs per key, meter-read semantics at any
    * instant; shares q49's oracle bit-for-bit. */
  def streamMetering(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dayUs = 86400000000L
    val graph = GroupGraph.define("stream-metering")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val t = graft.operators.BatchExecutor.tsMicros(ctx.timestamp)
        val vc = msg.asInstanceOf[String].toLong
        // state = (t_first, t_last, vc_last, acc, n)
        val next = ctx.value match {
          case null => (t, t, vc, 0L, 1L)
          case s: String =>
            val p = s.split(',')
            val (t0, pt, pvc, acc, n) = (p(0).toLong, p(1).toLong,
              p(2).toLong, p(3).toLong, p(4).toLong)
            (t0, t, vc, acc + pvc * (t - pt), n + 1L)
        }
        ctx.setValue(
          s"${next._1},${next._2},${next._3},${next._4},${next._5}")
      }),
      Persist(StringCodec))
    val staging = tempDir("graft_meter_split")
    val ev = Sources.table(spark, dir, "events")
    stageTwoBatches(spark,
      Sources.messages(ev, "events",
        concat_ws("|", col("user_id"),
          expr("unix_micros(ts) div 86400000000")),
        floor(col("value") * 100.0d).cast("long"),
        col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("k", "st")
    runToTable(spark, table, "update")
      .select(split(col("k"), "\\|").as("kk"),
        split(col("st"), ",").as("p"))
      .select(
        element_at(col("kk"), 1).cast("long").as("user_id"),
        element_at(col("kk"), 2).cast("long").as("day"),
        element_at(col("p"), 1).cast("long").as("t0"),
        element_at(col("p"), 2).cast("long").as("t"),
        element_at(col("p"), 3).cast("long").as("vc"),
        element_at(col("p"), 4).cast("long").as("acc"),
        element_at(col("p"), 5).cast("long").as("n"))
      .groupBy(col("user_id"), col("day"))
      .agg(max_by(struct(col("t0"), col("t"), col("vc"), col("acc")),
        col("n")).as("s"), max(col("n")).as("n_obs"))
      .select(col("user_id"),
        date_format(date_add(lit("1970-01-01").cast("date"),
          col("day").cast("int")), "yyyy-MM-dd").as("day"),
        (col("s.acc") +
          col("s.vc") * ((col("day") + 1L) * dayUs - col("s.t")))
          .as("weighted_sum"),
        ((col("day") + 1L) * dayUs - col("s.t0")).as("dur_us"),
        col("n_obs"))
  }

  /** st44: session-path analysis maintained ONLINE — q54's journey
    * table live at ingest: per-user state carries the OPEN session
    * (last event time, a monotone message counter for the changelog
    * collapse, the session's event count, and its first-≤5-type path
    * string); a 30-minute gap CLOSES the session, emitting its path
    * into the chained count fold — the same trigger a session-window
    * close uses. Sessions still open when the stream drains exist
    * only in state; the read unions the per-user final open path with
    * the completed-path counts, so the total equals the batch
    * sessionization exactly (shared q54-semantics oracle). */
  def streamSessionPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 1800000000L
    val stage1 = GroupGraph.define("session-path")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val t = graft.operators.BatchExecutor.tsMicros(ctx.timestamp)
        val typ = msg.asInstanceOf[String]
        ctx.value match {
          case null =>
            ctx.setValue(s"$t,1,1,$typ")
          case s: String =>
            val Array(lastTs, m, n, path) = s.split(",", 4)
            if (t - lastTs.toLong > gapUs) {
              ctx.emit("paths", path, 1L)
              ctx.setValue(s"$t,${m.toLong + 1},1,$typ")
            } else {
              val n2 = n.toLong + 1
              val p2 = if (n2 <= 5) s"$path>$typ" else path
              ctx.setValue(s"$t,${m.toLong + 1},$n2,$p2")
            }
        }
      }),
      Persist(StringCodec), Output("paths", Int64Codec))
    val counter = GroupGraph.define("path-counts")(
      Input("paths", Int64Codec, ProcessCallback { (ctx, _) =>
        ctx.value match {
          case null => ctx.setValue(1L)
          case n: Long => ctx.setValue(n + 1L)
        }
      }),
      Persist(Int64Codec))
    val staging = stagedEventsSplit(spark, dir)
    val relay = tempDir("graft_path_relay")
    val tableDir = tempDir("graft_path_table")
    val sessions = routed(new StreamExecutor(stage1)
      .run(spark, messageTopic(spark, staging)),
      Map("paths" -> relay), Some(tableDir))
    val closedTable = new StreamExecutor(counter)
      .run(spark, relayTopic(spark, relay))
      .filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value)))
      .toDF("path", "n")
    val closed = runToTable(spark, closedTable, "update", sessions)
      .groupBy(col("path")).agg(max(col("n")).as("n"))
    val open = spark.read.parquet(tableDir)
      .select(col("key").as("user"),
        split(col("value").cast("string"), ",", 4).as("p"))
      .withColumn("m", element_at(col("p"), 2).cast("long"))
      .groupBy(col("user"))
      .agg(max_by(element_at(col("p"), 4), col("m")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
    closed.unionByName(open)
      .groupBy(col("path"))
      .agg(sum(col("n")).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(10)
  }

  /** st43: association mining maintained ONLINE — q52's basket lift
    * as live state: stage 1 keys by (user, day) and keeps the basket's
    * seen-type BITMASK (one long; the type domain indexes the bits).
    * A type's FIRST arrival in a basket emits one support increment,
    * one basket increment if the basket was empty, and one pair
    * increment per type already present (canonical a<b order) —
    * bounded by the domain, exactly the distinct-pair set q52's
    * self-join produces. Stage 2 is the count fold per emitted key;
    * the read assembles pairs × supports × total into q52's exact
    * integer table (domain-sized joins, broadcast). Repeats emit
    * nothing, so out-of-order repeats are harmless; shared oracle. */
  def streamBasketLift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val idxOf = types.zipWithIndex.toMap
    val stage1 = GroupGraph.define("basket-bits")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val t = msg.asInstanceOf[String]
        val i = idxOf(t)
        val mask = ctx.value match {
          case null => 0L
          case m: Long => m
        }
        if ((mask & (1L << i)) == 0L) {
          if (mask == 0L) ctx.emit("incr", "tot", 1L)
          ctx.emit("incr", s"sup|$t", 1L)
          types.foreach { o =>
            val j = idxOf(o)
            if ((mask & (1L << j)) != 0L) {
              val (a, b) = if (o < t) (o, t) else (t, o)
              ctx.emit("incr", s"pair|$a|$b", 1L)
            }
          }
          ctx.setValue(mask | (1L << i))
        }
      }),
      Persist(Int64Codec), Output("incr", Int64Codec))
    val counter = GroupGraph.define("basket-counts")(
      Input("incr", Int64Codec, ProcessCallback { (ctx, _) =>
        ctx.value match {
          case null => ctx.setValue(1L)
          case n: Long => ctx.setValue(n + 1L)
        }
      }),
      Persist(Int64Codec))
    val staging = tempDir("graft_basket_split")
    val ev = Sources.table(spark, dir, "events")
    stageTwoBatches(spark,
      Sources.messages(ev, "events",
        concat_ws("|", col("user_id"),
          expr("unix_micros(ts) div 86400000000")),
        col("event_type"), col("ts"), col("event_id")),
      staging)
    val relay = tempDir("graft_basket_relay")
    val baskets = routed(new StreamExecutor(stage1)
      .run(spark, messageTopic(spark, staging)), Map("incr" -> relay), None)
    val table = new StreamExecutor(counter)
      .run(spark, relayTopic(spark, relay))
      .filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value)))
      .toDF("k", "n")
    val counts = runToTable(spark, table, "update", baskets)
      .groupBy(col("k")).agg(max(col("n")).as("n"))
      .localCheckpoint()
    val pairs = counts.filter(col("k").startsWith("pair|"))
      .select(split(col("k"), "\\|").as("p"), col("n").as("n_ab"))
      .select(element_at(col("p"), 2).as("ta"),
        element_at(col("p"), 3).as("tb"), col("n_ab"))
    val sup = counts.filter(col("k").startsWith("sup|"))
      .select(substring_index(col("k"), "|", -1).as("t"),
        col("n").as("ns"))
    val tot = counts.filter(col("k") === "tot")
      .select(col("n").as("n_baskets"))
    pairs
      .join(broadcast(sup.select(col("t").as("ta"), col("ns").as("n_a"))),
        Seq("ta"))
      .join(broadcast(sup.select(col("t").as("tb"), col("ns").as("n_b"))),
        Seq("tb"))
      .crossJoin(broadcast(tot))
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"),
        col("n_ab"), col("n_baskets"))
  }

  /** st42: frequent-sequence mining maintained ONLINE — q51's
    * trigram discovery as two chained live stages: stage 1 keeps each
    * user's last TWO event types (one string) and emits the completed
    * trigram per arrival; stage 2 is the plain count-per-trigram
    * keyed fold on the relay. The changelog's final counts equal the
    * batch lag construction because per-user order is preserved
    * (in-batch sort + time-split staging) and each arrival emits
    * exactly the trigram the batch window would. Top-10 selection
    * happens at read; state is 2 small strings per user + one counter
    * per observed trigram (≤ |type-domain|³). */
  def streamFrequentSequences(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val lastTwo = GroupGraph.define("seq-last-two")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val cur = msg.asInstanceOf[String]
        ctx.value match {
          case null => ctx.setValue(cur)
          case s: String =>
            val p = s.split('|')
            if (p.length == 2) ctx.emit("trigrams",
              s"${p(0)}|${p(1)}|$cur", 1L)
            ctx.setValue(s"${p(p.length - 1)}|$cur")
        }
      }),
      Persist(StringCodec), Output("trigrams", Int64Codec))
    val counter = GroupGraph.define("seq-count")(
      Input("trigrams", Int64Codec, ProcessCallback { (ctx, _) =>
        ctx.value match {
          case null => ctx.setValue(1L)
          case n: Long => ctx.setValue(n + 1L)
        }
      }),
      Persist(Int64Codec))
    val staging = stagedEventsSplit(spark, dir)
    val relay = tempDir("graft_seq_relay")
    val trigrams = routed(new StreamExecutor(lastTwo)
      .run(spark, messageTopic(spark, staging)), Map("trigrams" -> relay), None)
    val table = new StreamExecutor(counter)
      .run(spark, relayTopic(spark, relay))
      .filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value)))
      .toDF("trigram", "n")
    runToTable(spark, table, "update", trigrams)
      .groupBy(col("trigram")).agg(max(col("n")).as("n"))
      .select(split(col("trigram"), "\\|").as("p"), col("n"))
      .select(element_at(col("p"), 1).as("e1"),
        element_at(col("p"), 2).as("e2"),
        element_at(col("p"), 3).as("e3"), col("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(10)
  }

  /** st40: EWMA maintained ONLINE — q48's fixed-point recurrence as
    * live keyed state: 5 longs per user (open day, its running count,
    * smoothed value over CLOSED days with −1 as the "none yet"
    * sentinel, closed-day count, message counter for the changelog
    * collapse). A day closes when the first event of a LATER day
    * arrives — the same trigger a tumbling-window close would use —
    * folding its count into `s` by the identical shift-right
    * recurrence; the still-open final day is folded at READ time by
    * the same two-case expression, so the result matches the batch
    * fold bit-for-bit (shared recursive-CTE oracle). Per-key
    * event-time order across micro-batches: executor in-batch
    * (ts, offset) sort + time-split staging, as st13/st34. */
  def streamEwma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dayUs = 86400000000L
    val graph = GroupGraph.define("stream-ewma")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val d = graft.operators.BatchExecutor
          .tsMicros(ctx.timestamp) / dayUs
        val (day, cnt, s, n, m) = ctx.value match {
          case null => (d, 0L, -1L, 0L, 0L)
          case st: String =>
            val p = st.split(',')
            (p(0).toLong, p(1).toLong, p(2).toLong, p(3).toLong,
              p(4).toLong)
        }
        val next =
          if (d == day) (day, cnt + 1L, s, n, m + 1L)
          else {
            // close the open day, start d
            val s2 = if (s < 0L) cnt * 64L else (cnt * 64L + 7L * s) >> 3
            require(d > day, s"out-of-order day $d after $day for " +
              s"user ${ctx.key} — the staged replay must be time-ordered")
            (d, 1L, s2, n + 1L, m + 1L)
          }
        ctx.setValue(
          s"${next._1},${next._2},${next._3},${next._4},${next._5}")
      }),
      Persist(StringCodec))
    val staging = stagedEventsSplit(spark, dir)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("k", "st")
    runToTable(spark, table, "update")
      .select(col("k").cast("long").as("user_id"),
        split(col("st"), ",").as("p"))
      .withColumn("m", element_at(col("p"), 5).cast("long"))
      .groupBy(col("user_id"))
      .agg(max_by(col("p"), col("m")).as("p"))
      .select(col("user_id"),
        (element_at(col("p"), 4).cast("long") + 1L).as("n_days"),
        {
          val cnt = element_at(col("p"), 2).cast("long")
          val s = element_at(col("p"), 3).cast("long")
          when(s < 0L, cnt * 64L)
            .otherwise(shiftright(cnt * 64L + s * 7L, 3))
            .as("ewma_x64")
        })
  }

  /** st34: OHLC bars maintained ONLINE — q40's ordered aggregation as
    * live per-(day, type) keyed state: open fixes on the first arrival,
    * high/low fold monotonically, close tracks the latest, all O(1)
    * per event and 4 doubles + a counter per bar. Per-key event-time
    * order (batch sort by (ts, offset) + time-split staging) makes
    * open/close well-defined across micro-batches; the bar count n
    * increments every message, so the changelog's final row is
    * `max_by(state, n)`. Doubles ride through state via
    * `Double.toString`, which round-trips bit-exactly, so the shared
    * q40 oracle hash-matches. */
  def streamOhlc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dayUs = 86400L * 1000000L
    val graph = GroupGraph.define("stream-ohlc")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val v = msg.asInstanceOf[String].toDouble
        val next = ctx.value match {
          case null => (v, v, v, v, 1L)
          case s: String =>
            val p = s.split(',')
            (p(0).toDouble, math.max(p(1).toDouble, v),
              math.min(p(2).toDouble, v), v, p(4).toLong + 1L)
        }
        ctx.setValue(
          s"${next._1},${next._2},${next._3},${next._4},${next._5}")
      }),
      Persist(StringCodec))
    val staging = tempDir("graft_ohlc_split")
    val ev = Sources.table(spark, dir, "events")
    stageTwoBatches(spark,
      Sources.messages(ev, "events",
        concat(expr(s"unix_micros(ts) div $dayUs"),
          lit("|"), col("event_type")),
        col("value"), col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("k", "st")
    runToTable(spark, table, "update")
      .select(split(col("k"), "\\|").as("kk"),
        split(col("st"), ",").as("p"))
      .withColumn("n", element_at(col("p"), 5).cast("long"))
      .groupBy(col("kk"))
      .agg(max_by(col("p"), col("n")).as("p"))
      .select(
        timestamp_micros(element_at(col("kk"), 1).cast("long") * dayUs)
          .as("day"),
        element_at(col("kk"), 2).as("event_type"),
        element_at(col("p"), 1).cast("double").as("open"),
        element_at(col("p"), 2).cast("double").as("high"),
        element_at(col("p"), 3).cast("double").as("low"),
        element_at(col("p"), 4).cast("double").as("close"),
        element_at(col("p"), 5).cast("long").as("n_events"))
  }

  /** st48: the attribution-WINDOWED funnel maintained ONLINE — q60's
    * bounded chain as live keyed state: 3 step timestamps + a counter
    * per user. A step locks at its FIRST qualifying arrival, which
    * under per-key event-time order is exactly the batch plan's
    * `min(us WHERE bound)` — a click qualifies only inside
    * (t1, t1+1d], a purchase only inside (t2, t2+3d], and an arrival
    * before its predecessor step simply doesn't match, the same
    * three-valued outcome the batch conditional mins produce. The
    * read collapses the changelog and counts locked steps; shares
    * q60's oracle. */
  def streamWindowedFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dayUs = 86400000000L
    val graph = GroupGraph.define("stream-wfunnel")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val t = graft.operators.BatchExecutor.tsMicros(ctx.timestamp)
        val typ = msg.asInstanceOf[String]
        val (t1, t2, t3, n) = ctx.value match {
          case null => (0L, 0L, 0L, 0L)
          case s: String =>
            val p = s.split(',')
            (p(0).toLong, p(1).toLong, p(2).toLong, p(3).toLong)
        }
        val next = typ match {
          case "view" if t1 == 0L => (t, t2, t3, n + 1)
          case "click" if t1 > 0L && t2 == 0L &&
            t > t1 && t <= t1 + dayUs => (t1, t, t3, n + 1)
          case "purchase" if t2 > 0L && t3 == 0L &&
            t > t2 && t <= t2 + 3L * dayUs => (t1, t2, t, n + 1)
          case _ => (t1, t2, t3, n + 1)
        }
        ctx.setValue(s"${next._1},${next._2},${next._3},${next._4}")
      }),
      Persist(StringCodec))
    val staging = stagedEventsSplit(spark, dir)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("k", "st")
    runToTable(spark, table, "update")
      .select(col("k"), split(col("st"), ",").as("p"))
      .withColumn("n", element_at(col("p"), 4).cast("long"))
      .groupBy(col("k"))
      .agg(max_by(col("p"), col("n")).as("p"))
      .select(element_at(col("p"), 1).cast("long").as("t1"),
        element_at(col("p"), 2).cast("long").as("t2"),
        element_at(col("p"), 3).cast("long").as("t3"))
      .agg(sum(when(col("t1") > 0L, 1L).otherwise(0L)).as("n_viewed"),
        sum(when(col("t2") > 0L, 1L).otherwise(0L)).as("n_clicked_1d"),
        sum(when(col("t3") > 0L, 1L).otherwise(0L))
          .as("n_purchased_3d"))
  }

  /** st47: interval-union COVERAGE maintained ONLINE — q59's
    * running-max sweep as live keyed state: 4 longs per user (running
    * max end, covered µs, block count, message counter). Each arrival
    * opens its 30-minute interval, contributes
    * `max(0, e − max(s, endMax))` and opens a block when the running
    * max falls short of `s` — the same two expressions the batch
    * window evaluates, so the shared q59 oracle hash-matches. Per-key
    * event-time order as st40; equal-timestamp arrivals contribute 0
    * in either order (identical intervals), matching the batch
    * tie-break exactly. */
  def streamIntervalCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val winUs = 1800000000L
    val graph = GroupGraph.define("stream-coverage")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val s = graft.operators.BatchExecutor.tsMicros(ctx.timestamp)
        val e = s + winUs
        ctx.value match {
          case null => ctx.setValue(s"$e,$winUs,1,1")
          case st: String =>
            val p = st.split(',')
            val (em, cov, blk, n) = (p(0).toLong, p(1).toLong,
              p(2).toLong, p(3).toLong)
            val contrib = math.max(0L, e - math.max(s, em))
            val blk2 = if (em < s) blk + 1 else blk
            ctx.setValue(
              s"${math.max(em, e)},${cov + contrib},$blk2,${n + 1}")
        }
      }),
      Persist(StringCodec))
    val staging = stagedEventsSplit(spark, dir)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("k", "st")
    runToTable(spark, table, "update")
      .select(col("k").cast("long").as("user_id"),
        split(col("st"), ",").as("p"))
      .withColumn("n", element_at(col("p"), 4).cast("long"))
      .groupBy(col("user_id"))
      .agg(max_by(col("p"), col("n")).as("p"), max(col("n")).as("n"))
      .select(col("user_id"), col("n").as("n_events"),
        element_at(col("p"), 2).cast("long").as("covered_us"),
        element_at(col("p"), 3).cast("long").as("n_blocks"))
  }

  /** st46: the SPATIAL close-pair join maintained ONLINE — q55's
    * lossless grid protocol as live keyed state: each arriving point
    * fans out to its 3×3 neighbor cells (9 messages, map-side — the
    * same lossless ±1-cell bound, r ≤ cellSide), the CELL is the state
    * key holding the points homed there, a probe pairs the arrival
    * against every stored point in that cell, and the home message
    * (center cell) also appends the arrival to state — so each close
    * pair is found EXACTLY ONCE, when its later-ordered member probes
    * the earlier member's home cell (executor per-key (ts, offset)
    * order; offsets are event_id·9+cellIdx, so equal-timestamp points
    * resolve consistently by id in every cell). Each cell folds ITS
    * OWN (count, Σd², min d²) partial alongside its point list — the
    * per-cell partials are DISJOINT (a pair is found in exactly one
    * cell), so the read is a commutative merge across cell states:
    * no relay topic, no global-key funnel serializing every pair
    * through one state partition. State is O(points per cell) — the
    * grid's density bound, exactly the per-bucket skew story of
    * st10's owner state; the demo subsamples to every 20th event so
    * the per-message Scala pairing stays proportionate (production:
    * per-cell list state + finer grid). Oracle: q55's SQL over the
    * same subsample. */
  def streamSpatialJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cellSide = 1000L
    val r2 = 1000000L
    val stage1 = GroupGraph.define("stream-spatial")(
      Input("cells", StringCodec, ProcessCallback { (ctx, msg) =>
        val Array(idS, xS, yS, hS) =
          msg.asInstanceOf[String].split(",", 4)
        val (pid, x, y) = (idS.toLong, xS.toLong, yS.toLong)
        // state = "n,sum,min|id:x:y;id:x:y;..."
        val (n0, sum0, min0, stored) = ctx.value match {
          case null => (0L, 0L, Long.MaxValue, Vector.empty[String])
          case s: String =>
            val Array(st, pts) = s.split("\\|", 2)
            val p = st.split(',')
            (p(0).toLong, p(1).toLong, p(2).toLong,
              if (pts.isEmpty) Vector.empty[String]
              else pts.split(';').toVector)
        }
        var (n, sum, mn) = (n0, sum0, min0)
        stored.foreach { q =>
          val p = q.split(':')
          val (qid, qx, qy) = (p(0).toLong, p(1).toLong, p(2).toLong)
          if (qid != pid) {
            val d2 = (x - qx) * (x - qx) + (y - qy) * (y - qy)
            if (d2 < r2) { n += 1; sum += d2; mn = math.min(mn, d2) }
          }
        }
        val pts2 = if (hS == "1") stored :+ s"$pid:$x:$y" else stored
        ctx.setValue(s"$n,$sum,$mn|${pts2.mkString(";")}")
      }),
      Persist(StringCodec))
    val pts = graft.queries.Relational.spatialPoints(
      Sources.table(spark, dir, "events"))
      .filter(col("id") % 20L === 0L)
      .withColumn("cx", expr(s"x div $cellSide"))
      .withColumn("cy", expr(s"y div $cellSide"))
    val fanned = pts.select(col("id"), col("ts"), col("x"), col("y"),
        col("cx"), col("cy"),
        explode(expr(
          "flatten(transform(sequence(-1, 1), dx -> " +
            "transform(sequence(-1, 1), dy -> " +
            "struct(dx AS dx, dy AS dy))))")).as("nb"))
      .select(col("id"), col("ts"), col("x"), col("y"),
        (col("cx") + col("nb.dx")).as("nx"),
        (col("cy") + col("nb.dy")).as("ny"),
        (col("nb.dx") === 0 && col("nb.dy") === 0)
          .cast("int").as("h"),
        ((col("nb.dx") + 1) * 3 + col("nb.dy") + 1).as("idx"))
    val staging = tempDir("graft_spatial_split")
    stageTwoBatches(spark,
      Sources.messages(fanned, "cells",
        concat_ws("|", col("nx"), col("ny")),
        concat_ws(",", col("id"), col("x"), col("y"), col("h")),
        col("ts"), col("id") * 9L + col("idx")),
      staging)
    val stream1 = messageTopic(spark, staging)
    val table = new StreamExecutor(stage1).run(spark, stream1)
      .filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("k", "st")
    // changelog collapse: the partial (n,sum,min) is monotone in n
    // per cell, so the final row per cell is max_by n; the cross-
    // cell merge is commutative (disjoint pair sets).
    runToTable(spark, table, "update")
      .select(col("k"),
        split(split(col("st"), "\\|").getItem(0), ",").as("p"))
      .select(col("k"),
        element_at(col("p"), 1).cast("long").as("n"),
        element_at(col("p"), 2).cast("long").as("s"),
        element_at(col("p"), 3).cast("long").as("m"))
      .groupBy(col("k"))
      .agg(max_by(struct(col("n"), col("s"), col("m")), col("n"))
        .as("c"))
      .agg(sum(col("c.n")).as("n_close_pairs"),
        sum(col("c.s")).as("sum0"),
        min(when(col("c.n") > 0L, col("c.m"))).as("min_d2"))
      .select(coalesce(col("n_close_pairs"), lit(0L))
          .as("n_close_pairs"),
        col("min_d2"),
        when(col("n_close_pairs") > 0L, col("sum0")).as("d2_sum"))
  }

  /** st45: daily anomaly flags maintained ONLINE — q41's trailing-
    * 7-day z-test as live keyed state per event_type. State is O(1):
    * the open day's count plus a ring of the last ≤7 CLOSED day
    * counts (the exact frame of q41's `ROWS BETWEEN 7 PRECEDING AND
    * 1 PRECEDING`). The first event of a LATER day closes the open
    * day: the flag is decided from the ring by the identical exact
    * integer test (BigInt here, DECIMAL(19) in the batch plan,
    * BIGINT in the oracle — all exact, so all agree), the closed row
    * is emitted into a keyed stage-2 table, and the ring advances.
    * The final still-open day per type exists only in state and is
    * folded at READ time by the same test rendered as Spark
    * expressions over the parsed ring. Per-key event-time order
    * (in-batch (ts, offset) sort + time-split staging) makes
    * day-close well-defined, and st40's loud out-of-order `require`
    * guards the assumption. Shares q41's oracle bit-for-bit. */
  def streamAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dayUs = 86400000000L
    val stage1 = GroupGraph.define("stream-anomaly")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val d = graft.operators.BatchExecutor
          .tsMicros(ctx.timestamp) / dayUs
        ctx.value match {
          case null => ctx.setValue(s"$d,1,1,")
          case st: String =>
            val Array(day0, cnt0, m0, ring0) = st.split(",", 4)
            val (day, cnt, m) = (day0.toLong, cnt0.toLong, m0.toLong)
            if (d == day) ctx.setValue(s"$day,${cnt + 1},${m + 1},$ring0")
            else {
              require(d > day, s"out-of-order day $d after $day for " +
                s"type ${ctx.key} — the staged replay must be time-ordered")
              val ring = if (ring0.isEmpty) Vector.empty[Long]
                else ring0.split(';').toVector
                  .map(_.split(':')(1).toLong)
              val n = ring.size
              val s = ring.sum
              val q = ring.map(c => c * c).sum
              val flag = n >= 3 &&
                (BigInt(n) * cnt - s).pow(2) >
                  4 * (BigInt(n) * q - BigInt(s) * BigInt(s))
              ctx.emit("days", s"$day|${ctx.key}",
                s"$cnt,${if (flag) 1 else 0}")
              val ring2 = ((if (ring0.isEmpty) Vector.empty[String]
                else ring0.split(';').toVector) :+ s"$day:$cnt")
                .takeRight(7)
              ctx.setValue(s"$d,1,${m + 1},${ring2.mkString(";")}")
            }
        }
      }),
      Persist(StringCodec), Output("days", StringCodec))
    val stage2 = GroupGraph.define("anomaly-days")(
      Input("days", StringCodec, ProcessCallback { (ctx, msg) =>
        ctx.setValue(msg.asInstanceOf[String])
      }),
      Persist(StringCodec))
    val staging = tempDir("graft_anomaly_split")
    stageTwoBatches(spark,
      Sources.messages(Sources.table(spark, dir, "events"), "events",
        col("event_type"), lit(1L), col("ts"), col("event_id")),
      staging)
    val relay = tempDir("graft_anomaly_relay")
    val tableDir = tempDir("graft_anomaly_table")
    val days = routed(new StreamExecutor(stage1)
      .run(spark, messageTopic(spark, staging)),
      Map("days" -> relay), Some(tableDir))
    val closedTable = new StreamExecutor(stage2)
      .run(spark, relayTopic(spark, relay))
      .filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("k", "v")
    val closed = runToTable(spark, closedTable, "update", days)
      .groupBy(col("k")).agg(max(col("v")).as("v"))
      .select(split(col("k"), "\\|").as("kk"),
        split(col("v"), ",").as("p"))
      .select(
        timestamp_micros(element_at(col("kk"), 1).cast("long") * dayUs)
          .as("day"),
        element_at(col("kk"), 2).as("event_type"),
        element_at(col("p"), 1).cast("long").as("cnt"),
        (element_at(col("p"), 2) === "1").as("is_anomaly"))
    // The still-open last day per type: q41's test over the parsed
    // ring, in exact DECIMAL(19) like the batch plan.
    val d19 = (c: org.apache.spark.sql.Column) =>
      c.cast(org.apache.spark.sql.types.DecimalType(19, 0))
    val open = spark.read.parquet(tableDir)
      .select(col("key").as("event_type"),
        split(col("value").cast("string"), ",", 4).as("p"))
      .withColumn("m", element_at(col("p"), 3).cast("long"))
      .groupBy(col("event_type"))
      .agg(max_by(col("p"), col("m")).as("p"))
      .select(col("event_type"),
        element_at(col("p"), 1).cast("long").as("day"),
        element_at(col("p"), 2).cast("long").as("cnt"),
        transform(
          filter(split(element_at(col("p"), 4), ";"), x => x =!= ""),
          x => split_part(x, lit(":"), lit(2)).cast("long")).as("ring"))
      .withColumn("n", size(col("ring")).cast("long"))
      .withColumn("s", aggregate(col("ring"), lit(0L), (a, x) => a + x))
      .withColumn("q",
        aggregate(col("ring"), lit(0L), (a, x) => a + x * x))
      .select(timestamp_micros(col("day") * dayUs).as("day"),
        col("event_type"), col("cnt"),
        (col("n") >= 3L &&
          d19(col("n") * col("cnt") - col("s")) *
            d19(col("n") * col("cnt") - col("s")) >
          lit(4) * (d19(col("n")) * d19(col("q")) -
            d19(col("s")) * d19(col("s")))).as("is_anomaly"))
    closed.unionByName(open)
  }

  /** st49: CUSUM drift detection LIVE — q64's alarm with the
    * production twist an online monitor forces: the reference level
    * locks from a 7-day TRAINING PREFIX (a stream cannot normalize
    * against the whole series' mean the way batch q64 does, so this
    * query has its own oracle with the same prefix rule). State per
    * event_type is O(1): the open day's count, the training
    * accumulator T (sum of the first 7 closed days), and the running
    * recurrence (s, max_s, n_flagged, first_flag_day). Day-close
    * applies s ← max(0, s + 140·x − 21·T) in exact longs (reference
    * = 1.05·mean, everything scaled by 140 to stay integral) and
    * flags when s > 10·T (half a mean day of excess). The online
    * recurrence IS the sequential CUSUM; GraphStatsSpec proves it
    * equal to the closed form the oracle's windows compute. The
    * still-open last day folds at read time by the same rule. */
  def streamCusum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dayUs = 86400000000L
    val graph = GroupGraph.define("stream-cusum")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val d = graft.operators.BatchExecutor
          .tsMicros(ctx.timestamp) / dayUs
        ctx.value match {
          case null => ctx.setValue(s"$d,1,0,0,0,0,0,-1,1")
          case st: String =>
            val p = st.split(',')
            val (day, cnt, ncl, t, s, mx, nf, ff, m) =
              (p(0).toLong, p(1).toLong, p(2).toLong, p(3).toLong,
                p(4).toLong, p(5).toLong, p(6).toLong, p(7).toLong,
                p(8).toLong)
            if (d == day)
              ctx.setValue(s"$day,${cnt + 1},$ncl,$t,$s,$mx,$nf,$ff,${m + 1}")
            else {
              require(d > day, s"out-of-order day $d after $day for " +
                s"type ${ctx.key} — the staged replay must be time-ordered")
              if (ncl < 7)
                ctx.setValue(
                  s"$d,1,${ncl + 1},${t + cnt},$s,$mx,$nf,$ff,${m + 1}")
              else {
                val s2 = math.max(0L, s + 140L * cnt - 21L * t)
                val flag = s2 > 10L * t
                val nf2 = nf + (if (flag) 1L else 0L)
                val ff2 = if (ff >= 0L) ff else if (flag) day else -1L
                ctx.setValue(s"$d,1,${ncl + 1},$t," +
                  s"$s2,${math.max(mx, s2)},$nf2,$ff2,${m + 1}")
              }
            }
        }
      }),
      Persist(StringCodec))
    val staging = tempDir("graft_cusum_split")
    stageTwoBatches(spark,
      Sources.messages(Sources.table(spark, dir, "events"), "events",
        col("event_type"), lit(1L), col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("k", "st")
    val fin = runToTable(spark, table, "update")
      .select(col("k").as("event_type"), split(col("st"), ",").as("p"))
      .withColumn("m", element_at(col("p"), 9).cast("long"))
      .groupBy(col("event_type"))
      .agg(max_by(col("p"), col("m")).as("p"))
      .select(col("event_type"),
        element_at(col("p"), 1).cast("long").as("day"),
        element_at(col("p"), 2).cast("long").as("cnt"),
        element_at(col("p"), 3).cast("long").as("ncl"),
        element_at(col("p"), 4).cast("long").as("t"),
        element_at(col("p"), 5).cast("long").as("s"),
        element_at(col("p"), 6).cast("long").as("mx"),
        element_at(col("p"), 7).cast("long").as("nf"),
        element_at(col("p"), 8).cast("long").as("ff"))
      // Fold the still-open day by the identical close rule; only
      // types whose series reaches past the 7-day prefix emit.
      .filter(col("ncl") >= 7)
      .withColumn("s2",
        greatest(lit(0L), col("s") + lit(140L) * col("cnt") -
          lit(21L) * col("t")))
      .withColumn("flag2", col("s2") > lit(10L) * col("t"))
    fin.select(col("event_type"),
      (col("ncl") + 1L - 7L).as("n_monitor_days"),
      col("t").as("t_train"),
      greatest(col("mx"), col("s2")).as("max_cusum"),
      (col("nf") + when(col("flag2"), 1L).otherwise(0L)).as("n_flagged"),
      timestamp_micros(
        when(col("ff") >= 0L, col("ff"))
          .when(col("flag2"), col("day")) * lit(dayUs))
        .as("first_flag_day"))
  }

  /** st51: the c28 Bloom sidecar maintained ONLINE during streaming
    * lake ingest — each micro-batch lands as an immutable file batch
    * under `batch=<id>/` and writes ITS OWN sidecar rows under the
    * matching `batch=<id>/` index partition in the same foreachBatch —
    * an overwrite, so a retried micro-batch replaces rather than
    * duplicates its rows — and index freshness equals data
    * freshness (the reference's changelog-follows-table discipline,
    * applied to an index artifact instead of a state table). Serving
    * afterwards is exactly c28's path — bloom candidates → pruned
    * file read → exact predicate — and shares c28's full-scan oracle:
    * the hash match proves the incrementally-built index lost
    * nothing. */
  def streamBloomIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Lake
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir("graft_sbloom_src")
    val midRow = ev.agg(min(col("event_id")).as("mn"),
      max(col("event_id")).as("mx"))
      .select(expr("(mn + mx) div 2")).head().getLong(0)
    val now = System.currentTimeMillis()
    stageFile(ev.filter(col("event_id") <= midRow), staging,
      "b1.parquet", now - 120000)
    stageFile(ev.filter(col("event_id") > midRow), staging,
      "b2.parquet", now - 60000)
    val lake = tempDir("graft_sbloom_lake")
    val idxDir = tempDir("graft_sbloom_idx")
    val ckpt = tempDir("graft_sbloom_ckpt")
    withQueries(spark)(batchSink(fileSource(spark, staging, ev.schema),
        "append", Some(ckpt)) { (b, bid) =>
      val sub = s"$lake/batch=$bid"
      b.write.mode("overwrite").parquet(sub)
      // Sidecar lands IDEMPOTENTLY under its own batch=<id> dir,
      // mirroring the data write: a retried/restarted micro-batch
      // overwrites its own rows instead of re-appending them
      // (duplicate (file, word) rows would break bloomCandidates'
      // all-bits-present count — see Lake.bloomCandidates).
      Lake.buildBloomIndex(spark, sub, "event_id")
        .write.mode("overwrite").parquet(s"$idxDir/batch=$bid")
    })(drain)
    val idx = spark.read.parquet(idxDir)
    val probes = spark.read.parquet(lake)
      .filter(col("event_id") % 997 === 0).select(col("event_id"))
    val candFiles = Lake.bloomCandidates(idx, probes, "event_id")
      .select(col("file")).distinct().collect().map(_.getString(0))
    val pruned =
      if (candFiles.isEmpty) spark.read.parquet(lake).filter(lit(false))
      else spark.read.parquet(candFiles.toIndexedSeq: _*)
    pruned.filter(col("event_id") % 997 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * 100.0d).cast("long").as("cents"))
  }

  /** st53: STREAMING ZONE-MAP MAINTENANCE — c30's range-prune sidecar
    * kept fresh by the ingest stream itself: each micro-batch lands
    * CLUSTERED on user_id under its own `batch=<id>` dir (so per-file
    * ranges stay tight even though arrival order is uncorrelated) and
    * its [[graft.ops.Lake.buildZoneMap]] rows overwrite the matching
    * sidecar partition — idempotent under micro-batch retry exactly
    * like st51's Bloom sidecar (min/max re-derived from the re-written
    * files can only repeat, never accumulate). The closing range read
    * prunes across ALL batches' files through the composed sidecar;
    * the oracle is the plain unpruned aggregate (c30's), so the hash
    * match proves sidecar freshness ≡ data freshness per batch. */
  def streamZoneMap(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Lake
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir("graft_szone_src")
    val midRow = ev.agg(min(col("event_id")).as("mn"),
      max(col("event_id")).as("mx"))
      .select(expr("(mn + mx) div 2")).head().getLong(0)
    val now = System.currentTimeMillis()
    stageFile(ev.filter(col("event_id") <= midRow), staging,
      "b1.parquet", now - 120000)
    stageFile(ev.filter(col("event_id") > midRow), staging,
      "b2.parquet", now - 60000)
    val lake = tempDir("graft_szone_lake")
    val zmDir = tempDir("graft_szone_zm")
    val ckpt = tempDir("graft_szone_ckpt")
    withQueries(spark)(batchSink(fileSource(spark, staging, ev.schema),
        "append", Some(ckpt)) { (b, bid) =>
      val sub = s"$lake/batch=$bid"
      Lake.writeClustered(b, col("user_id"), sub, nFiles = 4)
      Lake.buildZoneMap(spark, sub, "user_id")
        .write.mode("overwrite").parquet(s"$zmDir/batch=$bid")
    })(drain)
    val mx = ev.agg(max(col("user_id"))).head().getLong(0)
    val (lo, hi) = (mx * 10 / 100, mx * 25 / 100)
    val candFiles = Lake.zoneCandidates(
        spark.read.parquet(zmDir), lo, hi)
      .collect().map(_.getString(0))
    val pruned =
      if (candFiles.isEmpty) spark.read.parquet(lake).filter(lit(false))
      else spark.read.parquet(candFiles.toIndexedSeq: _*)
    pruned.filter(col("user_id").between(lo, hi))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(floor(col("value") * 100.0d).cast("long")).as("cents_sum"))
  }

  /** st57: STREAMING FIRST/LAST-TOUCH ATTRIBUTION — q79's marketing
    * rollup as a per-user state machine: the keyed state carries
    * (first_click, last_click, n_purchases, n_attributed, lag_sum),
    * clicks advance the touch marks, purchases credit themselves
    * against the CURRENT marks on arrival — attribution happens at
    * ingest, no history re-scan ever. Within-batch application is
    * (ts, offset)-ordered and the split is a time split, so the
    * composed state must equal the batch window computation; the
    * hash match against q79's oracle proves it. A message counter
    * rides in the state so the memory sink's last upsert per user is
    * identified exactly (counts alone can tie when trailing clicks
    * touch the state after the final purchase). */
  def streamAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-attribution")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val parts = msg.asInstanceOf[String].split(',')
        val (typ, tsUs) = (parts(0), parts(1).toLong)
        val st = ctx.value match {
          case null => Array(-1L, -1L, 0L, 0L, 0L, 0L)
          case s: String => s.split(',').map(_.toLong)
        }
        typ match {
          case "click" =>
            if (st(0) < 0) st(0) = tsUs
            st(1) = tsUs
          case "purchase" =>
            st(2) += 1
            if (st(1) >= 0) { st(3) += 1; st(4) += tsUs - st(1) }
          case _ => ()
        }
        st(5) += 1
        ctx.setValue(st.mkString(","))
      }),
      Persist(StringCodec))
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir("graft_sattr_split")
    stageTwoBatches(spark,
      Sources.messages(ev, "events", col("user_id").cast("string"),
        concat(col("event_type"), lit(","),
          unix_micros(col("ts")).cast("string")),
        col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("key", "st")
    runToTable(spark, table, "update")
      .select(col("key"), split(col("st"), ",").as("p"))
      .withColumn("nmsgs", element_at(col("p"), 6).cast("long"))
      .groupBy(col("key"))
      .agg(max_by(col("p"), col("nmsgs")).as("p"))
      .select(col("key").cast("long").as("user_id"),
        element_at(col("p"), 3).cast("long").as("n_purchases"),
        element_at(col("p"), 4).cast("long").as("n_attributed"),
        element_at(col("p"), 5).cast("long").as("last_touch_lag_us"))
      .filter(col("n_purchases") > 0)
  }

  /** st58: STREAMING MARKOV TRANSITION MATRIX — q80's model
    * maintained online: the keyed state is (msg counter, last event
    * type, per-user src|dst counts), each event increments exactly
    * the one transition it completes — no timeline re-scan, state is
    * O(|types|²) per user. The final fold explodes the per-user count
    * maps, sums globally and row-normalizes — identical to the batch
    * window + aggregate, which the shared q80 oracle hash proves.
    * The leading message counter identifies the last upsert per user
    * exactly (the first event adds no transition, so the transition
    * total alone could not distinguish the first two upserts). */
  def streamTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-transitions")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val typ = msg.asInstanceOf[String]
        ctx.value match {
          case null => ctx.setValue(s"1;$typ")
          case s: String =>
            val parts = s.split(";", -1)
            val n = parts(0).toLong + 1
            val last = parts(1)
            val key = s"$last|$typ"
            val counts = scala.collection.mutable.LinkedHashMap(
              parts.drop(2).map { e =>
                val i = e.lastIndexOf(':')
                e.substring(0, i) -> e.substring(i + 1).toLong
              }.toIndexedSeq: _*)
            counts(key) = counts.getOrElse(key, 0L) + 1L
            val body = counts.map { case (k, c) => s"$k:$c" }
              .mkString(";")
            ctx.setValue(s"$n;$typ;$body")
        }
      }),
      Persist(StringCodec))
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir("graft_strans_split")
    stageTwoBatches(spark,
      Sources.messages(ev, "events", col("user_id").cast("string"),
        col("event_type"), col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("key", "st")
    val tr = runToTable(spark, table, "update")
      .select(col("key"), split(col("st"), ";").as("p"))
      .withColumn("nmsgs", element_at(col("p"), 1).cast("long"))
      .groupBy(col("key"))
      .agg(max_by(col("p"), col("nmsgs")).as("p"))
      .select(explode(slice(col("p"), 3, 1000000)).as("e"))
      .filter(col("e") =!= "")
      .select(split(col("e"), "[|:]").as("kk"))
      .select(element_at(col("kk"), 1).as("src"),
        element_at(col("kk"), 2).as("dst"),
        element_at(col("kk"), 3).cast("long").as("c"))
      .groupBy(col("src"), col("dst")).agg(sum(col("c")).as("cnt"))
    tr.withColumn("p", col("cnt").cast("double") /
      sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("src"))).cast("double"))
  }

  /** st62: STREAMING LATENESS MONITOR — q90's operational companion
    * measured the way a running pipeline actually sees disorder: per
    * user, an event is LATE iff an earlier-arriving event carried a
    * later timestamp (the running-max test a watermark performs).
    * Keyed state is (n, running max ts, n_late, max observed
    * lateness) — four longs; the oracle replays the same prefix-max
    * comparison with one arrival-ordered window, so the hash proves
    * the online fold ≡ the declarative definition. Alongside q90's
    * pair-exact Kendall disorder this is the cheap O(1)-state dial a
    * deployment leaves on permanently. */
  def streamLateness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-lateness")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val t = msg.asInstanceOf[String].toLong
        val (n, mx, nl, ml) = ctx.value match {
          case null => (0L, Long.MinValue, 0L, 0L)
          case s: String =>
            val p = s.split(',')
            (p(0).toLong, p(1).toLong, p(2).toLong, p(3).toLong)
        }
        val late = mx != Long.MinValue && t < mx
        ctx.setValue(Seq(n + 1, math.max(mx, t),
          if (late) nl + 1 else nl,
          if (late) math.max(ml, mx - t) else ml).mkString(","))
      }),
      Persist(StringCodec))
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir("graft_slate_split")
    stageTwoBatches(spark,
      Sources.messages(ev, "events", col("user_id").cast("string"),
        unix_micros(col("ts")).cast("string"),
        expr("timestamp_micros(event_id)"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("key", "st")
    runToTable(spark, table, "update")
      .select(col("key"), split(col("st"), ",").as("p"))
      .withColumn("n", element_at(col("p"), 1).cast("long"))
      .groupBy(col("key"))
      .agg(max_by(col("p"), col("n")).as("p"))
      .select(col("key").cast("long").as("user_id"),
        element_at(col("p"), 1).cast("long").as("n_events"),
        element_at(col("p"), 3).cast("long").as("n_late"),
        element_at(col("p"), 4).cast("long").as("max_late_us"))
  }

  /** st61: STREAMING CONTENT SEAL — c40's gate-stage provenance seal
    * maintained at ingest: the per-row hash is folded into per-shard
    * (count, xor) state as documents arrive, and the closing fold
    * xors the 32 shards together. xor is commutative AND
    * self-inverse, so the online seal is invariant to batch
    * boundaries, arrival order and shard assignment — the shared
    * oracle recomputes the seal from the raw table and the hash
    * match proves the stream never dropped, duplicated or mutated a
    * row (any of the three flips the seal). O(1) state per shard. */
  def streamContentSeal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-seal")(
      Input("docs", StringCodec, ProcessCallback { (ctx, msg) =>
        val h = msg.asInstanceOf[String].toLong
        val (n, x) = ctx.value match {
          case null => (0L, 0L)
          case s: String =>
            val p = s.split(','); (p(0).toLong, p(1).toLong)
        }
        ctx.setValue(s"${n + 1},${x ^ h}")
      }),
      Persist(StringCodec))
    val d = Sources.table(spark, dir, "documents")
      .filter(col("n_chars") >= 50)
    val staging = tempDir("graft_sseal_split")
    stageTwoBatches(spark,
      Sources.messages(d, "docs",
        pmod(col("doc_id"), lit(32L)).cast("string"),
        graft.functions.Hashes.h60(
          concat(col("doc_id").cast("string"), lit(":"),
            md5(col("text")))).cast("string"),
        expr("timestamp_micros(doc_id)"), col("doc_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("key", "st")
    runToTable(spark, table, "update")
      .select(col("key"), split(col("st"), ",").as("p"))
      .withColumn("n", element_at(col("p"), 1).cast("long"))
      .withColumn("x", element_at(col("p"), 2).cast("long"))
      .groupBy(col("key"))
      .agg(max_by(col("x"), col("n")).as("x"), max(col("n")).as("n"))
      .agg(sum(col("n")).as("n_rows"),
        expr("bit_xor(x)").as("content_hash"))
      .select(lit("1_gate").as("stage"), col("n_rows"),
        col("content_hash"))
  }

  /** st60: STREAMING REFLECTED BALANCE — q83's Lindley fold run as
    * the per-user state machine it literally is: state = (balance,
    * peak, msg counter), each event applies h ← max(0, h + Δ)
    * directly. The batch side computes the same timeline through the
    * closed form (running sum − floored running min); the shared
    * oracle hash is the proof that the algebraic rewrite and the
    * sequential fold agree on every user — the strongest kind of
    * parity the suite has for nonlinear recurrences (st32/q39 set
    * the pattern). O(1) state per user. */
  def streamFlooredBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-floored-balance")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val delta = msg.asInstanceOf[String].toLong
        val (bal, peak, n) = ctx.value match {
          case null => (0L, 0L, 0L)
          case s: String =>
            val p = s.split(',')
            (p(0).toLong, p(1).toLong, p(2).toLong)
        }
        val nb = math.max(0L, bal + delta)
        ctx.setValue(s"$nb,${math.max(peak, nb)},${n + 1}")
      }),
      Persist(StringCodec))
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir("graft_sfbal_split")
    stageTwoBatches(spark,
      Sources.messages(ev, "events", col("user_id").cast("string"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100.0d).cast("long"))
          .otherwise(-floor(col("value") * 100.0d).cast("long"))
          .cast("string"),
        col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("key", "st")
    runToTable(spark, table, "update")
      .select(col("key"), split(col("st"), ",").as("p"))
      .withColumn("nmsgs", element_at(col("p"), 3).cast("long"))
      .groupBy(col("key"))
      .agg(max_by(col("p"), col("nmsgs")).as("p"))
      .select(col("key").cast("long").as("user_id"),
        element_at(col("p"), 1).cast("long").as("final_cents"),
        element_at(col("p"), 2).cast("long").as("peak_cents"))
  }

  /** st59: STREAMING MANN–WHITNEY — the q81 rank test maintained
    * online, the real-time experimentation readout: keyed state is
    * the tie-collapsed (event_type, value) arm-count pair — the exact
    * sufficient statistic for the test, additive across micro-batches
    * and bounded by the VALUE cardinality, not the event count (the
    * same state economics as st56's (type, user) grain). The final
    * fold is [[graft.queries.Relational.mannWhitneyCollapsed]] — the
    * literal batch statistic code over the state table — so the
    * shared q81 oracle hash proves online state ≡ batch ranks,
    * midranks, tie correction and decision. Keys round-trip the
    * double through its shortest string form (exact both ways).
    *
    * State-size caveat for continuous metrics: distinct-value
    * cardinality can approach the event count (it does on this
    * corpus), making this the suite's worst-case-state streaming
    * query by design. A production deployment quantizes the metric
    * to a fixed grid first (cents, score buckets) — the state is
    * then bounded by the grid size and the test is exact on the
    * quantized metric. */
  def streamMannWhitney(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.mannWhitneyCollapsed(
      streamedArmCounts(spark, dir, "stream-mannwhitney",
        "graft_smw_split"))

  /** st63: STREAMING KOLMOGOROV–SMIRNOV — q91's distribution-shape
    * test maintained online over the SAME keyed state as st59 (the
    * tie-collapsed (event_type, value) arm-count pair is the exact
    * sufficient statistic for BOTH tests — one state table funds a
    * whole family of readouts, which is the point of keeping the
    * sufficient statistic rather than the decision as state). The
    * final fold is [[graft.queries.Relational.ksCollapsed]], the
    * literal batch statistic code, so the shared q91 oracle hash
    * proves online state ≡ batch ECDFs, D statistic and decision. */
  def streamKs(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.ksCollapsed(
      streamedArmCounts(spark, dir, "stream-ks", "graft_sks_split"))

  /** The shared st59/st63 state pipeline: per (event_type, value) key,
    * streaming arm counts (ca, cb) by user parity — the tie-collapsed
    * sufficient statistic both rank tests fold over. One ingest per
    * (session, dir) via [[sharedIngest]]; both readouts fold the same
    * maintained table. */
  private def streamedArmCounts(spark: SparkSession, dir: String,
      group: String, stagePrefix: String): DataFrame =
    sharedIngest(spark, dir, "armCounts") {
      streamedArmCountsIngest(spark, dir, group, stagePrefix)
    }

  private def streamedArmCountsIngest(spark: SparkSession, dir: String,
      group: String, stagePrefix: String): DataFrame = {
      import spark.implicits._
      val graph = GroupGraph.define(group)(
        Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
          val arm = msg.asInstanceOf[String]
          val (ca, cb) = ctx.value match {
            case null => (0L, 0L)
            case s: String =>
              val p = s.split(','); (p(0).toLong, p(1).toLong)
          }
          val nxt = if (arm == "0") (ca + 1, cb) else (ca, cb + 1)
          ctx.setValue(s"${nxt._1},${nxt._2}")
        }),
        Persist(StringCodec))
      val ev = Sources.table(spark, dir, "events")
      val staging = tempDir(stagePrefix)
      stageTwoBatches(spark,
        Sources.messages(ev, "events",
          concat(col("event_type"), lit("|"),
            col("value").cast("string")),
          pmod(col("user_id"), lit(2)).cast("string"),
          col("ts"), col("event_id")),
        staging)
      val stream = messageTopic(spark, staging)
      val out = new StreamExecutor(graph).run(spark, stream)
      val table = out.filter(_.sink == SinkTable)
        .map(e => (e.key, StringCodec.decode(e.value)))
        .toDF("key", "st")
      // counts only grow, so the max (ca+cb) upsert is the last one
      runToTable(spark, table, "update")
        .select(col("key"), split(col("st"), ",").as("p"))
        .select(col("key"),
          element_at(col("p"), 1).cast("long").as("ca"),
          element_at(col("p"), 2).cast("long").as("cb"))
        .groupBy(col("key"))
        .agg(max_by(struct(col("ca"), col("cb")), col("ca") + col("cb"))
          .as("s"))
        .select(substring_index(col("key"), "|", 1).as("event_type"),
          substring_index(col("key"), "|", -1).cast("double")
            .as("value"),
          col("s.ca").as("ca"), col("s.cb").as("cb"))
  }

  /** st64: STREAMING CHI-SQUARED INDEPENDENCE — q96's type-by-weekday
    * contingency test maintained online: the keyed state is one count
    * per (event_type, weekday) cell — the exact sufficient statistic
    * of the test, additive across micro-batches and sharded by the
    * composite key — and the readout folds the LITERAL batch
    * statistic code ([[graft.queries.Relational.chiSquaredCells]])
    * over it, so the shared q96 oracle hash proves online cell counts
    * produce the identical contingency table, expected counts and
    * micro-grain statistic. The st63 discipline: keep the sufficient
    * statistic as state, not the decision. */
  def streamChiSquared(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.chiSquaredCells(
      streamedWeekdayCells(spark, dir, "stream-chisq", "graft_schisq"))

  /** The shared st64/st72 contingency state pipeline: per (event_type,
    * weekday) key, a streamed occurrence count — the sufficient
    * statistic for the whole χ² family (test statistic, effect size)
    * from ONE state-table shape, exactly how [[streamedValueCounts]]
    * funds the order-statistic family. */
  private def streamedWeekdayCells(spark: SparkSession, dir: String,
      group: String, stagePrefix: String): DataFrame =
    sharedIngest(spark, dir, "weekdayCells") {
      streamedWeekdayCellsIngest(spark, dir, group, stagePrefix)
    }

  private def streamedWeekdayCellsIngest(spark: SparkSession, dir: String,
      group: String, stagePrefix: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define(group)(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val n = ctx.value match {
          case null => 0L
          case s: String => s.toLong
        }
        ctx.setValue((n + 1L).toString)
      }),
      Persist(StringCodec))
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir(stagePrefix)
    stageTwoBatches(spark,
      Sources.messages(ev, "events",
        concat(col("event_type"), lit("|"),
          pmod(datediff(col("ts").cast("date"),
            to_date(lit("2024-01-01"))), lit(7)).cast("string")),
        lit("1"), col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val tableRows = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("key", "st")
    runToTable(spark, tableRows, "update")
      .select(col("key"), col("st").cast("long").as("o"))
      // counts only grow, so the max upsert per key is the final one
      .groupBy(col("key")).agg(max(col("o")).as("o"))
      .select(substring_index(col("key"), "|", 1).as("event_type"),
        substring_index(col("key"), "|", -1).cast("long").as("weekday"),
        col("o"))
  }

  /** st72: STREAMING CRAMÉR'S V — q105's association effect size
    * maintained online over the SAME keyed contingency state shape as
    * st64, folding the literal q105 code
    * ([[graft.queries.Relational.cramersVCells]]) and sharing its
    * oracle hash: the second readout funded by the streamed
    * (type, weekday) count state. */
  def streamCramersV(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.cramersVCells(
      streamedWeekdayCells(spark, dir, "stream-cramer", "graft_scramer"))

  /** st75: STREAMING PAGERANK — q108's integer power iterations folded
    * over an ONLINE edge set: the keyed state is the distinct
    * user ↔ event-type edge inventory (key = edge, value = its
    * observation count — dedup-on-ingest, st08's shape applied to
    * graph maintenance), and the readout runs the literal q108
    * iterations ([[graft.queries.Relational.pagerankBipartite]]) over
    * the final state table, sharing q108's oracle hash. This is how a
    * rank actually deploys over a 100 TB interaction log: the
    * expensive part (distinct-edge maintenance) is incremental keyed
    * state; the bounded iterations run on demand over the maintained
    * graph, never over the raw log. */
  def streamPagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-pagerank")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val n = ctx.value match {
          case null => 0L
          case s: String => s.toLong
        }
        ctx.setValue((n + 1L).toString)
      }),
      Persist(StringCodec))
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir("graft_spr")
    stageTwoBatches(spark,
      Sources.messages(ev, "events",
        concat(lit("u:"), col("user_id").cast("string"), lit("|"),
          lit("t:"), col("event_type")),
        lit("1"), col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val tableRows = out.filter(_.sink == SinkTable)
      .map(e => e.key).toDF("key")
    val edges = runToTable(spark, tableRows, "update")
      .select(col("key")).distinct()
      .select(substring_index(col("key"), "|", 1).as("u"),
        substring_index(col("key"), "|", -1).as("t"))
    graft.queries.Relational.pagerankBipartite(edges)
  }

  /** st73: STREAMING PSI — q103's population stability index online:
    * the keyed state counts per (type, half, milli-value) where half
    * is the µs-midpoint window — EXACTLY the boundary the harness
    * splits micro-batches at, so batch 1 is the reference window and
    * batch 2 the current one: drift-of-what-just-arrived against
    * what-came-before, the deployment shape of a drift monitor. The
    * readout folds the literal q103 code
    * ([[graft.queries.Relational.psiCollapsed]]) and shares its
    * oracle hash. */
  def streamPsi(spark: SparkSession, dir: String): DataFrame = {
    // r17: the (type, half, milli-value) key st73 used to maintain
    // privately — the r16 verdict's single most expensive st query,
    // paying its own two-batch staging + streaming lifecycle — is
    // exactly the shared valueCounts family's key, so st73 is now a
    // READOUT over the maintained shared state like st67-st72: the
    // half bit rides the family key and the other readouts sum it
    // away. Same cells, same oracle hash (q103's).
    val halves = streamedValueCountsHalved(spark, dir, "stream-psi",
      "graft_spsi", 1000.0)
      .select(col("event_type"), col("half"), col("x").as("vfx"),
        col("cnt"))
    graft.queries.Relational.psiCollapsed(halves)
  }

  /** The shared st78/st79 state pipeline: per (event_type, day) key,
    * the streamed observation count and milli-value sum — ONE keyed
    * state shape funding the whole daily-series trend family (q106
    * Theil-Sen, q107 Kendall τ-b, q109 Hodges-Lehmann, q110
    * Mann-Kendall all read exactly this frame), the dailySeries
    * analogue of [[streamedValueCounts]]. */
  private def streamedDailyAggregates(spark: SparkSession, dir: String,
      group: String, stagePrefix: String): DataFrame =
    sharedIngest(spark, dir, "dailyAggregates") {
      streamedDailyAggregatesIngest(spark, dir, group, stagePrefix)
    }

  private def streamedDailyAggregatesIngest(spark: SparkSession, dir: String,
      group: String, stagePrefix: String): DataFrame = {
    import spark.implicits._
    val codec = Codecs.twoLongs[DailyAggState](s => (s.x, s.y))(
      DailyAggState.apply)
    val graph = GroupGraph.define(group)(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val v = msg.asInstanceOf[String].toLong
        ctx.value match {
          case null => ctx.setValue(DailyAggState(1L, v))
          case s: DailyAggState =>
            ctx.setValue(DailyAggState(s.x + 1L, s.y + v))
        }
      }),
      Persist(codec))
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir(stagePrefix)
    stageTwoBatches(spark,
      Sources.messages(ev, "events",
        concat(col("event_type"), lit("|"),
          datediff(col("ts").cast("date"), to_date(lit("2024-01-01")))
            .cast("long").cast("string")),
        floor(col("value") * 1000.0d).cast("long").cast("string"),
        col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val tableRows = out.filter(_.sink == SinkTable)
      .map { e => val s = codec.decode(e.value); (e.key, s.x, s.y) }
      .toDF("key", "x", "y")
    // x strictly grows and (x, y) update atomically: max-x upsert is
    // the final state, y rides max_by
    runToTable(spark, tableRows, "update")
      .groupBy(col("key"))
      .agg(max(col("x")).as("x"), max_by(col("y"), col("x")).as("y"))
      .select(substring_index(col("key"), "|", 1).as("event_type"),
        substring_index(col("key"), "|", -1).cast("long").as("d"),
        col("x"), col("y"))
  }

  /** st78: STREAMING MANN-KENDALL — q110's drift monitor online over
    * the shared per-(type, day) aggregate state, folding the literal
    * q110 code ([[graft.queries.Relational.mannKendallDaily]]) and
    * sharing its oracle hash: the trend test a deployment actually
    * wants continuous, not nightly. */
  def streamMannKendall(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.mannKendallDaily(
      streamedDailyAggregates(spark, dir, "stream-mk", "graft_smk"))

  /** st79: STREAMING THEIL-SEN — q106's robust slope online over the
    * SAME per-(type, day) state shape as st78, folding
    * [[graft.queries.Relational.theilSenDaily]] and sharing q106's
    * oracle: the second readout funded by one streamed daily state. */
  def streamTheilSen(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.theilSenDaily(
      streamedDailyAggregates(spark, dir, "stream-ts", "graft_sts"))

  /** st80: STREAMING KENDALL τ-b — q107's rank-agreement score
    * online: the THIRD readout funded by the shared per-(type, day)
    * aggregate state (st78 Mann-Kendall, st79 Theil-Sen), folding
    * [[graft.queries.Relational.kendallTauDaily]] and sharing q107's
    * oracle. */
  def streamKendallTau(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.kendallTauDaily(
      streamedDailyAggregates(spark, dir, "stream-kt", "graft_skt"))

  /** st81: STREAMING HODGES-LEHMANN — q109's robust location online:
    * the FOURTH readout funded by the shared per-(type, day)
    * aggregate state (st78/st79/st80), folding
    * [[graft.queries.Relational.hodgesLehmannDaily]] and sharing
    * q109's oracle. */
  def streamHodgesLehmann(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.hodgesLehmannDaily(
      streamedDailyAggregates(spark, dir, "stream-hl", "graft_shl"))

  /** st77: STREAMING BLOCK-KEEPER REGISTRY — d37's sub-document dedup
    * online: the keyed state holds, per 20-word block, the MINIMUM
    * packed (doc_id, block_index) ever seen — a commutative min-fold,
    * so arrival order across micro-batches is irrelevant — and the
    * readout runs d37's literal rewrite
    * ([[graft.ops.Dedup.rewriteWithKeepers]]) against the maintained
    * registry, sharing d37's oracle hash. At 100 TB this is CCNet's
    * paragraph-dedup as an INGEST service: the registry is keyed
    * state sharded by block, new documents are rewritten by lookup,
    * and no batch job ever re-scans the corpus. */
  def streamBlockKeepers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-blockkeep")(
      Input("blocks", StringCodec, ProcessCallback { (ctx, msg) =>
        val v = msg.asInstanceOf[String].toLong
        ctx.value match {
          case null => ctx.setValue(v.toString)
          case s: String =>
            if (v < s.toLong) ctx.setValue(v.toString)
        }
      }),
      Persist(StringCodec))
    val d = Sources.table(spark, dir, "documents")
    val blocks = graft.ops.Dedup.blocksOf(d, col("text"),
      col("doc_id"), blockWords = 20).localCheckpoint()
    val staging = tempDir("graft_sblock")
    // State is keyed by the 8-byte block FINGERPRINT
    // ([[graft.ops.Dedup.blockFp]]), not the raw ~120-byte block
    // string — at 100 TB the registry's keyspace (and every shard
    // exchange) carries longs; same d28 dictionary-encoding
    // discipline as the batch d37.
    stageTwoBatches(spark,
      Sources.messages(blocks, "blocks",
        graft.ops.Dedup.blockFp(col("block")),
        graft.ops.Dedup.packedBlockKey(col("doc_id"), col("bid"))
          .cast("string"),
        expr("timestamp_micros(doc_id)"), col("bid")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val tableRows = out.filter(_.sink == SinkTable)
      .map(e => (e.key.toLong, StringCodec.decode(e.value).toLong))
      .toDF("fp", "k")
    // the packed keeper only DECREASES per key; last upsert == min
    val keepers = runToTable(spark, tableRows, "update")
      .groupBy(col("fp")).agg(min(col("k")).as("keeper"))
    graft.ops.Dedup.rewriteWithKeepers(blocks, keepers)
  }

  /** st76: STREAMING SCORE QUANTILES — t55's cross-source
    * harmonization online: keyed state counts per (source, score);
    * the readout folds the literal t55 code
    * ([[graft.ops.TextAnalysis.quantileNormalize]]) over the final
    * state — the documents-side sibling of the st66-st70 shared-state
    * family, sharing t55's oracle hash. */
  def streamScoreQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-squant")(
      Input("docs", StringCodec, ProcessCallback { (ctx, _) =>
        val n = ctx.value match {
          case null => 0L
          case s: String => s.toLong
        }
        ctx.setValue((n + 1L).toString)
      }),
      Persist(StringCodec))
    val d = Sources.table(spark, dir, "documents")
    val nw = size(split(col("text"), " "))
    val stops = size(array_distinct(filter(split(lower(col("text")), " "),
      w => w.isInCollection(graft.ops.TextAnalysis.gopherStops))))
    val score = stops.cast("long") * 1000L +
      least(lit(1000L), nw.cast("long") * 2L)
    val staging = tempDir("graft_squant")
    stageTwoBatches(spark,
      Sources.messages(d, "docs",
        concat(col("source"), lit("|"), score.cast("string")),
        lit("1"), expr("timestamp_micros(doc_id)"), col("doc_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val tableRows = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("key", "st")
    val scored = runToTable(spark, tableRows, "update")
      .select(col("key"), col("st").cast("long").as("o"))
      .groupBy(col("key")).agg(max(col("o")).as("cnt"))
      .select(substring_index(col("key"), "|", 1).as("source"),
        substring_index(col("key"), "|", -1).cast("long").as("score"),
        col("cnt"))
    // quantileNormalize re-collapses; feed it the expanded grain it
    // expects by treating each (source, score) count as pre-grouped
    graft.ops.TextAnalysis.quantileNormalizeCollapsed(scored)
  }

  /** st74: STREAMING ECE — t53's calibration audit online: the keyed
    * state accumulates per (source, score-decile, label) the
    * observation count and milli-score mass — a reliability diagram
    * that updates as documents arrive, the monitor that catches a
    * quality classifier drifting off-calibration mid-ingest. The
    * readout folds the literal t53 code
    * ([[graft.ops.TextAnalysis.eceCollapsed]]) and shares its oracle
    * hash. */
  def streamEce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val codec = Codecs.twoLongs[EceState](s => (s.n, s.sum))(EceState.apply)
    val graph = GroupGraph.define("stream-ece")(
      Input("docs", StringCodec, ProcessCallback { (ctx, msg) =>
        val s = msg.asInstanceOf[String].toLong
        ctx.value match {
          case null => ctx.setValue(EceState(1L, s))
          case st: EceState => ctx.setValue(EceState(st.n + 1L, st.sum + s))
        }
      }),
      Persist(codec))
    val d = Sources.table(spark, dir, "documents")
    val nw = size(split(col("text"), " "))
    // t53's integer score/bin forms, verbatim
    val scoreMilli = least(lit(1000L), nw.cast("long") * 2L)
    val staging = tempDir("graft_sece")
    stageTwoBatches(spark,
      Sources.messages(d, "docs",
        concat(col("source"), lit("|"),
          least(lit(9L), floor(scoreMilli / lit(100.0d)).cast("long"))
            .cast("string"), lit("|"),
          when(graft.ops.TextAnalysis.gopherKeep(col("text"),
            minStopHits = 1), "1").otherwise("0")),
        scoreMilli.cast("string"),
        expr("timestamp_micros(doc_id)"), col("doc_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map { e => val s = codec.decode(e.value); (e.key, s.n, s.sum) }
      .toDF("key", "n", "sum_milli")
    // both accumulators are monotone and updated atomically, so the
    // max-n upsert per key is the final state; sum rides max_by
    val cells = runToTable(spark, table, "update")
      .groupBy(col("key"))
      .agg(max(col("n")).as("n"),
        max_by(col("sum_milli"), col("n")).as("sum_milli"))
      .select(split(col("key"), "\\|").as("kk"), col("n"),
        col("sum_milli"))
      .select(element_at(col("kk"), 1).as("source"),
        element_at(col("kk"), 2).cast("long").as("bin"),
        element_at(col("kk"), 3).cast("long").as("lbl"),
        col("n"), col("sum_milli"))
      .select(col("source"), col("bin"),
        col("n"),
        when(col("lbl") === 1L, col("n")).otherwise(0L).as("pos"),
        col("sum_milli"))
    graft.ops.TextAnalysis.eceCollapsed(cells)
  }

  /** st71: STREAMING WINSORIZED MEAN — q104's clamped-tail location
    * estimate online: the SIXTH readout funded by the shared
    * per-(type, milli-value) count state
    * (median/Gini/trimmed-mean/MAD/IQR/winsorized), folding the
    * literal q104 code and sharing its oracle. */
  def streamWinsorizedMean(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.winsorizedMeanCollapsed(
      streamedValueCounts(spark, dir, "stream-winsor", "graft_swinsor",
        1000.0)
        .select(col("event_type"), col("x").as("vfx"), col("cnt")))

  /** st65: STREAMING BENFORD AUDIT — q97's leading-digit test
    * maintained online: keyed state is one count per (event_type,
    * leading digit) — nine cells per type, the sufficient statistic —
    * and the readout folds the literal q97 code
    * ([[graft.queries.Relational.benfordCells]]), sharing its oracle
    * hash. The digit comes from the same milli-fixed-point string
    * derivation, computed in the message-key expression so the state
    * key IS the cell. */
  def streamBenford(spark: SparkSession, dir: String): DataFrame = {
    // r17: the leading digit is a pure function of the shared
    // family's milli fixed-point value for x ≥ 1 — and the original
    // pre-staging filters (value > 0, digit ≥ 1) reduce EXACTLY to
    // x ≥ 1 (value > 0 with floor(1000·v) = 0 was dropped as digit
    // 0; x ≥ 1 implies value > 0) — so st65's per-(type, digit)
    // state was a coarsening of the maintained valueCounts table
    // and its private staging + streaming lifecycle is gone.
    val obs = streamedValueCounts(spark, dir, "stream-benford",
      "graft_sbenford", 1000.0)
      .filter(col("x") >= 1L)
      .select(col("event_type"),
        substring(col("x").cast("string"), 1, 1).cast("long")
          .as("digit"),
        col("cnt"))
      .groupBy(col("event_type"), col("digit"))
      .agg(sum(col("cnt")).as("o"))
    graft.queries.Relational.benfordCells(obs)
  }

  /** One-ingest-many-readouts memoization: the final state table of a
    * shared-shape ingest, cached per (session, fixture dir, state
    * shape). This is the reference's own serving topology — ONE
    * processor maintains the group table and every View reads it
    * (`/root/reference/view.go:42-52`); re-running the identical
    * ingest per readout was an artifact of the one-shot oracle
    * harness, not a semantic requirement. The cached value is the
    * COLLAPSED final state (a memory-sink-backed session table), so
    * each readout still executes its own fold + oracle-checked
    * arithmetic; only the byte-identical replay is shared. Keyed on
    * a per-session UUID handed out by a WEAK-keyed registry — stable
    * and never reused, unlike the identity hash r15 used, which a
    * post-GC allocation could in principle collide onto a dead
    * session's cached table — and swept of stopped-session entries on
    * every call so a long-lived JVM (test suite, many sessions)
    * doesn't pin dead sessions' memory-sink tables forever.
    *
    * Sweep limitation (r16 ADVICE): "stopped" is detectable only at
    * SparkContext granularity. Sessions minted via `newSession()`
    * share a live context and have no independent stop signal, and
    * each cached DataFrame strongly pins its session through
    * `df.sparkSession` — so an abandoned SIBLING session's entries
    * are swept only when the whole context stops, not when the
    * sibling is dropped. Bounded in practice: the cache holds at most
    * one entry per (session, dir, state shape), a handful of
    * memory-sink tables, and every harness here (Bench child, Verify,
    * test fixture) runs one session per context. */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private[queries] def sessionId(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)
  private[queries] val sharedIngestCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), DataFrame]
  private[queries] def sharedIngest(spark: SparkSession, dir: String, shape: String)(
      build: => DataFrame): DataFrame = {
    sharedIngestCache.filterInPlace { (_, df) =>
      !df.sparkSession.sparkContext.isStopped }
    sharedIngestCache.getOrElseUpdate((sessionId(spark), dir, shape), build)
  }

  /** The shared st66-st73 state pipeline: per (event_type, half,
    * fixed-point value) key, a streamed occurrence count, where
    * `half` is the µs-midpoint window bit — the SAME boundary the
    * harness splits micro-batches at. This is the tie-collapsed
    * sufficient statistic that funds the whole order-statistic
    * family (median, Gini, trimmed mean, MAD, IQR, winsorized mean —
    * which sum the two halves away, exactly, since every event lands
    * in one half) AND the st73 drift monitor (which reads the halves
    * as reference vs current window) from ONE state-table shape;
    * `scale` picks the fixed-point grain (centi for st66's median,
    * milli for the rest so st68 shares q94's oracle verbatim and
    * st73 shares q103's). The ingest runs ONCE per (session, dir,
    * grain) via [[sharedIngest]]; before r17, st73 paid a private
    * staging + streaming lifecycle (the r16 verdict's single most
    * expensive st query) for a key that was a superset of this one. */
  private def streamedValueCounts(spark: SparkSession, dir: String,
      group: String, stagePrefix: String, scale: Double): DataFrame =
    streamedValueCountsHalved(spark, dir, group, stagePrefix, scale)
      .groupBy(col("event_type"), col("x"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(col("event_type"), col("x"), col("cnt"))

  private def streamedValueCountsHalved(spark: SparkSession, dir: String,
      group: String, stagePrefix: String, scale: Double): DataFrame =
    sharedIngest(spark, dir, s"valueCounts:$scale") {
      streamedValueCountsIngest(spark, dir, group, stagePrefix, scale)
    }

  private def streamedValueCountsIngest(spark: SparkSession, dir: String,
      group: String, stagePrefix: String, scale: Double): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define(group)(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val n = ctx.value match {
          case null => 0L
          case s: String => s.toLong
        }
        ctx.setValue((n + 1L).toString)
      }),
      Persist(StringCodec))
    val ev = Sources.table(spark, dir, "events")
    // The window boundary for the half bit: the same integer-µs
    // midpoint stageSplit chops micro-batches at (bounded 1-row
    // collect), threaded into the staging so it is computed once.
    val mid = ev.agg(
      expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2"))
      .head().getLong(0)
    val staging = tempDir(stagePrefix)
    stageTwoBatches(spark,
      Sources.messages(ev, "events",
        concat(col("event_type"), lit("|"),
          when(unix_micros(col("ts")) <= mid, lit("0"))
            .otherwise(lit("1")),
          lit("|"),
          floor(col("value") * scale).cast("long").cast("string")),
        lit("1"), col("ts"), col("event_id")),
      staging, Some(mid))
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val tableRows = out.filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("key", "st")
    runToTable(spark, tableRows, "update")
      .select(col("key"), col("st").cast("long").as("o"))
      // counts only grow, so the max upsert per key is the final one
      .groupBy(col("key")).agg(max(col("o")).as("cnt"))
      .select(split(col("key"), "\\|").as("kk"), col("cnt"))
      .select(element_at(col("kk"), 1).as("event_type"),
        element_at(col("kk"), 2).cast("long").as("half"),
        element_at(col("kk"), 3).cast("long").as("x"),
        col("cnt"))
  }

  /** st67: STREAMING GINI — q95's sorted-index inequality measure per
    * event type, maintained online over the SAME keyed state shape as
    * st66/st68 (per-(type, milli-value) counts); the readout folds
    * the literal q95 code ([[graft.queries.Relational
    * .giniCollapsed]]). The per-type cumulative window runs on the
    * collapsed frame — domain-bounded, the q95 argument. */
  def streamGini(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.giniCollapsed(
      streamedValueCounts(spark, dir, "stream-gini", "graft_sgini",
        1000.0)
        .select(col("event_type").as("flag"), col("x"), col("cnt")))
      .select(col("flag").as("event_type"), col("n"),
        col("gini_num"), col("gini_den"), col("gini"))

  /** st68: STREAMING TRIMMED MEAN — q94's robust location estimate
    * per event type over the same state (milli grain, so the fold is
    * [[graft.queries.Relational.trimmedMeanCollapsed]] VERBATIM and
    * the query shares q94's oracle hash — online counts provably
    * reproduce the batch trim). */
  def streamTrimmedMean(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.trimmedMeanCollapsed(
      streamedValueCounts(spark, dir, "stream-tmean", "graft_stmean",
        1000.0)
        .select(col("event_type"), col("x").as("vfx"), col("cnt")))

  /** st66: STREAMING EXACT MEDIAN — the per-type lower median of the
    * centi-fixed value maintained online: keyed state is one count per
    * (event_type, centi-value) — the tie-collapsed sufficient
    * statistic, additive across micro-batches — and the readout folds
    * the literal q99 pick ([[graft.queries.Relational
    * .weightedMedianOver]], each value's count as its weight). The
    * oracle recomputes the same order statistic from raw events, so
    * the hash proves online value-counts reproduce the exact median —
    * no sketch, no approximation, state bounded by the value DOMAIN
    * (the q69 collapse argument), not the stream length. */
  def streamMedian(spark: SparkSession, dir: String): DataFrame =
    // NOTE (r17): st66 deliberately keeps its own centi-grain
    // ingest. The nested-floor identity floor(v·100) =
    // floor(floor(v·1000)/10) holds for exact reals but NOT for
    // independently-rounded double products: v·100 and v·1000 are
    // separate multiplications, and near a boundary they round to
    // opposite sides of an integer (measured at sf0.001:
    // v ≈ 35.62 gives v·100 = 3561.999…95 → 3561 while
    // v·1000 = 35620.000…04 → 35620 → 3562). Deriving centi from
    // the shared milli state shifted one median bucket and broke
    // the oracle hash, so the coarse grain must be quantized from
    // the raw value exactly as the oracle does it.
    graft.queries.Relational.weightedMedianOver(
      streamedValueCounts(spark, dir, "stream-median", "graft_smedian",
        100.0)
        .select(col("event_type").as("flag"), col("x"),
          col("cnt").as("wv")))
      .select(col("flag").as("event_type"), col("total_w"),
        col("median_centi"), col("median"))

  /** st69: STREAMING MAD — q101's robust scale estimate online, the
    * FOURTH readout funded by the shared per-(type, milli-value)
    * count state (median st66, Gini st67, trimmed mean st68): the
    * readout folds the literal q101 code
    * ([[graft.queries.Relational.madCollapsed]]) and shares its
    * oracle, proving online counts reproduce both nested medians. */
  def streamMad(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.madCollapsed(
      streamedValueCounts(spark, dir, "stream-mad", "graft_smad",
        1000.0)
        .select(col("event_type"), col("x").as("vfx"), col("cnt")))

  /** st70: STREAMING IQR OUTLIER SCREEN — q102's Tukey-fence counts
    * online: the FIFTH readout funded by the shared per-(type,
    * milli-value) count state (median/Gini/trimmed-mean/MAD/IQR),
    * folding the literal q102 code and sharing its oracle. */
  def streamIqrOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.iqrOutliersCollapsed(
      streamedValueCounts(spark, dir, "stream-iqr", "graft_siqr",
        1000.0)
        .select(col("event_type"), col("x").as("vfx"), col("cnt")))

  /** st56: STREAMING EXACT LEADERBOARD — continuous top-10 users by
    * exact cents spend per event type: the keyed state is the
    * (type, user) cents accumulator (additive across micro-batches,
    * sharded by the composite key), and the top-k rank folds over the
    * FINAL state table — a (types × users)-grain frame, not the
    * event stream. The contrast with st29 matters: SpaceSaving (st29)
    * is the bounded-memory approximation for unbounded key domains;
    * this is the exact answer when per-key state is affordable — a
    * leaderboard over users IS per-key state, so maintaining it costs
    * nothing extra and the rank is exact. Ties break to the smaller
    * user_id; per-type rank windows partition by type. */
  def streamLeaderboard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-leaderboard")(
      Input("events", StringCodec, ProcessCallback { (ctx, msg) =>
        val cents = msg.asInstanceOf[String].toLong
        val cur = ctx.value match { case null => 0L; case n: Long => n }
        ctx.setValue(cur + cents)
      }),
      Persist(Int64Codec))
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir("graft_slead_split")
    stageTwoBatches(spark,
      Sources.messages(ev, "events",
        concat(col("event_type"), lit("|"), col("user_id")),
        floor(col("value") * 100.0d).cast("long").cast("string"),
        col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cents")
    // update-mode upserts: the accumulator only grows per key, so
    // the last upsert == max
    val sums = runToTable(spark, table, "update")
      .groupBy(col("key")).agg(max(col("cents")).as("cents"))
      .select(split(col("key"), "\\|").as("kk"), col("cents"))
      .select(element_at(col("kk"), 1).as("event_type"),
        element_at(col("kk"), 2).cast("long").as("user_id"),
        col("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("cents").desc, col("user_id"))
    sums.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
  }

  /** st55: STREAMING OOD ADMISSION GATE — s41 turned into the ingest
    * guard it exists for: the model (s33's base-trained frozen
    * centroids) and the decision threshold (EXACT p95 of the base
    * corpus' distance-to-assigned-centroid, via the bucketed
    * [[graft.ops.Ranks]] rank — never a single-task sort) are fixed
    * up front; arrivals then stream in and each micro-batch is scored
    * against the frozen model map-side (broadcast centroids, native
    * int64 sqdist) and flagged `is_ood` on the way in — the drift
    * quarantine a 100 TB embedding ingest runs BEFORE arrivals
    * contaminate cell statistics. Scoring depends only on the frozen
    * model, so the two-batch replay must equal the batch computation;
    * the oracle replays the Lloyd chain + the same 20·rank ≥ 19·n
    * threshold selection. */
  def streamOodGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Vectors
    val e = Sources.table(spark, dir, "embeddings")
    val base = e.filter(col("vec_id") % 10 =!= 7)
    val arrivals = e.filter(col("vec_id") % 10 === 7)
    val (cents, _) = Vectors.kmeansFit(base, col("vec_id"),
      col("embedding"), k = 16, iters = 2)
    def score(df: org.apache.spark.sql.DataFrame) =
      Vectors.ivfInvertedLists(df, col("vec_id"), col("embedding"),
          cents)
        .join(broadcast(cents), Seq("cid"))
        .withColumn("d2", Vectors.sqDist(col("iv"), col("civ")))
        .select(col("vid").as("vec_id"), col("cid").as("cell"),
          col("d2"))
    val (ranked, n, _) = graft.ops.Ranks.rankedCumsumTotals(
      score(base), col("d2"), col("vec_id"), lit(1L))
    val th = ranked.filter(col("rank") * 20 >= lit(19L * n))
      .agg(min(col("d2")).as("th")).localCheckpoint()
    val staging = tempDir("graft_ood_src")
    val now = System.currentTimeMillis()
    stageFile(arrivals.filter(col("vec_id") % 20 === 7), staging,
      "b1.parquet", now - 120000)
    stageFile(arrivals.filter(col("vec_id") % 20 === 17), staging,
      "b2.parquet", now - 60000)
    val resultDir = tempDir("graft_ood_out") + "/scored"
    withQueries(spark)(parquetSink(topic(spark, staging, arrivals.schema),
      resultDir, "append", None)(score))(drain)
    spark.read.parquet(resultDir)
      .crossJoin(broadcast(th))
      .select(col("vec_id"), col("cell"), col("d2"),
        (col("d2") > col("th")).as("is_ood"))
  }

  /** st54: STREAMING PER-GROUP TREND — q74's per-type daily-volume
    * OLS slope maintained from the stream: the keyed state is the
    * (event_type, day) counter (goka's simplest fold, sharded by the
    * composite key across the cluster), and the five OLS moments fold
    * over the FINAL counter table — a day-grain frame, corpus-free —
    * after the replay. Counts are additive across micro-batches, so
    * the two-batch time-split replay must land on exactly the batch
    * aggregate; the hash match against q74's oracle proves it. The
    * monitor shape this serves: slope-per-source updated continuously
    * without ever re-scanning history. */
  def streamGroupTrend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val graph = GroupGraph.define("stream-trend")(
      Input("events", StringCodec, ProcessCallback { (ctx, _) =>
        val cur = ctx.value match { case null => 0L; case n: Long => n }
        ctx.setValue(cur + 1L)
      }),
      Persist(Int64Codec))
    val ev = Sources.table(spark, dir, "events")
    val staging = tempDir("graft_strend_split")
    stageTwoBatches(spark,
      Sources.messages(ev, "events",
        concat(col("event_type"), lit("|"),
          datediff(date_trunc("day", col("ts")),
            lit("2024-01-01").cast("date")).cast("string")),
        col("event_type"), col("ts"), col("event_id")),
      staging)
    val stream = messageTopic(spark, staging)
    val out = new StreamExecutor(graph).run(spark, stream)
    val table = out.filter(_.sink == SinkTable)
      .map(e => (e.key, Int64Codec.decode(e.value))).toDF("key", "cnt")
    val daily = runToTable(spark, table, "update")
      .groupBy(col("key")).agg(max(col("cnt")).as("y"))
      .select(split(col("key"), "\\|").as("kk"), col("y"))
      .select(element_at(col("kk"), 1).as("event_type"),
        element_at(col("kk"), 2).cast("long").as("x"), col("y"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        (col("n_days") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx")).as("den"))
      .withColumn("slope_per_day",
        when(col("den") =!= 0L,
          col("num").cast("double") / col("den").cast("double")))
  }

  /** st52: STREAMING INCREMENTAL COMMITS + NET CHANGE DATA FEED — the
    * c19/c29 lifecycle driven by a stream: the change set arrives as
    * micro-batches (split by key parity — disjoint, so commit order
    * cannot matter), each foreachBatch commits its OWN copy-on-write
    * version via [[graft.ops.Lake.mergeVersioned]], and the result is
    * [[graft.ops.Lake.versionDiff]] across the WHOLE chain (v1 →
    * latest). Because the per-batch key sets are disjoint and upserts
    * carry full final payloads, the composed commits land on exactly
    * the single-merge state — so the net diff shares c29's oracle,
    * and the hash match proves two things at once: the manifest
    * chain composes correctly across streaming commits, and the
    * diff's manifest pruning stays lossless when the two versions
    * are several commits apart. */
  def streamIncrementalCdc(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Lake
    val ev = Sources.table(spark, dir, "events")
    val cutoff = lit("2024-01-16").cast("timestamp")
    def profiles(d: org.apache.spark.sql.DataFrame) =
      d.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(12,2)")).as("val_sum"))
    val lakeDir = tempDir("graft_scdc") + "/profiles"
    Lake.writeVersioned(profiles(ev.filter(col("ts") < cutoff)),
      "user_id", lakeDir, 8)
    val postUsers = ev.filter(col("ts") >= cutoff)
      .select(col("user_id")).distinct()
    val dels = postUsers.filter(col("user_id") % 7 === 3)
      .select(col("user_id"), lit(null).cast("long").as("n_events"),
        lit(null).cast("decimal(22,2)").as("val_sum"),
        lit("delete").as("op"))
    val changes = profiles(ev)
      .join(postUsers.filter(col("user_id") % 7 =!= 3), Seq("user_id"))
      .withColumn("op", lit("upsert"))
      .unionByName(dels)
    val staging = tempDir("graft_scdc_src")
    val now = System.currentTimeMillis()
    stageFile(changes.filter(col("user_id") % 2 === 0), staging,
      "b1.parquet", now - 120000)
    stageFile(changes.filter(col("user_id") % 2 === 1), staging,
      "b2.parquet", now - 60000)
    val ckpt = tempDir("graft_scdc_ckpt")
    withQueries(spark)(batchSink(fileSource(spark, staging, changes.schema),
        "append", Some(ckpt)) { (b, _) =>
      if (!b.isEmpty) Lake.mergeVersioned(spark, lakeDir, "user_id", b, 8)
    })(drain)
    Lake.versionDiff(spark, lakeDir, "user_id", 1,
        Lake.latestVersion(lakeDir))
      .select(col("user_id"), col("change"),
        col("n_events_old"), col("n_events_new"),
        col("val_sum_old").cast("double").as("val_sum_old"),
        col("val_sum_new").cast("double").as("val_sum_new"))
  }

  /** st50: the A/B experiment readout LIVE — q66's distinct-user
    * conversion counts maintained as first-seen state, the exact
    * integer z-test applied to the folded counts (shared q66
    * oracle). Two staged topics carry the two grains: `ev_tu`
    * (key = type|user) marks conversion first-arrivals, `ev_u`
    * (key = user) marks exposure first-arrivals — set semantics, so
    * the result is arrival-order independent. Each first arrival
    * emits ONE message into the stage-2 count fold (keys
    * `type|arm` / `arm`); state is O(distinct keys), the st43
    * first-arrival-locking pattern. The tiny folded table then takes
    * the same cross-multiplied DECIMAL(38,0) significance test as
    * the batch plan. */
  def streamAbTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stage1 = GroupGraph.define("stream-ab")(
      Inputs(Seq("ev_tu", "ev_u"), StringCodec, ProcessCallback {
        (ctx, _) =>
          if (ctx.value == null) {
            ctx.setValue("1")
            if (ctx.topic == "ev_tu") {
              val i = ctx.key.lastIndexOf('|')
              val (t, u) = (ctx.key.substring(0, i),
                ctx.key.substring(i + 1).toLong)
              ctx.emit("conv", s"$t|${u % 2}", "1")
            } else ctx.emit("expo", (ctx.key.toLong % 2).toString, "1")
          }
      }),
      Persist(StringCodec), Output("conv", StringCodec),
      Output("expo", StringCodec))
    val stage2 = GroupGraph.define("ab-counts")(
      Inputs(Seq("conv", "expo"), StringCodec, ProcessCallback {
        (ctx, _) =>
          val n = ctx.value match {
            case null => 0L
            case s: String => s.toLong
          }
          ctx.setValue((n + 1L).toString)
      }),
      Persist(StringCodec))
    val ev = Sources.table(spark, dir, "events")
    val stagingTU = tempDir("graft_ab_tu")
    val stagingU = tempDir("graft_ab_u")
    stageTwoBatches(spark, Sources.messages(ev, "ev_tu",
      concat(col("event_type"), lit("|"), col("user_id")),
      lit(1L), col("ts"), col("event_id")), stagingTU)
    stageTwoBatches(spark, Sources.messages(ev, "ev_u",
      col("user_id"), lit(1L), col("ts"), col("event_id")), stagingU)
    val relayC = tempDir("graft_ab_conv")
    val relayE = tempDir("graft_ab_expo")
    val firsts = routed(new StreamExecutor(stage1).run(spark,
        messageTopic(spark, stagingTU)
          .unionByName(messageTopic(spark, stagingU))),
      Map("conv" -> relayC, "expo" -> relayE), None)
    val countsTable = new StreamExecutor(stage2)
      .run(spark, relayTopic(spark, relayC)
        .unionByName(relayTopic(spark, relayE)))
      .filter(_.sink == SinkTable)
      .map(e => (e.key, StringCodec.decode(e.value)))
      .toDF("k", "v")
    val counts = runToTable(spark, countsTable, "update", firsts)
      .groupBy(col("k")).agg(max(col("v").cast("long")).as("n"))
    val conv = counts.filter(col("k").contains("|"))
      .select(split_part(col("k"), lit("|"), lit(1)).as("event_type"),
        split_part(col("k"), lit("|"), lit(2)).cast("int").as("arm"),
        col("n"))
      .groupBy(col("event_type"))
      .agg(coalesce(sum(when(col("arm") === 0, col("n"))), lit(0L))
        .as("ca"),
        coalesce(sum(when(col("arm") === 1, col("n"))), lit(0L))
          .as("cb"))
    val expo = counts.filter(!col("k").contains("|"))
      .agg(coalesce(sum(when(col("k") === "0", col("n"))), lit(0L))
        .as("na"),
        coalesce(sum(when(col("k") === "1", col("n"))), lit(0L))
          .as("nb"))
    val d38 = (c: org.apache.spark.sql.Column) =>
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    conv.crossJoin(broadcast(expo))
      .withColumn("nn", col("na") + col("nb"))
      .withColumn("cc", col("ca") + col("cb"))
      .withColumn("significant",
        d38(col("ca") * col("nb") - col("cb") * col("na")) *
          d38(col("ca") * col("nb") - col("cb") * col("na")) *
          d38(col("nn")) >
        lit(4) * d38(col("cc")) * d38(col("nn") - col("cc")) *
          d38(col("na")) * d38(col("nb")))
      .select(col("event_type"), col("na"), col("nb"), col("ca"),
        col("cb"),
        expr("CASE WHEN ca * nb = 0 THEN NULL ELSE " +
          "(cb * na - ca * nb) * 1000000L div (ca * nb) END")
          .as("lift_ppm"),
        col("significant"))
  }
}
