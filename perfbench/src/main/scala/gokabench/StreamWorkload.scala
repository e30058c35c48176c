package gokabench

import java.nio.file.Path
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import graft.Processor
import graft.core.Message
import graft.operators.BatchExecutor.Emitted
import graft.streaming.MetricsListener

/** Open-loop source: appends the slots of each 5 ms tick to the stream
  * when the tick is due, whatever the query is doing. */
final class Generator(ms: MemoryStream[Message], ev: StreamEvents, perTick: Int) {
  @volatile private var running = true
  @volatile var t0 = 0L
  @volatile var appended = 0
  @volatile var exhausted = false
  val lateMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  private val thread = new Thread(() => loop(), "bench-generator")
  thread.setDaemon(true)

  def dueNs(slot: Int): Long = t0 + (slot / perTick).toLong * StreamEvents.TickNs
  /** Appends tick 0 at once, so the query's first (state-store creating)
    * batch can run before the schedule starts. */
  def prime(): Unit = { ms.addData(ev.messages.take(perTick).toSeq); appended = perTick }
  /** Starts the schedule at tick 1, due now. */
  def start(): Unit = { t0 = System.nanoTime() - StreamEvents.TickNs; thread.start() }
  def stop(): Unit = { running = false; thread.join() }

  private def loop(): Unit = {
    var tick = 1L
    while (running) {
      val due = t0 + tick * StreamEvents.TickNs
      val wait = due - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      else {
        val from = (tick * perTick).toInt
        if (from + perTick > ev.size) { exhausted = true; running = false }
        else {
          ms.addData(ev.messages.slice(from, from + perTick).toSeq)
          appended = from + perTick
          lateMs += (System.nanoTime() - due) / 1e6
          tick += 1
        }
      }
    }
  }
}

/** Collects the sink batches on the driver and checks every emitted row
  * against the reference: each input event exactly once, with the count
  * and join flag the plain fold gives it. */
final class Sink(ev: StreamEvents, ref: Reference.Stream, gen: Generator) {
  import Sink.Batch
  val batches: mutable.ArrayBuffer[Batch] = mutable.ArrayBuffer.empty
  private val seen = new java.util.BitSet(ev.size)
  val finalCounts: mutable.HashMap[String, Long] = mutable.HashMap.empty
  var delivered = 0L
  var duplicated = 0L
  var mismatched = 0L

  def handle(batch: Dataset[Emitted]): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val rows = batch.filter(_.sink == Graphs.Counts).map { e =>
      val (n, id, joined) = Graphs.CountCodec.decode(e.value)
      (e.key, n, id, joined)
    }.collect()
    val end = System.nanoTime()
    synchronized {
      rows.foreach { case (key, n, id0, joined) =>
        val id = id0.toInt
        if (seen.get(id)) duplicated += 1
        else { seen.set(id); delivered += 1 }
        if (!ev.isInput(id) || key != ev.messages(id).key ||
            n != ref.count(id) || (joined == 1L) != ref.joined(id)) mismatched += 1
        if (n > finalCounts.getOrElse(key, 0L)) finalCounts(key) = n
      }
      if (rows.nonEmpty)
        batches += Batch(end, rows.map(r => (end - gen.dueNs(r._3.toInt)) / 1e6))
    }
  }

  /** Input slots below `slots` that never reached the sink. */
  def missing(slots: Int): Long = synchronized {
    (0 until slots).count(i => ev.isInput(i) && !seen.get(i)).toLong
  }
}

object Sink {
  /** A sink batch: when it ended and its events' latencies. */
  final case class Batch(endNs: Long, latMs: Array[Double])
}

object Progress {
  final case class P(trigger: Long, plan: Long, addBatch: Long, commit: Long,
      gets: Long, puts: Long, getMs: Long, putMs: Long, hits: Long,
      misses: Long, sst: Long)
}

/** Per-batch progress counters Spark reports for the stateful query. */
final class Progress extends StreamingQueryListener {
  import Progress.P
  val ps: mutable.ArrayBuffer[P] = mutable.ArrayBuffer.empty

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      def c(k: String): Long = p.stateOperators.map(so =>
        Option(so.customMetrics.get(k)).map(_.longValue).getOrElse(0L)).sum
      synchronized {
        ps += P(d("triggerExecution"), d("queryPlanning"), d("addBatch"),
          d("walCommit") + d("commitOffsets"), c("rocksdbGetCount"),
          c("rocksdbPutCount"), c("rocksdbGetLatency"), c("rocksdbPutLatency"),
          c("rocksdbReadBlockCacheHitCount"), c("rocksdbReadBlockCacheMissCount"),
          c("rocksdbSstFileSize"))
      }
    }
  }
  def snapshot: Seq[P] = synchronized(ps.toList)
}

/** The counter graph on transformWithState + RocksDB, fed at one fixed
  * rate, with a fixed processing-time trigger: while a micro-batch takes
  * less than the trigger interval, every batch holds the same number of
  * events, so per-batch costs do not shift with the host's speed. One op
  * is one input event whose row reached the sink; its latency runs from
  * its due time to the end of the sink batch that delivered it.
  * Throughput is measured between the first and the last batch of the
  * window, so it does not jump with how batches align to the window. */
final class StreamWorkload(spark: SparkSession, seed: Long, rate: Int,
    triggerMs: Int, seconds: Double, cores: Int, tmp: Path) extends Workload {
  val name = "stream"
  require(rate > 0 && rate % 200 == 0, s"stream rate $rate must be a positive multiple of 200")
  private val perTick = rate / 200
  // Enough slots for set-up, three windows (the traced run's) and slack.
  private val slots = ((StreamWorkload.WarmupS + 3 * seconds + 10.0) * rate).toInt
  private var ev: StreamEvents = _
  private var ref: Reference.Stream = _
  private var gen: Generator = _
  private var sink: Sink = _
  private var query: StreamingQuery = _
  private var rep = 0
  private var warm = (0L, 0L)

  def prepare(): Unit = { ev = StreamEvents(seed, slots); ref = Reference.stream(ev) }

  def setup(): Double = {
    rep += 1
    val t = System.nanoTime()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // One partition per core; by default each append is its own partition.
    val ms = MemoryStream[Message](cores)
    val stream = ms.toDS()
    val buildMs = (System.nanoTime() - t) / 1e6
    gen = new Generator(ms, ev, perTick)
    sink = new Sink(ev, ref, gen)
    val s = sink
    query = Processor(spark, Graphs.stream()).runStream(stream)
      .writeStream
      .option("checkpointLocation", tmp.resolve(s"stream-ckpt-$rep").toString)
      .foreachBatch((b: Dataset[Emitted], _: Long) => s.handle(b))
      .trigger(Trigger.ProcessingTime(triggerMs.toLong))
      .start()
    gen.prime()
    query.processAllAvailable()
    gen.start()
    Thread.sleep((StreamWorkload.WarmupS * 1000).toLong)
    buildMs
  }

  override def quiesce(): Unit = { gen.stop(); query.processAllAvailable() }

  def reset(): Unit = {
    gen.stop()
    val (a, f) = verify()
    warm = (warm._1 + a, warm._2 + f)
    query.stop()
    GraftStateStoreAccess.unloadAll()
  }

  def warmupChecks: (Long, Long) = warm

  /** Drain, then (attempted, failed) over every appended input event. */
  private def verify(): (Long, Long) = {
    query.processAllAvailable()
    val appended = gen.appended
    val expected = Reference.finalCounts(ev, appended)
    val wrongFinal = sink.synchronized {
      expected.count { case (k, n) => sink.finalCounts.getOrElse(k, 0L) != n } +
        sink.finalCounts.keySet.count(k => !expected.contains(k))
    }
    val attempted = (0 until appended).count(ev.isInput(_)).toLong
    val failed = sink.missing(appended) + sink.duplicated + sink.mismatched +
      wrongFinal + (if (gen.exhausted) 1L else 0L)
    (attempted, failed)
  }

  def window(seconds: Double, tracer: Option[Tracer]): Window = {
    val metrics = new MetricsListener()
    val progress = new Progress
    tracer.foreach { _ =>
      spark.streams.addListener(metrics); spark.streams.addListener(progress)
    }
    val t0 = System.nanoTime()
    val lateFrom = gen.lateMs.synchronized(gen.lateMs.size)
    Thread.sleep((seconds * 1000).toLong)
    val t1 = System.nanoTime()
    val backlog = gen.appended - sink.synchronized(sink.delivered) -
      (0 until gen.appended).count(i => !ev.isInput(i))
    tracer.foreach { tr =>
      tr.drain()
      spark.streams.removeListener(metrics); spark.streams.removeListener(progress)
    }
    val inWindow = sink.synchronized(sink.batches.filter(b => b.endNs >= t0 && b.endNs < t1).toList)
    val lat = inWindow.flatMap(_.latMs)
    val ops = lat.size.toLong
    val secs = (t1 - t0) / 1e9
    require(inWindow.size >= 2, s"only ${inWindow.size} sink batches in the window")
    val rate = inWindow.tail.map(_.latMs.length).sum /
      ((inWindow.last.endNs - inWindow.head.endNs) / 1e9)
    val layers = tracer.map(_ => streamingLayers(metrics, progress, backlog,
      gen.lateMs.synchronized(gen.lateMs.drop(lateFrom).toList))).getOrElse(Nil)
    Window(ops, secs, rate, lat, 1L, inWindow.size, ops, 0L, layers)
  }

  private def streamingLayers(m: MetricsListener, p: Progress, backlog: Long,
      lateMs: Seq[Double]): Seq[Layer] = {
    val batches = m.snapshot.filter(_.numInputRows > 0)
    val states = m.stateSnapshot
    val ps = p.snapshot
    def p50(xs: Seq[Double]) = Stats.median(xs)
    val gets = ps.map(_.gets).sum.toDouble
    val puts = ps.map(_.puts).sum.toDouble
    val events = batches.map(_.numInputRows).sum.toDouble
    val hits = ps.map(_.hits).sum.toDouble
    val lookups = hits + ps.map(_.misses).sum
    Seq(
      Layer("streaming.batches", batches.size.toDouble, "count"),
      Layer("streaming.rows_per_batch_p50", p50(batches.map(_.numInputRows.toDouble)), "rows"),
      Layer("streaming.trigger_ms_p50", p50(ps.map(_.trigger.toDouble)), "ms"),
      Layer("streaming.plan_ms_p50", p50(ps.map(_.plan.toDouble)), "ms"),
      Layer("streaming.add_batch_ms_p50", p50(ps.map(_.addBatch.toDouble)), "ms"),
      Layer("streaming.commit_ms_p50", p50(ps.map(_.commit.toDouble)), "ms"),
      Layer("streaming.state_commit_ms_p50", p50(states.map(_.commitTimeMs.toDouble)), "ms"),
      Layer("streaming.rocksdb_get_count", gets / math.max(1.0, events), "count/row"),
      Layer("streaming.rocksdb_put_count", puts / math.max(1.0, events), "count/row"),
      Layer("streaming.rocksdb_get_ns", ps.map(_.getMs).sum * 1e6 / math.max(1.0, gets), "ns/get"),
      Layer("streaming.rocksdb_put_ns", ps.map(_.putMs).sum * 1e6 / math.max(1.0, puts), "ns/put"),
      Layer("streaming.rocksdb_cache_hit_ratio", if (lookups > 0) hits / lookups else 0.0, "ratio"),
      Layer("streaming.state_mem_mb",
        states.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0), "MB"),
      Layer("streaming.rocksdb_sst_mb", ps.lastOption.map(_.sst / 1048576.0).getOrElse(0.0), "MB"),
      Layer("streaming.backlog_rows_end", backlog.toDouble, "rows"),
      Layer("bench.gen_late_ms_p90", Stats.percentile(lateMs, 0.9), "ms"))
  }
}

object StreamWorkload {
  /** Seconds the generator runs in each set-up rep before timing starts. */
  final val WarmupS = 3.0
}
