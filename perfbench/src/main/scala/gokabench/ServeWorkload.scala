package gokabench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.Processor
import graft.operators.View
import graft.web.WebServer

/** Point reads through the web layer: two closed-loop clients, each
  * sending its next `GET /query/last5/{key}` only after the previous
  * reply. The table is the replay graph's group table, persisted
  * bucketed by key in set-up. One op is one reply. */
final class ServeWorkload(spark: SparkSession, seed: Long, tmp: Path) extends Workload {
  import ServeWorkload._
  val name = "serve"
  private var gen: ReplayInput = _
  private var ref: Reference.Replay = _
  private var present: IndexedSeq[String] = _
  private var view: View.BucketedView = _
  private var server: WebServer = _
  private var port = 0
  private var rep = 0
  private var warm = (0L, 0L)

  def prepare(): Unit = {
    gen = ReplayInput(seed)
    ref = Reference.replay(gen)
    present = ref.table.keys.toVector.sorted
  }

  def setup(): Double = {
    rep += 1
    val t = System.nanoTime()
    val inputs = new ReplayInputs(spark, gen)
    val buildMs = (System.nanoTime() - t) / 1e6
    val proc = Processor(spark, Graphs.replay())
    view = proc.view(inputs.run(proc).table).persistBucketed(
      s"${Table}_$rep", Buckets, tmp.resolve(s"serve-table-$rep").toString)
    server = new WebServer().attachTable(Table, view, Graphs.LinesCodec)
    port = server.start()
    val c = new Client(seed, Clients + rep)
    (1 to WarmupRequests).foreach(_ => c.request())
    warm = (warm._1 + c.replies, warm._2 + c.failed)
    buildMs
  }

  def reset(): Unit = server.stop()
  def warmupChecks: (Long, Long) = warm

  /** One closed-loop client with its own seeded key sequence. */
  private final class Client(seed: Long, id: Int) {
    private val keys = new ServeKeys(present, seed, id)
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val latMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
    var replies = 0L
    var failed = 0L

    /** Sends one request; returns its latency in ms. */
    def request(): Double = {
      val key = keys.next()
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query/$Table/$key")).GET().build()
      val t0 = System.nanoTime()
      val ok = try {
        val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
        (resp.statusCode, resp.body) == Reference.serveReply(ref.table, Table, key)
      } catch { case e: java.io.IOException =>
        System.err.println(s"serve request $key failed: $e"); false
      }
      val ms = (System.nanoTime() - t0) / 1e6
      replies += 1
      if (!ok) failed += 1
      ms
    }
  }

  def window(seconds: Double, tracer: Option[Tracer]): Window = {
    val clients = (0 until Clients).map(new Client(seed, _))
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = clients.map { c =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val ms = c.request()
          if (System.nanoTime() <= deadline) c.latMs += ms
        }
      }, "bench-client")
      t.start(); t
    }
    threads.foreach(_.join())
    val secs = (System.nanoTime() - start) / 1e9
    val lat = clients.flatMap(_.latMs)
    val ops = lat.size.toLong
    val layers = tracer.map(viewLayers(_, lat)).getOrElse(Nil)
    Window(ops, secs, ops / secs, lat, 1L, lat.size, clients.map(_.replies).sum,
      clients.map(_.failed).sum, layers)
  }

  /** View.get called directly on a client's key sequence, without HTTP,
    * with Spark's SQL-execution and job counters attached. */
  private def viewLayers(tr: Tracer, httpLat: Seq[Double]): Seq[Layer] = {
    tr.drain()
    tr.jobs.reset()
    tr.reads.reset()
    spark.listenerManager.register(tr.reads)
    val keys = new ServeKeys(present, seed, Clients + 100)
    val getMs = mutable.ArrayBuffer.empty[Double]
    var wrong = 0
    try {
      (0 until DirectReads).foreach { i =>
        val key = keys.next()
        val got = tr.span("operators.view.get", name, i.toLong)(_ => view.get(key))
          .map(b => Graphs.LinesCodec.decode(b))
        if (got != ref.table.get(key)) wrong += 1
      }
      tr.drain()
    } finally spark.listenerManager.unregister(tr.reads)
    require(wrong == 0, s"$wrong direct View.get results differ from the reference")
    getMs ++= tr.spans.synchronized(tr.spans.filter(_.name == "operators.view.get")
      .map(s => s.endMs - s.startMs))
    val reads = tr.reads.snapshot
    val (jobs, _) = tr.jobs.snapshot
    val getP50 = Stats.median(getMs.toSeq)
    Seq(
      Layer("operators.view.get_ms_p50", getP50, "ms"),
      Layer("operators.view.plan_ms", Stats.median(reads.map(_.planMs)), "ms"),
      Layer("operators.view.exec_ms", Stats.median(reads.map(_.execMs)), "ms"),
      Layer("operators.view.jobs_per_read", jobs.size.toDouble / DirectReads, "count"),
      Layer("operators.view.files_read_per_read",
        reads.map(_.files).sum.toDouble / DirectReads, "count"),
      Layer("web.overhead_ms_p50", Stats.median(httpLat) - getP50, "ms"))
  }
}

object ServeWorkload {
  final val Table = "last5"
  final val Buckets = 8
  final val Clients = 2
  final val WarmupRequests = 5
  final val DirectReads = 40
}
