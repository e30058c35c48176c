package gokabench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess
import graft.GraftSessions
import graft.testkit.Tester

/** Command-line options; see perfbench/README.md. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, streamRate: Int, streamTriggerMs: Int,
    tmp: Path, outDir: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --name value pairs, got ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("stream-rate").toInt,
      get("stream-trigger-ms").toInt, Paths.get(get("tmp-dir")), Paths.get(get("out-dir")))
    require(Workloads.Names.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0 && o.cores > 0, "seconds and cores must be positive")
    o
  }
}

/** One benchmark run in a fresh JVM: prints one JSON result line last and
  * writes one artifact file per run. */
object Main {
  /** Set-up reps per untraced run; setup_s uses their median. */
  final val SetupReps = 3

  /** Longest window of the traced run's phases (s): it measures five
    * windows, which must fit in one run's time limit with the end-to-end
    * run length. */
  final val TracedWindowS = 8.0

  private val MB = 1048576.0

  def main(args: Array[String]): Unit =
    try run(Opts.parse(args))
    catch { case e: Throwable =>
      // exit even if a server or query thread is still alive
      e.printStackTrace()
      sys.exit(1)
    }

  private def run(o: Opts): Unit = {
    Files.createDirectories(o.tmp)
    val spark = GraftSessions.builder(o.cores.toString)
      .config("spark.sql.warehouse.dir", o.tmp.resolve("warehouse").toString)
      .config("spark.local.dir", o.tmp.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val (summary, artifact) =
      try if (o.trace) traced(spark, o) else untraced(spark, o, sessionS)
      finally spark.stop()
    Artifact.write(o, summary, artifact)
    println(Json.write(summary))
    System.out.flush()
    sys.exit(0)
  }

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Timed window with process CPU around it. */
  private def measure(w: Workload, o: Opts, tr: Option[Tracer]): (Window, Long) = {
    val c0 = cpuNs
    val win = w.window(o.seconds, tr)
    (win, cpuNs - c0)
  }

  /** Machine-wide (steal, total) CPU ticks from /proc/stat: time the
    * hypervisor gave to other guests explains wall-time drift that no
    * counter of the program shows. */
  private def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.sum)
    } finally f.close()
  }

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  private def heapLiveMb(): Double = {
    // Spark's cleaner frees the blocks of unreferenced RDDs, broadcasts and
    // shuffles on its own thread after a GC, about 40 MB here: a single
    // reading depended on whether it had finished. Collect until two
    // readings agree, at least three times.
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    }
    var readings = List(used())
    while (readings.size < 3 ||
        (math.abs(readings.head - readings(1)) > 1.0 && readings.size < 10)) {
      Thread.sleep(500)
      readings = used() :: readings
    }
    readings.head
  }

  /** Peak resident set (VmHWM), which includes RocksDB's native memory. */
  private def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def metric(v: Double, unit: String): ListMap[String, Any] =
    ListMap("value" -> v, "unit" -> unit)

  private def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, ListMap[String, Any])]): ListMap[String, Any] =
    ListMap("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics: _*))

  /** [[SetupReps]] set-up reps, the last left in place: (seconds, input
    * build ms) of each. */
  private def setupReps(w: Workload): Seq[(Double, Double)] =
    (1 to SetupReps).map { r =>
      if (r > 1) w.reset()
      val t = System.nanoTime()
      val buildMs = w.setup()
      ((System.nanoTime() - t) / 1e9, buildMs)
    }

  private def untraced(spark: SparkSession, o: Opts,
      sessionS: Double): (ListMap[String, Any], ListMap[String, Any]) = {
    val w = Workloads(o.workload, spark, o)
    w.prepare()
    val reps = setupReps(w).map(_._1)
    val setupS = sessionS + Stats.median(reps)
    val (steal0, total0) = cpuTicks()
    val (win, cpu) = measure(w, o, None)
    val (steal1, total1) = cpuTicks()
    val stealPct = 100.0 * (steal1 - steal0) / math.max(1L, total1 - total0)
    w.quiesce()
    val heap = heapLiveMb()
    w.reset()
    val (wa, wf) = w.warmupChecks
    val attempted = win.attempted + wa
    val failed = win.failed + wf
    val (tailP, tailMs) = Stats.tail(win.latMs, 0.9, win.latWeight)
    System.err.println(f"perfbench: session ${sessionS}%.2f s, set-up reps " +
      reps.map(r => f"$r%.2f").mkString(" ") + f" s, window ${win.seconds}%.2f s, " +
      f"${win.ops} ops, ${win.units} units of work, host steal $stealPct%.1f%%")
    val metrics = Seq(
      "setup_s" -> metric(setupS, "s"),
      "ops_per_s" -> metric(win.opsPerSec, "1/s"),
      "lat_p50_ms" -> metric(Stats.tail(win.latMs, 0.5, win.latWeight)._2, "ms"),
      "lat_p90_ms" -> metric(tailMs, "ms"),
      "cpu_us_per_op" -> metric(cpu / 1e3 / win.ops, "us"),
      "heap_live_mb" -> metric(heap, "MB"),
      "rss_peak_mb" -> metric(rssPeakMb(), "MB"))
    val summary = result(failed == 0, attempted, failed, metrics)
    (summary, ListMap("session_s" -> sessionS, "setup_reps_s" -> reps,
      "window_s" -> win.seconds, "window_ops" -> win.ops,
      "latency_samples" -> win.latMs.size * win.latWeight,
      "lat_p90_percentile_used" -> tailP, "units_of_work" -> win.units,
      "host_steal_pct" -> stealPct))
  }

  /** The traced run: the named workload untraced, traced and untraced
    * again (for the tracing overhead and Spark's counters on it), then the
    * other two
    * workloads traced, so every layer is measured on the workload that
    * exercises it; then the single-threaded Tester baseline. */
  private def traced(spark: SparkSession, opts: Opts): (ListMap[String, Any], ListMap[String, Any]) = {
    val o = opts.copy(seconds = math.min(opts.seconds, TracedWindowS))
    val tr = new Tracer(spark)
    var attempted = 0L
    var failed = 0L
    val layers = Seq.newBuilder[Layer]
    def phase(name: String)(f: Workload => Unit): Unit = {
      val w = Workloads(name, spark, o)
      w.prepare()
      if (name == o.workload) {
        // warmed like an untraced run, so the overhead compares like with like
        val buildMs = Stats.median(setupReps(w).map(_._2))
        layers += Layer("sources.input_build_ms", buildMs, "ms")
      } else w.setup()
      try f(w) finally {
        w.reset()
        GraftStateStoreAccess.unloadAll()
        val (a, fl) = w.warmupChecks
        attempted += a; failed += fl
      }
    }
    def count(win: Window): Unit = { attempted += win.attempted; failed += win.failed }

    phase(o.workload) { w =>
      // untraced, traced, untraced: the traced window is compared with the
      // mean of the windows around it, so JIT warm-up does not bias it.
      val (plain, plainCpu) = measure(w, o, None)
      count(plain)
      tr.attach()
      tr.jobs.reset()
      val gc0 = gcMs
      val (win, cpu) = measure(w, o, Some(tr))
      val gc = gcMs - gc0
      tr.drain()
      count(win)
      val (jobs, tasks) = tr.jobs.snapshot
      tr.detach()
      val (plain2, plainCpu2) = measure(w, o, None)
      count(plain2)
      tr.attach()
      val ops = win.ops.toDouble
      val plainPerOp = (plainCpu.toDouble / plain.ops + plainCpu2.toDouble / plain2.ops) / 2
      System.err.println(f"perfbench: cpu us/op untraced ${plainCpu / 1e3 / plain.ops}%.2f, " +
        f"traced ${cpu / 1e3 / ops}%.2f, untraced ${plainCpu2 / 1e3 / plain2.ops}%.2f")
      layers ++= win.layers
      layers ++= Seq(
        Layer("spark.jobs_per_op", jobs.size / ops, "count/op"),
        Layer("spark.tasks_per_op", tasks.size / ops, "count/op"),
        Layer("spark.task_cpu_ms", tasks.map(_.cpuNs).sum / 1e6 / ops, "ms/op"),
        Layer("spark.gc_ms", gc / ops, "ms/op"),
        Layer("spark.shuffle_write_mb", tasks.map(_.shuffleWrite).sum / MB / ops, "MB/op"),
        Layer("spark.shuffle_read_mb", tasks.map(_.shuffleRead).sum / MB / ops, "MB/op"),
        Layer("spark.spill_mb", tasks.map(_.spill).sum / MB / ops, "MB/op"),
        Layer("bench.trace_overhead_pct",
          (cpu.toDouble / win.ops - plainPerOp) / plainPerOp * 100.0, "%"))
    }
    // The other workloads only contribute per-layer metrics: half a window,
    // but long enough for a few stream batches.
    val half = o.copy(seconds = math.max(o.seconds / 2, 4.0))
    Workloads.Names.filterNot(_ == o.workload).foreach { name =>
      phase(name) { w =>
        val (win, _) = measure(w, half, Some(tr))
        count(win)
        layers ++= win.layers
      }
    }
    layers += Layer("testkit.tester_ops_per_s", testerOpsPerS(o.seed), "1/s")
    tr.detach()
    val all = layers.result().sortBy(_.name)
    val summary = result(failed == 0, math.max(1L, attempted), failed,
      all.map(l => l.name -> metric(l.value, l.unit)))
    (summary, ListMap(
      "spans" -> tr.spans.synchronized(tr.spans.toList).map(s => ListMap(
        "id" -> s.id, "name" -> s.name, "workload" -> s.workload, "op" -> s.op,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "spark_jobs" -> tr.jobs.snapshot._1.map(j => ListMap(
        "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "parent" -> j.parent))))
  }

  /** The replay graph and input through [[Tester]] on one thread, no
    * Spark: messages per second over at most two seconds. */
  def testerOpsPerS(seed: Long): Double = {
    val gen = ReplayInput(seed)
    val t = new Tester(Graphs.replay())
    gen.blocked.foreach(k => t.setTableValue(Graphs.Blocked, k, "1"))
    gen.dict.foreach { case (k, v) => t.setTableValue(Graphs.Dict, k, v) }
    val start = System.nanoTime()
    val deadline = start + 2000000000L
    var i = 0
    while (i < gen.size && System.nanoTime() < deadline) {
      t.consume(Graphs.Msgs, gen.senders(i), gen.texts(i)); i += 1
    }
    i / ((System.nanoTime() - start) / 1e9)
  }
}

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** One artifact per run, named by time, workload, seed and pid; an
  * existing file is never overwritten. */
object Artifact {
  def write(o: Opts, summary: ListMap[String, Any], extra: ListMap[String, Any]): Unit = {
    Files.createDirectories(o.outDir)
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss-SSS")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
    val pid = ProcessHandle.current().pid()
    val base = s"$stamp-${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}-$pid"
    val body = Json.write(ListMap("workload" -> o.workload, "seed" -> o.seed,
      "seconds" -> o.seconds, "trace" -> o.trace, "cores" -> o.cores,
      "stream_rate" -> o.streamRate, "stream_trigger_ms" -> o.streamTriggerMs,
      "result" -> summary) ++ extra)
    var n = 0
    var done = false
    while (!done) {
      val p = o.outDir.resolve(if (n == 0) s"$base.json" else s"$base-$n.json")
      try { Files.write(p, body.getBytes(UTF_8), java.nio.file.StandardOpenOption.CREATE_NEW); done = true }
      catch { case _: java.nio.file.FileAlreadyExistsException => n += 1 }
    }
  }
}
