package gokabench

import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Processor
import graft.core.{Message, TableRow}
import graft.core.Codecs.StringCodec
import graft.operators.BatchResult
import graft.sources.{Emitter, Sources}

/** A per-layer metric of the traced run. */
final case class Layer(name: String, value: Double, unit: String)

/** What one timed window produced. `latMs` holds one latency sample per
  * `latWeight` ops; `units` counts the independent units of work behind
  * them (replay jobs, stream micro-batches, serve requests).
  * `attempted`/`failed` count checked operations. */
final case class Window(ops: Long, seconds: Double, opsPerSec: Double,
    latMs: Seq[Double], latWeight: Long, units: Int, attempted: Long,
    failed: Long, layers: Seq[Layer])

/** One workload: `prepare` generates the seeded input and the reference
  * result (the benchmark's own work, untimed); `setup` is one set-up rep
  * through the program (inputs, persisted tables, started queries and an
  * untimed warm-up of the timed operation); `window` is the measurement. */
trait Workload {
  def name: String
  def prepare(): Unit
  /** One set-up rep; returns the input build time in ms. */
  def setup(): Double
  /** Stop offering new work and let in-flight work finish (before the
    * end-of-window heap reading). */
  def quiesce(): Unit = ()
  /** Release one rep's set-up before the next. */
  def reset(): Unit
  def window(seconds: Double, tracer: Option[Tracer]): Window
  /** (attempted, failed) of the checked warm-up operations. */
  def warmupChecks: (Long, Long)
}

/** The replay graph's inputs as the program sees them: the topic through
  * an [[Emitter]], the tables through [[Sources]]. */
final class ReplayInputs(spark: SparkSession, gen: ReplayInput) {
  import spark.implicits._
  val msgs: Dataset[Message] = {
    val e = new Emitter[String](Graphs.Msgs, StringCodec)
    var i = 0
    while (i < gen.size) { e.emitSync(gen.senders(i), gen.texts(i)); i += 1 }
    // localCheckpoint, not persist: a persisted local dataset still ships
    // its rows inside every task that reads it.
    e.finish(spark).localCheckpoint()
  }
  val blocked: Dataset[TableRow] = Sources.tableRows(
    gen.blocked.toSeq.map(k => (k, "1")).toDF("k", "v"), col("k"), col("v"))
    .localCheckpoint()
  val dict: Dataset[TableRow] = Sources.tableRows(
    gen.dict.toSeq.toDF("k", "v"), col("k"), col("v")).localCheckpoint()

  def run(proc: Processor): BatchResult = proc.runBatch(
    Map(Graphs.Msgs -> msgs), Map(Graphs.Blocked -> blocked), Map(Graphs.Dict -> dict))
}

object ReplayInputs {
  def tableDigest(spark: SparkSession, r: BatchResult): Digest = {
    import spark.implicits._
    r.table.map(t => Digest.row(t.key, t.value)).reduce(_ + _)
  }
  def outputDigest(spark: SparkSession, r: BatchResult): Digest = {
    import spark.implicits._
    r.outputs(Graphs.Delivered).map(m => Digest.row(m.key, m.value)).reduce(_ + _)
  }
}

/** Bounded replay of the messaging filter, back to back. One op is one
  * message; a job replays the whole topic and materialises the table and
  * the output through digests checked against the reference. */
final class ReplayWorkload(spark: SparkSession, seed: Long) extends Workload {
  val name = "replay"
  private var gen: ReplayInput = _
  private var ref: Reference.Replay = _
  private var inputs: ReplayInputs = _
  private var warm = (0L, 0L)

  def prepare(): Unit = { gen = ReplayInput(seed); ref = Reference.replay(gen) }

  def setup(): Double = {
    val t = System.nanoTime()
    inputs = new ReplayInputs(spark, gen)
    val buildMs = (System.nanoTime() - t) / 1e6
    val ok = check(inputs.run(Processor(spark, Graphs.replay())))
    warm = (warm._1 + gen.size, warm._2 + (if (ok) 0 else gen.size))
    buildMs
  }

  // Checkpointed inputs are freed by Spark's cleaner once unreferenced.
  def reset(): Unit = inputs = null
  def warmupChecks: (Long, Long) = warm

  private def check(r: BatchResult): Boolean =
    ReplayInputs.tableDigest(spark, r) == ref.tableDigest &&
      ReplayInputs.outputDigest(spark, r) == ref.outputDigest

  def window(seconds: Double, tracer: Option[Tracer]): Window = {
    val proc = Processor(spark, Graphs.replay(traced = tracer.isDefined))
    CoreCounters.reset()
    val walls = mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    while (walls.isEmpty || System.nanoTime() < deadline) {
      val op = walls.size.toLong
      val t0 = System.nanoTime()
      val ok = try tracer match {
        case None => check(inputs.run(proc))
        case Some(tr) => tr.span("replay.job", name, op) { id =>
          val r = tr.span("operators.replay.run_call", name, op, id)(_ => inputs.run(proc))
          tr.span("operators.replay.action", name, op, id)(_ => check(r))
        }
      } catch { case e: Exception =>
        System.err.println(s"replay job $op failed: $e"); false
      }
      walls += (System.nanoTime() - t0) / 1e6
      if (!ok) failed += gen.size
    }
    val secs = (System.nanoTime() - start) / 1e9
    val ops = walls.size.toLong * gen.size
    Window(ops, secs, gen.size / (Stats.median(walls.toSeq) / 1e3), walls.toSeq,
      gen.size.toLong, walls.size, ops, failed,
      tracer.map(layers(_, walls.size)).getOrElse(Nil))
  }

  /** core.* per replay job from the timed callbacks; operators.replay.*
    * from the job spans and Spark's job/task events. */
  private def layers(tr: Tracer, nJobs: Int): Seq[Layer] = {
    tr.drain()
    val (jobs, tasks) = tr.jobs.snapshot
    val spans = tr.spans.synchronized(tr.spans.filter(_.workload == name).toList)
    val byName = spans.groupBy(_.name)
    def med(n: String) = Stats.median(byName(n).map(s => s.endMs - s.startMs))
    val runCalls = byName("operators.replay.run_call")
    val gaps = byName("replay.job").map { j =>
      val kids = spans.filter(_.parent == j.id).map(_.id).toSet
      val iv = jobs.filter(sj => kids(sj.parent)).map(sj =>
        (math.max(sj.startMs.toDouble, j.startMs), math.min(sj.endMs.toDouble, j.endMs)))
        .filter { case (s, e) => e > s }
      (j.endMs - j.startMs) - TraceMath.unionMs(iv)
    }
    val skews = runCalls.flatMap { rc =>
      val stages = jobs.filter(_.parent == rc.id).flatMap(_.stages).toSet
      val byStage = tasks.filter(t => stages(t.stage)).groupBy(_.stage)
      if (byStage.isEmpty) None
      else {
        val fold = byStage.values.maxBy(_.map(_.shuffleRead).sum)
        val run = fold.map(_.runMs.toDouble)
        Some(run.max / math.max(1.0, Stats.median(run)))
      }
    }
    val c = CoreCounters
    val n = nJobs.toDouble
    val selfNs = c.totalNs.sum - c.stateNs.sum - c.joinLookupNs.sum - c.emitNs.sum
    Seq(
      Layer("core.callbacks", c.callbacks.sum / n, "count/job"),
      Layer("core.callback_self_ms", selfNs / 1e6 / n, "ms/job"),
      Layer("core.state_codec_ms", c.stateNs.sum / 1e6 / n, "ms/job"),
      Layer("core.join_lookup_ms", c.joinLookupNs.sum / 1e6 / n, "ms/job"),
      Layer("core.emit_ms", c.emitNs.sum / 1e6 / n, "ms/job"),
      Layer("operators.replay.run_call_ms", med("operators.replay.run_call"), "ms"),
      Layer("operators.replay.action_ms", med("operators.replay.action"), "ms"),
      Layer("operators.replay.driver_gap_ms", Stats.median(gaps), "ms"),
      Layer("operators.replay.task_skew",
        if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio"))
  }
}

object Workloads {
  final val Names = Seq("replay", "stream", "serve")

  def apply(name: String, spark: SparkSession, o: Opts): Workload = name match {
    case "replay" => new ReplayWorkload(spark, o.seed)
    case "stream" => new StreamWorkload(spark, o.seed, o.streamRate,
      o.streamTriggerMs, o.seconds, o.cores, o.tmp)
    case "serve" => new ServeWorkload(spark, o.seed, o.tmp)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}
