package gokabench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.LongAdder
import graft.core._
import graft.core.Codecs.{Int64Codec, StringCodec}

/** The two group graphs the benchmark drives, plus the timed wrappers
  * its traced run uses. The untraced callbacks carry no timing code. */
object Graphs {
  // replay: goka's messaging filter
  final val Msgs = "msgs"
  final val Blocked = "blocked"
  final val Dict = "dict"
  final val Delivered = "delivered"
  // stream: a counter with a joined profile table
  final val Events = "events"
  final val Profile = "profile"
  final val Counts = "counts"

  /** Last-five list of texts, one per line. */
  object LinesCodec extends Codec[List[String]] {
    def encode(v: List[String]): Array[Byte] = v.mkString("\n").getBytes(UTF_8)
    def decode(b: Array[Byte]): List[String] = new String(b, UTF_8).split('\n').toList
  }

  /** (count, event id, joined flag). */
  val CountCodec: Codec[(Long, Long, Long)] =
    Codecs.threeLongs[(Long, Long, Long)](identity)((a, b, c) => (a, b, c))

  /** Drop blocked senders, translate words, keep the sender's last five
    * texts and deliver the text to its recipient. */
  def filterStep(ctx: Context, msg: Any): Unit =
    if (ctx.join(Blocked) == null) {
      val s = msg.asInstanceOf[String]
      val bar = s.indexOf('|')
      val words = s.substring(bar + 1).split(' ')
      var i = 0
      while (i < words.length) {
        ctx.lookup(Dict, words(i)) match {
          case t: String => words(i) = t
          case _ =>
        }
        i += 1
      }
      val text = words.mkString(" ")
      val prev = ctx.value match {
        case null => Nil
        case l: List[String] @unchecked => l
      }
      ctx.setValue((prev :+ text).takeRight(5))
      ctx.emit(Delivered, s.substring(0, bar), ctx.key + ">" + text)
    }

  /** Count events per key; emit (count, event id, joined?). */
  def countStep(ctx: Context, msg: Any): Unit = {
    val n = (ctx.value match { case null => 0L; case l: Long => l }) + 1L
    ctx.setValue(n)
    val joined = if (ctx.join(Profile) == null) 0L else 1L
    ctx.emit(Counts, ctx.key, (n, msg.asInstanceOf[Long], joined))
  }

  private def cb(traced: Boolean)(step: (Context, Any) => Unit): ProcessCallback =
    if (!traced) ProcessCallback(step)
    else ProcessCallback { (ctx, msg) =>
      val t0 = System.nanoTime()
      val tc = new TimedContext(ctx)
      step(tc, msg)
      CoreCounters.record(System.nanoTime() - t0, tc)
    }

  def replay(traced: Boolean = false): GroupGraph =
    GroupGraph.define("bench-filter")(
      Input(Msgs, StringCodec, cb(traced)(filterStep)),
      Join(Blocked, StringCodec),
      Lookup(Dict, StringCodec),
      Persist(LinesCodec),
      Output(Delivered, StringCodec))

  def stream(traced: Boolean = false): GroupGraph =
    GroupGraph.define("bench-counter")(
      Input(Events, Int64Codec, cb(traced)(countStep)),
      Join(Profile, StringCodec),
      Persist(Int64Codec),
      Output(Counts, CountCodec))
}

/** Per-callback time split of the traced run (local mode: every task
  * runs in this JVM, so plain static adders see all of them). */
object CoreCounters {
  val callbacks = new LongAdder
  val totalNs = new LongAdder
  val stateNs = new LongAdder
  val joinLookupNs = new LongAdder
  val emitNs = new LongAdder

  def record(total: Long, tc: TimedContext): Unit = {
    callbacks.increment()
    totalNs.add(total)
    stateNs.add(tc.stateNs)
    joinLookupNs.add(tc.joinLookupNs)
    emitNs.add(tc.emitNs)
  }

  def reset(): Unit =
    Seq(callbacks, totalNs, stateNs, joinLookupNs, emitNs).foreach(_.reset())
}

/** Delegating [[Context]] that times the calls a callback makes. */
final class TimedContext(c: Context) extends Context {
  var stateNs = 0L
  var joinLookupNs = 0L
  var emitNs = 0L

  def key: String = c.key
  def topic: String = c.topic
  def partition: Int = c.partition
  def offset: Long = c.offset
  def timestamp: java.sql.Timestamp = c.timestamp
  def headers: Map[String, Array[Byte]] = c.headers
  def group: String = c.group

  def value: Any = {
    val t = System.nanoTime(); val v = c.value; stateNs += System.nanoTime() - t; v
  }
  def setValue(v: Any): Unit = {
    val t = System.nanoTime(); c.setValue(v); stateNs += System.nanoTime() - t
  }
  def delete(): Unit = {
    val t = System.nanoTime(); c.delete(); stateNs += System.nanoTime() - t
  }
  def emit(topic: String, key: String, value: Any): Unit = {
    val t = System.nanoTime(); c.emit(topic, key, value); emitNs += System.nanoTime() - t
  }
  def emitWithHeaders(topic: String, key: String, value: Any,
      headers: Map[String, Array[Byte]]): Unit = {
    val t = System.nanoTime()
    c.emitWithHeaders(topic, key, value, headers)
    emitNs += System.nanoTime() - t
  }
  def loopback(key: String, value: Any): Unit = c.loopback(key, value)
  def join(table: String): Any = {
    val t = System.nanoTime(); val v = c.join(table); joinLookupNs += System.nanoTime() - t; v
  }
  def lookup(table: String, key: String): Any = {
    val t = System.nanoTime(); val v = c.lookup(table, key)
    joinLookupNs += System.nanoTime() - t; v
  }
  def deferCommit(): Option[Throwable] => Unit = c.deferCommit()
}
