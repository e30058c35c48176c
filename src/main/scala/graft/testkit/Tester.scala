package graft.testkit

import scala.collection.mutable
import graft.core._
import graft.operators.BatchExecutor.{FoldIterator, KindJoin, KindMessage, KindState, SinkLoop, SinkTable, Tagged}
import graft.operators.NilHandling

/** In-process test harness — the engine's equivalent of the reference's
  * `tester` package (`/root/reference/tester/tester.go:66-99`): an
  * in-memory broker with per-topic queues, synchronous consumption
  * (loop messages drain before `consume` returns, like
  * `tester/tester.go:416-441`), direct table access
  * (`TableValue`/`SetTableValue`, `tester/tester.go:282-326`) and
  * queue trackers (`tester/queue.go:75-147`).
  *
  * Runs the exact same [[FoldIterator]] callback machinery as the
  * distributed executors, one message at a time on the driver — no
  * SparkSession needed, so specs are fast.
  */
final class Tester(
    graph: GroupGraph,
    nilHandling: NilHandling = NilHandling.Ignore) {

  graph.validate()

  private val state = mutable.LinkedHashMap.empty[String, Array[Byte]]
  private val joinTables =
    mutable.Map.empty[String, mutable.Map[String, Array[Byte]]]
  private var lookups = Map.empty[String, Map[String, Array[Byte]]]
  private val queues = mutable.Map.empty[String, mutable.Buffer[Message]]
  private var offset = 0L

  /** Seed / overwrite a row of a Join or Lookup table. */
  def setTableValue(table: String, key: String, value: Any): Unit = {
    val codec = graph.joins.get(table).orElse(graph.lookups.get(table))
      .getOrElse(throw new IllegalArgumentException(
        s"$table is not a Join/Lookup of ${graph.group}"))
    val bytes = codec.asInstanceOf[Codec[Any]].encode(value)
    if (graph.joins.contains(table))
      joinTables.getOrElseUpdate(table, mutable.Map.empty)(key) = bytes
    else lookups += table -> (lookups.getOrElse(table, Map.empty) + (key -> bytes))
  }

  /** Seed the group table directly (`tester/tester.go:318-326`). */
  def setGroupTableValue(key: String, value: Any): Unit = {
    val codec = graph.persist.map(_.codec).getOrElse(
      throw new IllegalStateException("no Persist edge"))
    state(key) = codec.asInstanceOf[Codec[Any]].encode(value)
  }

  /** Push one message through the processor; synchronous — all loopback
    * cascades are drained before returning. */
  def consume(topic: String, key: String, value: Any,
      headers: Map[String, Array[Byte]] = Map.empty): Unit = {
    val bytes =
      if (value == null) null
      else graph.inputCodec(topic).asInstanceOf[Codec[Any]].encode(value)
    consumeAll(Seq(Message(key, bytes, topic).copy(headers = headers)))
  }

  /** Explicit work queue (not recursion) seeded with `msgs`; loopbacks
    * join its tail, capped at [[Tester.MaxLoopCascade]] like
    * BatchExecutor's maxLoopIterations, so a non-converging loop callback
    * fails with a clear diagnostic instead of running forever. */
  private def consumeAll(msgs: Seq[Message]): Unit = {
    import Tester.MaxLoopCascade
    val work = mutable.Queue(msgs: _*)
    var cascades = 0
    while (work.nonEmpty) {
      val m = work.dequeue()
      offset += 1
      val stateRow = state.get(m.key).iterator.map(v =>
        Tagged(m.key, KindState, graph.tableTopic, v, 0, 0L, 0L, 0, null))
      val joinRows = joinTables.iterator.flatMap { case (t, j) =>
        j.get(m.key).map(v => Tagged(m.key, KindJoin, t, v, 0, 0L, 0L, 0, null))
      }
      val msgRow = Iterator.single(Tagged(m.key, KindMessage, m.topic, m.value,
        0, offset, offset * 1000L, 0, m.headers))
      val out = new FoldIterator(graph, nilHandling, lookups,
        stateRow ++ joinRows ++ msgRow).toVector
      out.foreach { e =>
        e.sink match {
          case SinkTable =>
            if (e.value == null) state.remove(e.key) else state(e.key) = e.value
          case SinkLoop =>
            cascades += 1
            require(cascades <= MaxLoopCascade,
              s"loopback cascade exceeded $MaxLoopCascade messages for group " +
                s"${graph.group} — non-converging loop callback?")
            work.enqueue(Message(e.key, e.value, graph.loopTopic))
          case t => queues.getOrElseUpdate(t, mutable.Buffer.empty) +=
            e.toMessage(t)
        }
      }
    }
  }

  /** Decoded group-table row, or null (`tester/tester.go:282-316`). */
  def tableValue(key: String): Any =
    state.get(key) match {
      case Some(v) => graph.persist.get.codec.decode(v)
      case None => null
    }

  def tableKeys: Seq[String] = state.keys.toSeq

  /** Run a named visitor over every key (`processor.go:954-996`): one
    * visit message per key, consumed like any other message. */
  def visitAll(name: String, meta: Any = null): Long = {
    require(graph.visitors.contains(name), s"no visitor $name")
    val metaBytes = Codecs.JsonValueCodec.encode(meta)
    val visits = state.keys.toVector.map(Message(_, metaBytes, graph.visitTopic(name)))
    consumeAll(visits)
    visits.size.toLong
  }

  /** Sequential reader over an output topic's emitted messages. */
  final class QueueTracker(topic: String) {
    private var pos = 0
    def hwm: Int = queues.get(topic).map(_.size).getOrElse(0)
    def next(): Option[(String, Any)] = nextMessage().map(m => (m.key,
      if (m.value == null) null else graph.outputs(topic).decode(m.value)))
    def nextMessage(): Option[Message] = {
      val q = queues.getOrElse(topic, mutable.Buffer.empty)
      if (pos >= q.size) None else { val m = q(pos); pos += 1; Some(m) }
    }
  }

  def queueTracker(topic: String): QueueTracker = new QueueTracker(topic)
}

object Tester {
  /** Most loopback messages one `consume` or `visitAll` may cascade. */
  final val MaxLoopCascade = 1000
}
