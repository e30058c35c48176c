package graft

import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.Codecs.StringCodec
import graft.operators.{BatchExecutor, BatchResult, NilHandling}
import graft.operators.BatchExecutor.{Emitted, SinkTable}
import graft.streaming.{StaticLookups, StreamExecutor}
import graft.testkit.Tester

/** The three executors of a [[GroupGraph]] — the in-process [[Tester]],
  * the bounded [[BatchExecutor]] and the [[StreamExecutor]] — must give
  * the same final group table and the same multiset of messages on each
  * Output topic. Each seed draws a random graph (one `Inputs` edge or an
  * `Input` per topic, optional Join, Lookup and Persist, one or two
  * Outputs), random keyed messages with tombstones, and random join and
  * lookup tables. The stream reads the join rows first, as changelog
  * rows, then the messages in random consecutive micro-batch slices of
  * the batch's per-key order. Visit cases run a visitor that emits to an
  * Output and loops back through `Tester.visitAll` and
  * `BatchExecutor.visitAll`. */
class ExecutorEquivalenceSpec extends AnyFunSuite with SparkFixture {
  import ExecutorEquivalenceSpec._

  private val seeds = Seq(7, 42, 1009)

  private def word(rnd: Random): String =
    Seq.fill(1 + rnd.nextInt(3))(alphabet(rnd.nextInt(alphabet.length))).mkString

  private def bytes(v: String): Array[Byte] =
    if (v == null) null else StringCodec.encode(v)

  private def str(b: Array[Byte]): String =
    if (b == null) null else StringCodec.decode(b)

  /** Final table and sorted (topic, key, value) emissions. */
  private type Result = (Map[String, String], Seq[(String, String, String)])

  private def fromBatch(res: BatchResult): Result = (
    res.table.collect().map(r => r.key -> str(r.value)).toMap,
    res.outputs.toSeq.flatMap { case (t, ds) =>
      ds.collect().map(m => (t, m.key, str(m.value)))
    }.sortBy(_.toString))

  private def fromTester(t: Tester, g: GroupGraph): Result = (
    t.tableKeys.map(k => k -> t.tableValue(k).asInstanceOf[String]).toMap,
    g.outputs.keys.toSeq.flatMap { o =>
      val q = t.queueTracker(o)
      Iterator.continually(q.nextMessage()).takeWhile(_.isDefined)
        .map(m => (o, m.get.key, str(m.get.value))).toSeq
    }.sortBy(_.toString))

  /** Feed `slices` to the stream one micro-batch each; replay the
    * emitted changelog in batch order into the final table. */
  private def fromStream(g: GroupGraph, nil: NilHandling,
      lookups: Map[String, Map[String, Array[Byte]]],
      slices: Seq[Seq[Message]]): Result = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Message]
    val out = new StreamExecutor(g, nil).run(spark, ms.toDS(),
      StaticLookups(lookups))
    val got = mutable.ArrayBuffer.empty[(Long, Array[Emitted])]
    val q = out.writeStream.outputMode("update")
      .foreachBatch { (b: Dataset[Emitted], id: Long) =>
        got.synchronized { got += id -> b.collect() }; ()
      }.start()
    try slices.foreach { s => ms.addData(s); q.processAllAvailable() }
    finally q.stop()
    val rows = got.sortBy(_._1).flatMap(_._2).toSeq
    val table = mutable.Map.empty[String, String]
    rows.filter(_.sink == SinkTable).foreach { e =>
      if (e.value == null) table.remove(e.key) else table(e.key) = str(e.value)
    }
    (table.toMap, rows.filter(_.sink != SinkTable)
      .map(e => (e.sink, e.key, str(e.value))).sortBy(_.toString))
  }

  // Each case runs a graph with every edge kind, then a fully random one.
  for (seed <- seeds; nil <- Seq(NilHandling.Ignore, NilHandling.Process))
    test(s"seed $seed, $nil: Tester, batch and stream agree") {
      val rnd = new Random(seed)
      for (full <- Seq(true, false)) agree(drawShape(rnd, full), nil, rnd)
    }

  private def agree(shape: Shape, nil: NilHandling, rnd: Random): Unit = {
    import spark.implicits._
    val g = graphOf(shape)
    val keys = (0 until 3 + rnd.nextInt(6)).map(i => s"k$i")
    val offsets = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def next(topic: String): Long = { offsets(topic) += 1; offsets(topic) }
    // Ties in ts are allowed: every executor breaks them by (topic,
    // offset), so the per-key order is the same everywhere.
    val msgs = Seq.fill(30 + rnd.nextInt(50)) {
      val t = shape.topics(rnd.nextInt(shape.topics.size))
      Message(keys(rnd.nextInt(keys.size)),
        if (rnd.nextInt(8) == 0) null else bytes(word(rnd)), t, 0, next(t),
        new Timestamp(1000L * (1 + rnd.nextInt(40))), Map.empty)
    }.sortBy(m => (m.timestamp.getTime, m.topic, m.offset))
    val joinRows =
      if (!shape.join) Nil
      else keys.filter(_ => rnd.nextBoolean()).map(k => TableRow(k, bytes(word(rnd))))
    val lookup =
      if (!shape.lookup) Map.empty[String, Array[Byte]]
      else alphabet.filter(_ => rnd.nextBoolean())
        .map(c => c.toString -> bytes(word(rnd))).toMap

    val tester = new Tester(g, nil)
    joinRows.foreach(r => tester.setTableValue("j", r.key, str(r.value)))
    lookup.foreach { case (k, v) => tester.setTableValue("l", k, str(v)) }
    msgs.foreach(m => tester.consume(m.topic, m.key, str(m.value)))
    val viaTester = fromTester(tester, g)

    val viaBatch = fromBatch(new BatchExecutor(g, nil).run(spark,
      shape.topics.map(t => t -> msgs.filter(_.topic == t).toDS()).toMap,
      if (shape.join) Map("j" -> joinRows.toDS()) else Map.empty,
      if (shape.lookup) Map("l" -> lookup.toSeq.map(TableRow.tupled).toDS())
      else Map.empty))

    val changelog = joinRows.map(r => Message(r.key, r.value, "j", 0,
      next("j"), new Timestamp(0L), Map.empty))
    val ordered = changelog ++ msgs
    val cuts = (Seq.fill(1 + rnd.nextInt(3))(1 + rnd.nextInt(ordered.size - 1)) :+
      0 :+ ordered.size).distinct.sorted
    val slices = cuts.zip(cuts.tail).map { case (a, b) => ordered.slice(a, b) }
    val viaStream = fromStream(g, nil,
      if (shape.lookup) Map("l" -> lookup) else Map.empty, slices)

    val at = s"shape=$shape slices=${slices.map(_.size)}"
    assert(viaBatch == viaTester, s"batch vs Tester, $at")
    assert(viaStream == viaBatch, s"stream vs batch, $at")
  }

  for (seed <- seeds)
    test(s"seed $seed: visitAll emits and loops back alike in Tester and batch") {
      import spark.implicits._
      val rnd = new Random(seed)
      val g = visitGraph
      // k0's one-letter value makes at least one visit loop back.
      val table = ("k0" -> alphabet(rnd.nextInt(alphabet.length)).toString) +:
        (1 until 4 + rnd.nextInt(8)).map(i => s"k$i" -> word(rnd))
      val meta = rnd.nextInt(100).toLong

      val tester = new Tester(g)
      table.foreach { case (k, v) => tester.setGroupTableValue(k, v) }
      assert(tester.visitAll("v", meta) == table.size)
      val viaTester = fromTester(tester, g)

      val viaBatch = fromBatch(new BatchExecutor(g).visitAll(spark, "v",
        table.map { case (k, v) => TableRow(k, bytes(v)) }.toDS(), meta))

      assert(viaTester._2.exists(_._3.startsWith("loop:")),
        s"no visit looped back: $table")
      assert(viaBatch == viaTester, s"table=$table")
    }
}

/** The random graphs, outside the spec so their callbacks serialize. */
object ExecutorEquivalenceSpec {
  val alphabet = "abcxyz"

  /** Every random choice of one graph, drawn up front so the callbacks
    * close over plain data only. */
  final case class Shape(topics: Seq[String], shared: Boolean,
      join: Boolean, lookup: Boolean, persist: Boolean,
      outputs: Seq[String], delMark: Char, emitMod: Int, keepLast: Int)

  /** A random shape; `full` turns on Join, Lookup and Persist. */
  def drawShape(rnd: Random, full: Boolean): Shape = Shape(
    topics = Seq("t1", "t2", "t3").take(1 + rnd.nextInt(3)),
    shared = rnd.nextBoolean(),
    join = full || rnd.nextBoolean(), lookup = full || rnd.nextBoolean(),
    persist = full || rnd.nextInt(4) > 0,
    outputs = Seq("o1", "o2").take(1 + rnd.nextInt(2)),
    delMark = alphabet(rnd.nextInt(alphabet.length)),
    emitMod = 1 + rnd.nextInt(3), keepLast = 6 + rnd.nextInt(10))

  /** Order-sensitive fold: the state keeps the tail of every message,
    * join and lookup value seen; a tombstone or a `delMark` value
    * deletes it; emissions carry the message, state, join and lookup. */
  private def callback(s: Shape, tag: String): ProcessCallback =
    ProcessCallback { (ctx, msg) =>
      val m = if (msg == null) "~" else msg.toString
      val j = if (s.join) String.valueOf(ctx.join("j")) else ""
      val l = if (s.lookup) String.valueOf(ctx.lookup("l", m.take(1))) else ""
      if (s.persist) {
        if (msg == null || m.head == s.delMark) ctx.delete()
        else {
          val cur = ctx.value match { case null => ""; case v: String => v }
          ctx.setValue((cur + tag + m + j + l).takeRight(s.keepLast))
        }
      }
      val st = if (s.persist) String.valueOf(ctx.value) else ""
      s.outputs.zipWithIndex.foreach { case (o, i) =>
        if (Math.floorMod(m.hashCode + i, s.emitMod) == 0)
          ctx.emit(o, ctx.key + i, if (msg == null) null else s"$m|$st|$j|$l")
      }
    }

  def graphOf(s: Shape): GroupGraph = {
    val ins =
      if (s.shared) Seq(Inputs(s.topics, StringCodec, callback(s, "*")))
      else s.topics.map(t => Input(t, StringCodec, callback(s, t)))
    GroupGraph.define("equiv")(ins ++
      (if (s.join) Seq(Join("j", StringCodec)) else Nil) ++
      (if (s.lookup) Seq(Lookup("l", StringCodec)) else Nil) ++
      (if (s.persist) Seq(Persist(StringCodec)) else Nil) ++
      s.outputs.map(Output(_, StringCodec)): _*)
  }

  /** Visits run through each executor's own message path, so a visitor's
    * Output emissions and loopbacks land like a message callback's. */
  val visitGraph: GroupGraph = GroupGraph.define("visits")(
    Input("in", StringCodec, ProcessCallback((ctx, m) => ctx.setValue(m))),
    Persist(StringCodec),
    Output("vo", StringCodec),
    Loop(StringCodec, ProcessCallback { (ctx, m) =>
      ctx.setValue(s"looped:$m")
      ctx.emit("vo", ctx.key, s"loop:$m")
    }),
    VisitorEdge("v", ProcessCallback { (ctx, meta) =>
      val cur = ctx.value.toString
      ctx.emit("vo", ctx.key, s"visit:$meta:$cur")
      if (cur.length < 3) ctx.loopback(ctx.key + "'", cur)
      if (cur.head == 'x') ctx.delete() else ctx.setValue(s"$cur+$meta")
    }))
}
