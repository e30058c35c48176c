package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core._

/** How nil-valued (tombstone) input messages are handled — the
  * reference's nil-handling modes (`/root/reference/options.go:300-318`).
  * The reference default drops nil messages. */
sealed trait NilHandling extends Serializable
object NilHandling {
  /** Drop nil messages (reference default). */
  case object Ignore extends NilHandling
  /** Invoke the callback with a null decoded value. */
  case object Process extends NilHandling
}

/** Result of one batch replay of a group graph.
  *
  * @param table   complete group table after the replay — live rows only
  *                (tombstones already applied)
  * @param changelog raw changelog incl. tombstone rows (null value)
  * @param outputs one `Dataset[Message]` per declared Output topic
  */
final case class BatchResult(
    table: Dataset[TableRow],
    changelog: Dataset[TableRow],
    outputs: Map[String, Dataset[Message]])

/** Batch (bounded-replay) executor of a [[graft.core.GroupGraph]].
  *
  * Spark-first re-expression of the reference's processor loop
  * (`/root/reference/partition_processor.go:405-444`,
  * `processor.go:244-337`): instead of a goroutine per Kafka partition
  * feeding a serial callback loop, we
  *
  *   1. tag + union the initial state, co-partitioned join-table rows and
  *      input messages into one dataset;
  *   2. `repartition($"key")` — one shuffle, the Spark analogue of the
  *      reference's FNV-hash key→partition routing
  *      (`processor.go:222-240`);
  *   3. `sortWithinPartitions(key, kind, ts, topic, offset, seq)` — a
  *      *secondary sort*, so each task streams key-clustered, time-ordered
  *      rows without buffering any key in memory (scales to keys whose
  *      history exceeds RAM, unlike a `groupByKey.flatMapGroups` fold);
  *   4. run the per-key serial fold in `mapPartitions`, preserving the
  *      reference's per-key ordering guarantee.
  *
  * Lookup tables are fully replicated via broadcast — semantically what
  * the reference does by materializing a View per processor instance
  * (`processor.go:105-120`).
  *
  * Loopback (`graph.go:395-407`) is a cyclic dataflow and cannot live in
  * one Spark plan; [[run]] iterates the fold to a fixpoint on the loop
  * messages, checkpoint-truncating lineage each round.
  */
class BatchExecutor(
    graph: GroupGraph,
    nilHandling: NilHandling = NilHandling.Ignore,
    maxLoopIterations: Int = 50,
    maxLookupRows: Long = BatchExecutor.DefaultMaxLookupRows)
    extends Serializable {

  import BatchExecutor._

  def run(
      spark: SparkSession,
      inputs: Map[String, Dataset[Message]],
      joinTables: Map[String, Dataset[TableRow]] = Map.empty,
      lookupTables: Map[String, Dataset[TableRow]] = Map.empty,
      initialState: Option[Dataset[TableRow]] = None): BatchResult = {
    import spark.implicits._
    graph.validate()
    val declaredInputs = graph.inputs.map(_._1).toSet
    val undeclared = inputs.keySet.diff(declaredInputs)
    require(undeclared.isEmpty, s"inputs not declared on graph: $undeclared")
    require(joinTables.keySet == graph.joins.keySet,
      s"join tables ${joinTables.keySet} != declared ${graph.joins.keySet}")
    require(lookupTables.keySet == graph.lookups.keySet,
      s"lookup tables ${lookupTables.keySet} != declared ${graph.lookups.keySet}")

    // Replicated lookup views -> broadcast (small by contract, like the
    // reference's fully-copied Views); guarded so a mis-declared
    // corpus-sized Lookup fails loudly instead of OOMing the driver.
    val lookupMaps: Map[String, Map[String, Array[Byte]]] =
      lookupTables.map { case (t, ds) =>
        t -> replicateLookup(t, ds, maxLookupRows)
      }
    val bcLookups = spark.sparkContext.broadcast(lookupMaps)

    val joinTagged: Dataset[Tagged] = joinTables.map { case (t, ds) =>
      ds.filter(_.value != null)
        .map(r => Tagged(r.key, KindJoin, t, r.value, 0, 0L, 0L, 0, null))
    }.reduceOption(_ union _).getOrElse(spark.emptyDataset[Tagged])

    var state: Dataset[TableRow] =
      initialState.getOrElse(spark.emptyDataset[TableRow])
    var pending: Dataset[Tagged] = inputs.map { case (t, ds) =>
      ds.map(m => Tagged(m.key, KindMessage, t, m.value, m.partition,
        m.offset, tsMicros(m.timestamp), 0, m.headers))
    }.reduceOption(_ union _).getOrElse(spark.emptyDataset[Tagged])

    var emittedAcc: Dataset[Emitted] = spark.emptyDataset[Emitted]
    var changelogAcc: Dataset[TableRow] = spark.emptyDataset[TableRow]
    var iter = 0
    var done = false
    while (!done) {
      val stateTagged = state.filter(_.value != null)
        .map(r => Tagged(r.key, KindState, graph.tableTopic, r.value,
          0, 0L, 0L, 0, null))
      // localCheckpoint, not persist(): it materializes the fold once AND
      // its blocks are released by the ContextCleaner once unreferenced —
      // persist() entries sit in the CacheManager forever, accumulating
      // storage memory across fixpoint rounds and across queries on a
      // long-lived session. Trade-off, deliberate: lineage is truncated,
      // so losing an executor that held checkpoint blocks fails actions
      // on the returned BatchResult instead of recomputing. A bounded
      // replay is deterministic and idempotent, so the job-level retry
      // re-runs cleanly; callers needing executor-loss resilience should
      // write results to storage (which every query here does via the
      // driver) rather than hold long-lived references.
      val emitted = foldOnce(spark,
        pending.unionAll(stateTagged).unionAll(joinTagged), bcLookups)
        .localCheckpoint()

      val tableOut = emitted.filter(_.sink == SinkTable)
        .map(e => TableRow(e.key, e.value))
      val loopOut = emitted.filter(_.sink == SinkLoop)
      emittedAcc = emittedAcc.unionAll(
        emitted.filter(e => e.sink != SinkTable && e.sink != SinkLoop))
      changelogAcc = changelogAcc.unionAll(tableOut)
      state = tableOut.filter(_.value != null)

      val nLoop = if (graph.loop.isEmpty) 0L else loopOut.count()
      if (nLoop == 0) done = true
      else {
        iter += 1
        require(iter <= maxLoopIterations,
          s"loopback did not converge after $maxLoopIterations iterations")
        pending = loopOut.map(e => Tagged(e.key, KindMessage, graph.loopTopic,
          e.value, e.partition, e.offset, e.tsMicros, e.seq, e.headers))
        // Truncate lineage: each fixpoint round otherwise stacks a full
        // shuffle+fold plan on top of the previous one.
        state = state.localCheckpoint()
        pending = pending.localCheckpoint()
      }
    }

    val outputs = graph.outputs.keys.map { t =>
      t -> emittedAcc.filter(_.sink == t).map(_.toMessage(t))
    }.toMap
    BatchResult(state, changelogAcc, outputs)
  }

  /** Run a named visitor callback over every key of `table` — the
    * reference's `VisitAll` (`/root/reference/processor.go:954-996`). Runs
    * as a stop-the-world batch over the state snapshot. Returns the new
    * table plus any emissions. */
  def visitAll(
      spark: SparkSession,
      name: String,
      table: Dataset[TableRow],
      meta: Any = null,
      lookupTables: Map[String, Dataset[TableRow]] = Map.empty): BatchResult = {
    import spark.implicits._
    require(graph.visitors.contains(name), s"no visitor named $name")
    val bcLookups = spark.sparkContext.broadcast(
      lookupTables.map { case (t, ds) =>
        t -> replicateLookup(t, ds, maxLookupRows)
      })
    val visitTopic = s"@visit:$name"
    val metaSer = Codecs.JsonValueCodec.encode(meta)
    val tagged = table.filter(_.value != null).flatMap { r => Seq(
      Tagged(r.key, KindState, graph.tableTopic, r.value, 0, 0L, 0L, 0, null),
      Tagged(r.key, KindMessage, visitTopic, metaSer, 0, 0L, 0L, 0, null))
    }
    val emitted = foldOnce(spark, tagged, bcLookups).localCheckpoint()
    val tableOut = emitted.filter(_.sink == SinkTable)
      .map(e => TableRow(e.key, e.value))
    val outputs = graph.outputs.keys.map { t =>
      t -> emitted.filter(_.sink == t).map(_.toMessage(t))
    }.toMap
    BatchResult(tableOut.filter(_.value != null), tableOut, outputs)
  }

  /** One shuffle + ordered fold pass: no loop handling, no accumulation. */
  private def foldOnce(
      spark: SparkSession,
      tagged: Dataset[Tagged],
      bcLookups: org.apache.spark.broadcast.Broadcast[Map[String, Map[String, Array[Byte]]]])
      : Dataset[Emitted] = {
    import spark.implicits._
    val g = graph
    val nil = nilHandling
    tagged
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("kind"), col("tsMicros"),
        col("topic"), col("offset"), col("seq"))
      .mapPartitions { rows => new FoldIterator(g, nil, bcLookups.value, rows) }
  }
}

object BatchExecutor {
  /** Callback/decode failure carrying the message coordinates — the
    * engine's version of the reference's contextualized processing
    * errors (`partition_processor.go:344-400`). */
  final class CallbackException(msg: String, cause: Throwable)
      extends RuntimeException(msg, cause)

  // kind drives the secondary-sort order within a key: state first, then
  // join rows, then messages in (ts, topic, offset, seq) order — the
  // batch analogue of the reference's recover-joins-then-process barrier
  // (`/root/reference/partition_processor.go:210-247`).
  final val KindState = 0
  final val KindJoin = 1
  final val KindMessage = 2

  final val SinkTable = "@table"
  final val SinkLoop = "@loop"

  /** Default cap on rows replicated for one Lookup table (see
    * [[replicateLookup]]). */
  final val DefaultMaxLookupRows: Long = 10_000_000L

  /** Driver-side full replica of one Lookup table (live rows only),
    * collected by [[collectReplica]]. */
  def replicateLookup(name: String, ds: Dataset[TableRow],
      maxRows: Long = DefaultMaxLookupRows): Map[String, Array[Byte]] =
    collectReplica(name, ds.filter(_.value != null), maxRows)
      .map(r => r.key -> r.value).toMap

  /** Collect the rows of Lookup table `name` to the driver, with a loud
    * size guard. A Lookup IS a complete local copy by contract — the
    * reference materializes the whole view on every processor instance
    * (`/root/reference/view.go:42-52`) — so there is no shuffle
    * fallback: a table above the cap means the topology is
    * mis-declared (a corpus-sized table belongs on a co-partitioned
    * Join edge) and the only correct behavior is failing with the
    * table's name, not silently OOMing the driver. `limit(max+1)`
    * makes the check one Spark action AND bounds driver memory by the
    * declared cap even on a huge table. */
  def collectReplica[T](name: String, ds: Dataset[T],
      maxRows: Long = DefaultMaxLookupRows): Array[T] = {
    val cap = math.min(maxRows, Int.MaxValue - 1L).toInt
    val rows = ds.limit(cap + 1).collect()
    if (rows.length > cap) throw new IllegalArgumentException(
      s"Lookup table '$name' exceeds maxLookupRows=$maxRows. A Lookup is " +
        "fully replicated to every task (reference view.go:42-52) and " +
        "cannot fall back to a shuffle — declare corpus-sized tables as " +
        "a co-partitioned Join, or raise maxLookupRows if the replica " +
        "genuinely fits.")
    rows
  }

  def tsMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Inverse of [[tsMicros]] — restores the sub-millisecond part via
    * setNanos so re-feeding outputs into another graph preserves
    * microsecond ordering. */
  def microsTimestamp(tsMicros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(tsMicros / 1000L)
    t.setNanos(((tsMicros % 1000000L) * 1000L).toInt)
    t
  }

  /** Internal shuffled row: state/join/message unified. */
  final case class Tagged(key: String, kind: Int, topic: String,
      value: Array[Byte], partition: Int, offset: Long, tsMicros: Long,
      seq: Int, headers: Map[String, Array[Byte]])

  /** Internal emitted row; sink is SinkTable, SinkLoop or an output topic. */
  final case class Emitted(sink: String, key: String, value: Array[Byte],
      partition: Int, offset: Long, tsMicros: Long, seq: Int,
      headers: Map[String, Array[Byte]]) {
    /** This emission as a message on `topic`; null headers become empty. */
    def toMessage(topic: String): Message =
      Message(key, value, topic, partition, offset, microsTimestamp(tsMicros),
        if (headers == null) Map.empty[String, Array[Byte]] else headers)
  }

  /** Streams key-clustered, ordered rows; runs callbacks; flushes one
    * state row per key on key change. Pull-based so emissions flow out
    * without materializing a partition in memory. Shared with
    * [[graft.streaming.StreamExecutor]] (per key+batch) and the Tester. */
  private[graft] final class FoldIterator(
      graph: GroupGraph,
      nilHandling: NilHandling,
      lookups: Map[String, Map[String, Array[Byte]]],
      rows: Iterator[Tagged]) extends Iterator[Emitted] {

    private val persistCodec = graph.persist.map(_.codec)
    private var curKey: String = null
    private var hadKey = false
    private var stateBytes: Array[Byte] = null
    private var hadInitialState = false
    private var stateTouched = false
    private val joinRows = scala.collection.mutable.HashMap.empty[String, Array[Byte]]
    private val out = scala.collection.mutable.Queue.empty[Emitted]
    private var pendingDefers = 0L
    private val deferErrors = scala.collection.mutable.Buffer.empty[Throwable]
    private var defersChecked = false

    override def hasNext: Boolean = {
      while (out.isEmpty && rows.hasNext) consume(rows.next())
      if (out.isEmpty && hadKey) flushKey()
      if (out.isEmpty && !rows.hasNext) checkDefers()
      out.nonEmpty
    }

    /** Terminal deferCommit accounting (`context.go:128-134`): a
      * deferred-then-failed commit fails the fold with the deferred
      * error; a defer whose done-function was never called fails
      * loudly instead of being silently committed — the batch
      * analogue of the reference's redelivery. */
    private def checkDefers(): Unit = if (!defersChecked) {
      defersChecked = true
      if (deferErrors.nonEmpty) throw deferErrors.head
      if (pendingDefers > 0) throw new IllegalStateException(
        s"$pendingDefers deferred commit(s) never resolved in " +
          s"group=${graph.group}; the reference would redeliver these " +
          "messages — the batch executor fails loudly instead")
    }
    override def next(): Emitted = { if (!hasNext) throw new NoSuchElementException; out.dequeue() }

    private def consume(row: Tagged): Unit = {
      if (!hadKey || row.key != curKey) {
        if (hadKey) flushKey()
        curKey = row.key; hadKey = true
        stateBytes = null; hadInitialState = false; stateTouched = false
        joinRows.clear()
      }
      row.kind match {
        case KindState =>
          stateBytes = row.value; hadInitialState = true
        case KindJoin =>
          joinRows(row.topic) = row.value
        case KindMessage =>
          if (row.value == null && nilHandling == NilHandling.Ignore) ()
          else runCallback(row)
      }
    }

    private def runCallback(row: Tagged): Unit = {
      val isVisit = row.topic.startsWith("@visit:")
      val cb =
        if (isVisit) graph.visitors(row.topic.stripPrefix("@visit:"))
        else graph.callbackFor(row.topic)
      try {
        val decoded: Any =
          if (row.value == null) null
          else if (isVisit) Codecs.JsonValueCodec.decode(row.value)
          else graph.inputCodec(row.topic).decode(row.value)
        val ctx = new FoldContext(row)
        cb(ctx, decoded)
      } catch {
        // Identify the poison-pill message: at scale, "task failed" with
        // no key/offset means replaying terabytes to find one bad row.
        // The reference wraps the same context into its error
        // (`partition_processor.go:344-400`).
        case e: CallbackException => throw e
        case e: Exception => throw new CallbackException(
          s"callback failed: group=${graph.group} topic=${row.topic} " +
            s"key=${row.key} partition=${row.partition} " +
            s"offset=${row.offset}", e)
      }
    }

    private def flushKey(): Unit = {
      // Emit the final state row: live row if set; tombstone if a
      // previously-present row was deleted. Keys never touched by a
      // callback still re-emit their initial row so SinkTable is the
      // *complete* next table, not a delta.
      if (persistCodec.isDefined) {
        if (stateBytes != null)
          out.enqueue(Emitted(SinkTable, curKey, stateBytes, 0, 0L, 0L, 0, null))
        else if (hadInitialState || stateTouched)
          out.enqueue(Emitted(SinkTable, curKey, null, 0, 0L, 0L, 0, null))
      }
      hadKey = false
    }

    private final class FoldContext(row: Tagged) extends Context {
      private var decodedState: Any = null
      private var stateDecoded = false
      private var emitSeq = 0

      def key: String = curKey
      def topic: String = row.topic
      def partition: Int = row.partition
      def offset: Long = row.offset
      def timestamp: java.sql.Timestamp = microsTimestamp(row.tsMicros)
      def headers: Map[String, Array[Byte]] =
        if (row.headers == null) Map.empty else row.headers
      def group: String = graph.group

      def value: Any = {
        val codec = persistCodec.getOrElse(
          throw new IllegalStateException("no Persist edge declared"))
        if (!stateDecoded) {
          decodedState = if (stateBytes == null) null else codec.decode(stateBytes)
          stateDecoded = true
        }
        decodedState
      }
      def setValue(v: Any): Unit = {
        val codec = persistCodec.getOrElse(
          throw new IllegalStateException("no Persist edge declared"))
        stateBytes =
          if (v == null) null
          else codec.asInstanceOf[Codec[Any]].encode(v)
        decodedState = v; stateDecoded = true; stateTouched = true
      }
      def delete(): Unit = {
        stateBytes = null; decodedState = null; stateDecoded = true
        stateTouched = true
      }

      def emit(topic: String, key: String, value: Any): Unit =
        emitWithHeaders(topic, key, value, null)
      def emitWithHeaders(topic: String, key: String, value: Any,
          hdrs: Map[String, Array[Byte]]): Unit = {
        val codec = graph.outputs.getOrElse(topic,
          throw new IllegalArgumentException(
            s"topic $topic is not a declared Output of ${graph.group}"))
        val bytes = if (value == null) null
          else codec.asInstanceOf[Codec[Any]].encode(value)
        out.enqueue(Emitted(topic, key, bytes, row.partition, row.offset,
          row.tsMicros, nextSeq(), hdrs))
      }
      def loopback(key: String, value: Any): Unit = {
        val loop = graph.loop.getOrElse(
          throw new IllegalStateException("no Loop edge declared"))
        val bytes = if (value == null) null
          else loop.codec.asInstanceOf[Codec[Any]].encode(value)
        out.enqueue(Emitted(SinkLoop, key, bytes, row.partition, row.offset,
          row.tsMicros, nextSeq(), null))
      }
      private def nextSeq(): Int = { emitSeq += 1; emitSeq }

      def deferCommit(): Option[Throwable] => Unit = {
        pendingDefers += 1
        val at = s"group=${graph.group} topic=${row.topic} " +
          s"key=${row.key} offset=${row.offset}"
        var called = false
        (err: Option[Throwable]) => {
          if (called) throw new IllegalStateException(
            s"deferCommit done-function called twice: $at")
          called = true
          pendingDefers -= 1
          err.foreach(e => deferErrors +=
            new CallbackException(s"deferred commit failed: $at", e))
        }
      }

      def join(table: String): Any = {
        val codec = graph.joins.getOrElse(table,
          throw new IllegalArgumentException(
            s"topic $table is not a declared Join of ${graph.group}"))
        joinRows.get(table) match {
          case Some(bytes) if bytes != null => codec.decode(bytes)
          case _ => null
        }
      }
      def lookup(table: String, key: String): Any = {
        val codec = graph.lookups.getOrElse(table,
          throw new IllegalArgumentException(
            s"topic $table is not a declared Lookup of ${graph.group}"))
        lookups.get(table).flatMap(_.get(key)) match {
          case Some(bytes) => codec.decode(bytes)
          case None => null
        }
      }
    }
  }
}
