package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.core._
import graft.operators.BatchExecutor.{tsMicros, Emitted, FoldIterator, KindJoin, KindMessage, KindState, SinkLoop, SinkTable, Tagged}
import graft.operators.NilHandling

/** Structured Streaming executor of a [[GroupGraph]].
  *
  * The reference's processor loop — per-partition goroutine, serial
  * per-key callbacks, LevelDB state, changelog topic
  * (`/root/reference/partition_processor.go:405-444`) — maps onto
  * `transformWithState` (Spark 4.x `StatefulProcessor`): the keyed state
  * store holds the group table (checkpoint = the reference's recovery
  * machinery, `partition_table.go:98-167`), per-key serial execution is
  * the state operator's contract, and every state change is emitted as a
  * changelog row (`sink = "@table"`, null value = tombstone) exactly like
  * the reference's table topic (`context.go:400-407`). The operator
  * requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass`), which is also the
  * right store at scale: state lives off-heap on local disk with
  * incremental (changelog) checkpointing, like the reference's LevelDB.
  *
  * '''Continuously-updating join tables.''' The reference's join tables
  * catch up forever (`partition_table.go:119-126`). Here, the joined
  * table's changelog is simply part of the consumed stream: any
  * [[Message]] whose topic is declared as a Join edge is treated as a
  * table upsert (null value = tombstone), and the latest value per
  * (key, table) is carried in the keyed state ([[StreamExecutor.KeyState]])
  * alongside the user row — a second keyed state fed by the changelog,
  * never a lifetime-static snapshot. Within a micro-batch, rows of a key
  * are applied in (ts, kind, topic, offset) order with table upserts
  * sorting BEFORE messages at equal timestamps, so `ctx.join` sees
  * exactly the rows whose timestamp precedes the message — deterministic
  * regardless of how the stream is chopped into batches (the reference
  * gives no cross-topic ordering guarantee at all). Optional
  * `joinSnapshots` seed the initial table content, like the reference's
  * recover-to-HWM barrier before processing starts.
  *
  * '''Continuously-updating lookup tables.''' Lookup views in the
  * reference also catch up forever (view-per-processor,
  * `processor.go:105-120`). `ctx.lookup` reads arbitrary keys, so the
  * table cannot live in keyed state; instead the executor re-resolves
  * the replicated snapshot through a [[LookupProvider]] whenever the
  * micro-batch id advances — [[FileLookups]] re-reads a compacted
  * snapshot file per batch (CatchupForever at batch granularity), while
  * [[StaticLookups]] keeps the old immutable-broadcast behavior for
  * genuinely static reference data.
  *
  * '''State TTL.''' `stateTtl` arms RocksDB value-state TTL
  * ([[TTLConfig]], processing-time): a key not updated within the TTL is
  * dropped from the store and re-seeds from null — the guard that keeps
  * a 100×-cardinality key space from pinning the store forever. The
  * reference relies on tombstones for the same hygiene; TTL is the
  * engine's addition for keys that never see an explicit delete. TTL
  * applies ONLY to the group-table value: join-catchup state lives in a
  * separate, never-expiring state variable, because the reference's
  * join tables never expire (`partition_table.go:119-126`) — expiring a
  * join tombstone would silently resurrect the static snapshot value it
  * masks, and expiring a catchup value would lose changelog updates.
  *
  * '''Loopback''' (`graph.go:395-407`) is a real feedback topic in
  * streaming: [[runWithLoopback]] appends `@loop` rows back into the
  * staged source directory as `<group>-loop` messages consumed by the
  * same query — the streaming twin of the batch executor's fixpoint.
  */
class StreamExecutor(
    graph: GroupGraph,
    nilHandling: NilHandling = NilHandling.Ignore,
    stateTtl: Option[java.time.Duration] = None,
    maxLoopRounds: Int = 50) extends Serializable {

  import StreamExecutor.KeyState

  def run(
      spark: SparkSession,
      stream: Dataset[Message],
      joinSnapshots: Map[String, Map[String, Array[Byte]]] = Map.empty,
      lookupSnapshots: Map[String, Map[String, Array[Byte]]] = Map.empty,
      initialState: Option[Dataset[TableRow]] = None)
      : Dataset[Emitted] =
    runWith(spark, stream, joinSnapshots, StaticLookups(lookupSnapshots),
      initialState)

  /** [[run]] with a pluggable lookup resolution strategy — pass
    * [[FileLookups]] for tables that mutate while the query runs. */
  def runWith(
      spark: SparkSession,
      stream: Dataset[Message],
      joinSnapshots: Map[String, Map[String, Array[Byte]]],
      lookups: LookupProvider,
      initialState: Option[Dataset[TableRow]] = None)
      : Dataset[Emitted] = {
    graph.validate()
    require(graph.loop.isEmpty,
      "streaming loopback needs a real feedback topic; use " +
        "runWithLoopback(spark, stagingDir, resultDir) or the " +
        "BatchExecutor's bounded fixpoint replay")
    compile(spark, stream, joinSnapshots, lookups, initialState)
  }

  /** Run a graph WITH a Loop edge over a staged `Dataset[Message]`
    * parquet directory: `@loop` rows are appended back into `stagingDir`
    * as `<group>-loop` messages and consumed by the same query — the
    * reference's group-private feedback topic (`graph.go:476-483`). In a
    * Kafka deployment the staging directory is replaced by the loop
    * topic itself; the dataflow is identical.
    *
    * Consumed staging files are deleted once committed
    * (`cleanSource=delete`) so a long-running loop topology pays O(1
    * round) directory-listing per trigger, not O(total rounds). Rounds
    * are capped at `maxLoopRounds`, mirroring the batch executor's
    * `maxLoopIterations` — a non-converging callback fails loudly
    * instead of appending feedback files forever.
    *
    * Blocks until the feedback drains (no pending files), then leaves
    * every non-loop [[Emitted]] row in `resultDir` as parquet and
    * deletes its checkpoint. */
  def runWithLoopback(
      spark: SparkSession,
      stagingDir: String,
      resultDir: String,
      joinSnapshots: Map[String, Map[String, Array[Byte]]] = Map.empty,
      lookups: LookupProvider = StaticLookups(Map.empty)): Unit = {
    import spark.implicits._
    graph.validate()
    val stream = spark.readStream.schema(Encoders.product[Message].schema)
      .option("cleanSource", "delete")
      .parquet(stagingDir).as[Message]
    val out = compile(spark, stream, joinSnapshots, lookups)
    val g = graph
    val maxRounds = maxLoopRounds
    val ckpt = java.nio.file.Files.createTempDirectory("graft_loop_ckpt").toString
    var rounds = 0
    val q = out.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Emitted], _: Long) =>
        // persist: every action below re-executes the stateful plan
        // (and re-hits the state store) otherwise.
        batch.persist()
        try {
          val loops = batch.filter(_.sink == SinkLoop)
          if (loops.isEmpty) {
            // Feedback drained: the cap bounds CONSECUTIVE feedback hops
            // (one fixpoint's depth), not lifetime loop batches — a
            // deployment repeatedly staging new input into the same
            // running query starts each fixpoint from zero.
            rounds = 0
          } else {
            rounds += 1
            if (rounds > maxRounds) throw new IllegalStateException(
              s"streaming loopback did not converge after $maxRounds rounds " +
                s"(group=${g.group}); raise maxLoopRounds if the topology " +
                "legitimately needs more feedback hops")
            // A few files per feedback round (parallel write, bounded
            // file count); with no maxFilesPerTrigger on the source the
            // whole round still lands in ONE trailing micro-batch,
            // mirroring one produce cycle to the loop topic.
            loops.map(_.toMessage(g.loopTopic))
              .coalesce(8).write.mode("append").parquet(stagingDir)
          }
          val rest = batch.filter(_.sink != SinkLoop)
          if (!rest.isEmpty)
            rest.write.mode("append").parquet(resultDir)
        } finally batch.unpersist()
        ()
      }
      .start()
    // The query is done for good once this returns (it is not handed
    // out), so its checkpoint goes with it.
    try q.processAllAvailable()
    finally {
      try q.stop()
      finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  private def compile(
      spark: SparkSession,
      stream: Dataset[Message],
      joinSnapshots: Map[String, Map[String, Array[Byte]]],
      lookups: LookupProvider,
      initialState: Option[Dataset[TableRow]] = None)
      : Dataset[Emitted] = {
    import spark.implicits._
    val bcJoinSnaps = spark.sparkContext.broadcast(joinSnapshots)

    // Seed the keyed state from an existing group table — the
    // reference's recover-from-table-topic on first start
    // (`partition_table.go:98-117`); on restart Spark's checkpoint wins
    // and the seed is ignored, exactly like goka preferring local state.
    val init = initialState.getOrElse(spark.emptyDataset[TableRow])
      .filter(_.value != null)
      .groupByKey(_.key).reduceGroups((_, b) => b).map(_._2) // dedupe keys
      .groupByKey(_.key)
      .mapValues(r => KeyState(r.value, Map.empty[String, Array[Byte]]))

    val proc = new StreamExecutor.GraftStatefulProcessor(
      graph, nilHandling, bcJoinSnaps, lookups, stateTtl)
    // TTL needs the processing-time clock; without it the operator is
    // time-agnostic.
    val timeMode =
      if (stateTtl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    stream.groupByKey(_.key)
      .transformWithState(proc, timeMode, OutputMode.Update(), init)
  }
}

object StreamExecutor {
  /** Keyed streaming state as seeded at query start: the group-table row
    * plus the latest join-table value per joined topic — the engine's
    * equivalent of the reference's per-partition group storage + join
    * partition tables (`partition_processor.go:210-247`). Null entries
    * are tombstones. Inside the operator the two halves live in SEPARATE
    * state variables ([[StateVarName]] / [[JoinStateVarName]]) so state
    * TTL can expire the group value without touching join catchup. */
  final case class KeyState(value: Array[Byte],
      joins: Map[String, Array[Byte]])

  /** Catchup join-table values per joined topic, as their own state
    * variable: the reference's join tables never expire
    * (`partition_table.go:119-126`), so this state is exempt from
    * `stateTtl` — only the group-table value ([[StateVarName]]) is. */
  final case class JoinsState(joins: Map[String, Array[Byte]])

  /** Name of the group-table value state variable (raw value bytes) —
    * also the `stateVarName` to pass to the `statestore` data source
    * when reading live state. */
  final val StateVarName = "keyState"

  /** Name of the join-catchup state variable ([[JoinsState]]). */
  final val JoinStateVarName = "joinState"

  /** The per-key fold as a Spark 4.x [[StatefulProcessorWithInitialState]].
    * Two typed value-state variables — the group-table value bytes
    * (TTL-eligible) and the join catchup map (never expires); the shared
    * [[FoldIterator]] kernel (also used by the batch executor and the
    * Tester) applies state → join seeds → ordered batch rows and yields
    * the emissions. */
  private[streaming] final class GraftStatefulProcessor(
      g: GroupGraph,
      nil: NilHandling,
      bcJoinSnaps: Broadcast[Map[String, Map[String, Array[Byte]]]],
      lookups: LookupProvider,
      ttl: Option[java.time.Duration])
      extends StatefulProcessorWithInitialState[String, Message, Emitted, KeyState] {

    private val joinTopics = g.joins.keySet

    @transient private var valueState: ValueState[Array[Byte]] = _
    @transient private var joinState: ValueState[JoinsState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttlConf = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
      valueState = getHandle.getValueState[Array[Byte]](
        StateVarName, Encoders.BINARY, ttlConf)
      // Register join-catchup state ONLY for graphs that declare a Join
      // edge: each state variable is its own RocksDB column family, and
      // the majority of topologies are join-free — they must not pay
      // the extra family's creation, commit and snapshot cost per
      // micro-batch for state that can never hold a row.
      joinState =
        if (joinTopics.isEmpty) null
        else getHandle.getValueState[JoinsState](
          JoinStateVarName, Encoders.product[JoinsState], TTLConfig.NONE)
    }

    override def handleInitialState(
        key: String, s: KeyState, timerValues: TimerValues): Unit = {
      if (s.value != null) valueState.update(s.value)
      if (s.joins.nonEmpty && joinState != null)
        joinState.update(JoinsState(s.joins))
    }

    override def handleInputRows(
        key: String,
        msgs: Iterator[Message],
        timerValues: TimerValues): Iterator[Emitted] = {
      val snaps = bcJoinSnaps.value
      val qi = getHandle.getQueryInfo
      val lookupSnap = lookups.resolve(qi.getRunId, qi.getBatchId)
      val prevValue = if (valueState.exists()) valueState.get() else null
      val prevJoins: Map[String, Array[Byte]] =
        if (joinState != null && joinState.exists()) joinState.get().joins
        else Map.empty[String, Array[Byte]]
      // Join values visible at batch start: static snapshot overlaid
      // by the persisted catchup state (which may hold tombstones).
      val seedJoins: Map[String, Array[Byte]] =
        joinTopics.iterator.flatMap { t =>
          snaps.get(t).flatMap(_.get(key)).map(t -> _)
        }.toMap ++ prevJoins
      val sorted = msgs.toArray.sortBy { m =>
        (tsMicros(m.timestamp),
          if (joinTopics(m.topic)) KindJoin else KindMessage,
          m.topic, m.offset)
      }
      val stateRow: Iterator[Tagged] =
        if (prevValue != null)
          Iterator(Tagged(key, KindState, g.tableTopic, prevValue,
            0, 0L, 0L, 0, null))
        else Iterator.empty
      val seedRows = seedJoins.iterator.map { case (t, v) =>
        Tagged(key, KindJoin, t, v, 0, 0L, Long.MinValue, 0, null)
      }
      val batchRows = sorted.iterator.map { m =>
        val kind = if (joinTopics(m.topic)) KindJoin else KindMessage
        Tagged(m.key, kind, m.topic, m.value, m.partition,
          m.offset, tsMicros(m.timestamp), 0, m.headers)
      }
      val out = new FoldIterator(g, nil, lookupSnap,
        stateRow ++ seedRows ++ batchRows).toVector
      val newValue = out.find(_.sink == SinkTable)
        .map(_.value).getOrElse(prevValue)
      val joinUpdates: Map[String, Array[Byte]] =
        sorted.iterator.filter(m => joinTopics(m.topic))
          .map(m => m.topic -> m.value).toMap // ts-sorted: last wins
      // A null (tombstone) entry only needs to persist while it
      // masks a static snapshot value; otherwise dropping it keeps
      // the state removable — a key whose table row AND join rows
      // are all deleted must not pin state forever.
      val newJoins = (prevJoins ++ joinUpdates).filter {
        case (t, v) => v != null ||
          snaps.get(t).exists(_.contains(key))
      }
      if (newValue == null) { if (valueState.exists()) valueState.clear() }
      else valueState.update(newValue)
      if (joinState != null) {
        if (newJoins.isEmpty) { if (joinState.exists()) joinState.clear() }
        else joinState.update(JoinsState(newJoins))
      }
      out.iterator
    }
  }
}
