package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{GroupGraph, Message, TableRow}
import graft.operators.{BatchExecutor, BatchResult, NilHandling, View}
import graft.operators.BatchExecutor.Emitted
import graft.streaming.{LookupProvider, StaticLookups, StreamExecutor}

/** Top-level facade mirroring the reference's processor lifecycle
  * (`/root/reference/processor.go:75-141` `NewProcessor(brokers, graph)`,
  * `Run(ctx)`), so a goka user maps their program 1:1:
  *
  * {{{
  *   // goka                                   // graft
  *   p, _ := goka.NewProcessor(brokers, g)     val p = Processor(spark, g)
  *   p.Run(ctx)                                p.runStream(kafkaStream)   // unbounded
  *                                             p.runBatch(inputs)         // bounded replay
  *   goka.NewView(brokers, table, codec)       p.view(result.table)
  * }}}
  *
  * Bounded replay ([[runBatch]]) is the deterministic, oracle-checkable
  * path; [[runStream]] compiles the same graph onto Structured
  * Streaming (same [[graft.operators.BatchExecutor.FoldIterator]]
  * semantics; join tables arrive as changelog rows on the stream);
  * [[runWithLoopback]] drives a Loop graph through a real feedback topic.
  */
final case class Processor(
    spark: SparkSession,
    graph: GroupGraph,
    nilHandling: NilHandling = NilHandling.Ignore,
    stateTtl: Option[java.time.Duration] = None) {

  graph.validate()

  private lazy val batch = new BatchExecutor(graph, nilHandling)
  private lazy val stream = new StreamExecutor(graph, nilHandling, stateTtl)

  /** Bounded replay of the graph over per-topic message datasets. */
  def runBatch(
      inputs: Map[String, Dataset[Message]],
      joinTables: Map[String, Dataset[TableRow]] = Map.empty,
      lookupTables: Map[String, Dataset[TableRow]] = Map.empty,
      initialState: Option[Dataset[TableRow]] = None): BatchResult =
    batch.run(spark, inputs, joinTables, lookupTables, initialState)

  /** Unbounded run over a message stream (inputs + join-table
    * changelogs interleaved, like the reference's consumer group);
    * `lookups` resolves the Lookup tables — [[graft.streaming.FileLookups]]
    * for the reference's CatchupForever views. */
  def runStream(
      messages: Dataset[Message],
      lookups: LookupProvider = StaticLookups(Map.empty),
      initialState: Option[Dataset[TableRow]] = None): Dataset[Emitted] =
    stream.run(spark, messages, lookups, initialState)

  /** Unbounded run of a Loop graph through a staged feedback topic. */
  def runWithLoopback(stagingDir: String, resultDir: String): Unit =
    stream.runWithLoopback(spark, stagingDir, resultDir)

  /** Whole-state maintenance pass (`processor.go:954-996`). */
  def visitAll(name: String, table: Dataset[TableRow],
      meta: Any = null): BatchResult =
    batch.visitAll(spark, name, table, meta)

  /** VisitAll against a RUNNING streaming query of this graph: schedules
    * one visit message per live key into the query's staged source
    * (`partition_processor.go:625-716` semantics). */
  def visitLive(ckptDir: String, stagingDir: String, name: String,
      meta: Any = null): Long =
    graft.streaming.StreamVisitor.visitLive(
      spark, graph, ckptDir, stagingDir, name, meta)

  /** Serve a result table (`view.go:42-52`). */
  def view(table: Dataset[TableRow]): View = new View(table)
}
