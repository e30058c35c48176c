package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.{Codecs, GroupGraph, Message}

/** VisitAll against a LIVE streaming query — the reference interleaves
  * visits with message processing on a running processor
  * (`/root/reference/partition_processor.go:625-716`: per-key visit
  * messages share the partition's serial callback loop with normal
  * messages). The engine reproduces exactly that shape:
  *
  *   1. the query's current keys are enumerated from its OWN state store
  *      via the `statestore` data source (the latest committed
  *      checkpoint snapshot — no stop-the-world, the query keeps
  *      running);
  *   2. one [[Message]] per key on [[GroupGraph.visitTopic]] is appended
  *      to the query's staged source directory (in a Kafka deployment:
  *      produced to the group's input topic with the visit marker header);
  *   3. the next micro-batch interleaves visit and data messages per key
  *      in timestamp order through the same [[graft.operators.BatchExecutor.FoldIterator]]
  *      — per-key serial, exactly the reference's guarantee.
  *
  * Everything is distributed: key enumeration and message staging are
  * one Spark job each, nothing is collected to the driver — a
  * billion-key state visits the same way a thousand-key state does.
  * Wire as a web action: `server.registerAction("visit-all", meta =>
  * StreamVisitor.visitLive(spark, graph, ckpt, staging, "name", meta))`.
  */
object StreamVisitor {

  /** Inject one visit message per live key into `stagingDir`. Returns
    * the number of keys scheduled. The caller's running query picks them
    * up on its next trigger (`processAllAvailable()` to force-drain in
    * tests). `ckptDir` must be the query's `checkpointLocation`. */
  def visitLive(
      spark: SparkSession,
      graph: GroupGraph,
      ckptDir: String,
      stagingDir: String,
      name: String,
      meta: Any = null): Long = {
    import spark.implicits._
    require(graph.visitors.contains(name),
      s"no visitor named $name on group ${graph.group}")
    val state = spark.read.format("statestore")
      .option("path", ckptDir)
      .option("stateVarName", StreamExecutor.StateVarName)
      .load()
    // The grouping key arrives as a one-field struct (named after the
    // encoder's column); unwrap positionally so this survives renames.
    val keyField = state.schema("key").dataType
      .asInstanceOf[StructType].fieldNames.head
    val topic = graph.visitTopic(name)
    val metaBytes = Codecs.JsonValueCodec.encode(meta)
    val nowTs = new java.sql.Timestamp(System.currentTimeMillis())
    val msgs: Dataset[Message] = state
      .select(col(s"key.$keyField").cast("string").as("k")).distinct()
      .map(r => Message(r.getString(0), metaBytes, topic, 0, 0L, nowTs,
        Map.empty[String, Array[Byte]]))
      // Pin ONE snapshot: the query is live, so separate count and write
      // actions could each load a different committed state version and
      // the returned count would disagree with the staged messages.
      .persist()
    try {
      val n = msgs.count()
      if (n > 0) msgs.write.mode("append").parquet(stagingDir)
      n
    } finally { msgs.unpersist(); () }
  }
}
