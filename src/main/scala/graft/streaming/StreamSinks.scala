package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Message
import graft.operators.BatchExecutor.{microsTimestamp, Emitted, SinkLoop, SinkTable}

/** Output fan-out for the streaming executor: one stateful query emits
  * rows for N declared Output topics plus the table changelog
  * ([[Emitted]]`.sink` is the topic tag — SURVEY §4.3's "tag rows with a
  * topic column and fan out in foreachBatch"); this helper routes each
  * sink to its own destination per micro-batch, the way the reference's
  * async producer routes each emit to its Kafka topic
  * (`/root/reference/context.go:185-217`, `producer.go:64-118`). */
object StreamSinks {

  /** Start the query, appending each output topic's messages to its own
    * parquet directory and table-changelog rows to `tableDir` (pass a
    * Kafka-writing function instead for a broker deployment — the
    * routing is the same). The caller owns `checkpointDir`: it outlives
    * the query, so whoever can tell the query is done deletes it.
    * Loop rows are NOT handled here; use
    * [[StreamExecutor.runWithLoopback]] for Loop graphs. */
  def routeOutputs(
      out: Dataset[Emitted],
      dirByTopic: Map[String, String],
      checkpointDir: String,
      tableDir: Option[String] = None): StreamingQuery = {
    out.writeStream.outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Emitted], _: Long) =>
        batch.persist()
        try {
          dirByTopic.foreach { case (topic, dir) =>
            val msgs = batch.filter(_.sink == topic)
            if (!msgs.isEmpty) {
              val spark = batch.sparkSession
              import spark.implicits._
              msgs.map(e => Message(e.key, e.value, topic, e.partition,
                e.offset, microsTimestamp(e.tsMicros),
                if (e.headers == null) Map.empty[String, Array[Byte]]
                else e.headers))
                .write.mode("append").parquet(dir)
            }
          }
          tableDir.foreach { dir =>
            val rows = batch.filter(_.sink == SinkTable)
            if (!rows.isEmpty) rows.write.mode("append").parquet(dir)
          }
          val unrouted = batch.filter(e =>
            e.sink != SinkTable && e.sink != SinkLoop &&
              !dirByTopic.contains(e.sink))
          if (!unrouted.isEmpty)
            throw new IllegalStateException(
              "emitted rows for unrouted output topics: " +
                unrouted.collect().map(_.sink).distinct.mkString(","))
        } finally batch.unpersist()
        ()
      }
      .start()
  }
}
