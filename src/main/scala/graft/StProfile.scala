package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One-query streaming-harness profiler — the round-13 verdict's item 6
  * rig: where do the ~3.5 s of a typical st query actually go?
  *
  * Runs the queries named in SPARK_GRAFT_ST (default
  * `st01_stream_count`) N times each (default 3) in one bench-child
  * session, with a [[StreamingQueryListener]] capturing every
  * micro-batch's `durationMs` breakdown (addBatch / getBatch /
  * queryPlanning / walCommit / commitOffsets / stateStore commit) and
  * wall-clock brackets around the whole call, so the fixed harness
  * floor decomposes into: staging (first run only — cached after),
  * stream-start latency, per-batch execution, and stop/teardown.
  *
  * Prints one JSON line per (query, run) plus the listener's per-batch
  * rows on stderr.
  */
object StProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = sys.env.getOrElse("SPARK_GRAFT_ST", "st01_stream_count")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val builder = GraftSessions.builder("32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    val spark = GraftSessions.withExtraConf(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class Batch(query: String, batchId: Long,
      durations: Map[String, Long], numInputRows: Long, wallMs: Long,
      state: String)
    val batches = mutable.Buffer.empty[Batch]
    val starts = mutable.Buffer.empty[(String, Long)] // (queryName, startWallMs)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        starts.synchronized { starts += ((e.name, System.currentTimeMillis())); () }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val st = p.stateOperators.map { so =>
          val cm = so.customMetrics
          def c(k: String): Long =
            Option(cm.get(k)).map(_.longValue()).getOrElse(-1L)
          s"""{"op":"${so.operatorName}","rows":${so.numRowsTotal},"updated":${so.numRowsUpdated},"updateMs":${so.allUpdatesTimeMs},"commitMs":${so.commitTimeMs},"cacheHits":${c("loadedMapCacheHitCount")},"getLatencyMs":${c("rocksdbGetLatency")},"flushMs":${c("rocksdbCommitFlushLatency")},"ckptMs":${c("rocksdbCommitCheckpointLatency")},"fileSyncMs":${c("rocksdbCommitFileSyncLatencyMs")},"writeBatchMs":${c("rocksdbWriteBatchLatency")}}"""
        }.mkString("[", ",", "]")
        batches.synchronized {
          batches += Batch(Option(p.name).getOrElse("?"), p.batchId,
            p.durationMs.entrySet().toArray
              .map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
              .map(en => en.getKey -> en.getValue.longValue()).toMap,
            p.numInputRows, p.batchDuration, st)
          ()
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    // Warm the tables like Bench does.
    Seq("events", "documents").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { rep =>
        batches.synchronized(batches.clear())
        starts.synchronized(starts.clear())
        val t0Wall = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e6
        // Staging latency: wall time from invoking the query fn until the
        // stream's onQueryStarted fired (plan resolution + state-store
        // provider creation happen in this window). -1 if no stream started.
        val preStartMs = starts.synchronized(
          starts.headOption.map(_._2 - t0Wall).getOrElse(-1L))
        val bs = batches.synchronized(batches.toVector)
        val perBatch = bs.map { b =>
          val d = b.durations
          f"""{"batch":${b.batchId},"rows":${b.numInputRows},"wall":${b.wallMs},"addBatch":${d.getOrElse("addBatch", -1L)},"getBatch":${d.getOrElse("getBatch", -1L)},"planning":${d.getOrElse("queryPlanning", -1L)},"walCommit":${d.getOrElse("walCommit", -1L)},"commitOffsets":${d.getOrElse("commitOffsets", -1L)},"trigger":${d.getOrElse("triggerExecution", -1L)},"state":${b.state}}"""
        }.mkString("[", ",", "]")
        val batchTotal = bs.map(_.durations.getOrElse("triggerExecution", 0L)).sum
        println(f"""{"query":"$name","rep":$rep,"rows":$n,"wall_ms":$wall%.0f,"pre_start_ms":$preStartMs,"batches":${bs.size},"batch_exec_ms":$batchTotal,"outside_batches_ms":${wall - batchTotal}%.0f,"detail":$perBatch}""")
        // Bench/Verify's provider-unload discipline (the r16 find):
        // without it rep 2+ measures the previous rep's lingering
        // RocksDB providers alongside its own work, which is exactly
        // the residue class this profiler exists to decompose.
        org.apache.spark.sql.execution.streaming.state
          .GraftStateStoreAccess.unloadAll()
      }
    }
    spark.stop()
  }
}
