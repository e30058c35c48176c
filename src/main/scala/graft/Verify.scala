package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, only @ _*) = args.toSeq: @unchecked
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shared driver-session contract (incl. the strict plan guard —
    // see GraftSessions.common, pinned by PlanGuardSpec).
    val spark = GraftSessions.withExtraConf(GraftSessions.builder(cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        // repartition(1), NOT coalesce(1): coalesce propagates the
        // 1-partition constraint up through the final stage, so a
        // query whose last stage does real per-row work (t13's
        // collect_list+sort fold) would execute it on ONE task.
        // repartition adds a tiny shuffle of the (small) result and
        // keeps the computation at full parallelism.
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Same residue discipline as the bench (BASELINE.md round-16):
      // stopped streaming queries' state-store providers linger and
      // tax every later streaming query's micro-batches — this main
      // runs all 81 of them in ONE JVM, the worst accumulation case.
      // Unloading is the executor-loss path; each query starts its
      // own fresh checkpoint, so results are unaffected.
      org.apache.spark.sql.execution.streaming.state
        .GraftStateStoreAccess.unloadAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
