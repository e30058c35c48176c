package graft

import org.apache.spark.sql.SparkSession

/** The session configuration contract shared by the driver mains
  * (`Verify`, `Bench`): one place that guarantees every declared query
  * plans under the SAME dialect, extensions and — critically — the
  * strict scale guard, so the no-global-window discipline cannot
  * silently drop out of one entry point.
  *
  * Exposed as a data value (`common`) rather than only a builder so
  * the test suite can assert the contract without constructing a
  * session (PlanGuardSpec pins the guard flag here). */
object GraftSessions {

  /** Confs every driver session sets. Notes:
    *   - RocksDB + changelog checkpointing: the scalable state
    *     backend the streaming queries are designed against.
    *   - checkpoint.fileChecksum disabled: Spark 4.1's per-commit
    *     checksum futures convoy in one-JVM local mode (+2.2 s on
    *     st01 at sf0.1/32 partitions — 32 tasks parked in
    *     ChecksumCancellableFSDataOutputStream.close). Checkpoints
    *     here are ephemeral local-fs dirs; re-enable for durable
    *     object-store checkpoints in cluster deployments.
    *   - strictGlobalWindows + strictCartesian: the builder's own
    *     PlanGuardRule applied to itself — any plan that funnels an
    *     unbounded input through an unpartitioned window, or joins
    *     two unbounded inputs with no equi-key and no broadcast /
    *     explicit shuffle_replicate_nl opt-in, fails at PLAN time, in
    *     every Verify and Bench run, forever. */
  val common: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.graft.strictGlobalWindows" -> "true",
    "spark.graft.strictCartesian" -> "true",
    "spark.ui.enabled" -> "false")

  /** A local[cpus] builder carrying [[common]] and the matching
    * shuffle-partition count. Callers add entry-point-specific knobs
    * (Bench: AQE, RocksDB row-tracking off) on top. */
  def builder(cpus: String): SparkSession.Builder =
    common.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** `builder` plus the ad-hoc conf overrides of a local experiment,
    * `GRAFT_SPARK_EXTRA="spark.x=1;spark.y=2"`. Verify, Bench and
    * StProfile opt in; [[builder]] never reads the variable. */
  def withExtraConf(builder: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("GRAFT_SPARK_EXTRA").fold(builder)(parseExtraConf(_)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) })

  /** `k1=v1;k2=v2` as pairs. Empty tokens are skipped; a token without
    * `=`, or with an empty key, fails with a message naming it. */
  def parseExtraConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"GRAFT_SPARK_EXTRA entry '$kv' is not key=value")
      }
    }
}
