package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.{Codec, Message, TableRow}

/** Read-only materialized view over a group table — the reference's
  * `View` (`/root/reference/view.go:42-52`).
  *
  * The reference replicates the whole table into a local LevelDB per
  * instance and hash-routes point reads (`view.go:297-315`); here the
  * table is a keyed `Dataset` and Catalyst does the routing: point reads
  * become key-equality filters (partition-prunable when the table is
  * persisted bucketed/partitioned by key), range/prefix scans become
  * pushed-down range predicates, and the reference's k-way merged
  * iteration in lexicographic key order (`storage/merge_iterator.go:45-124`)
  * is a plain `orderBy(key)`.
  */
class View(val rows: Dataset[TableRow]) extends Serializable {

  // Local-replica evictions (`view.go:419-427`): keys removed from
  // THIS view instance only. Thread-safe for concurrent WebServer
  // reads; the set is instance state, exactly like the reference's
  // per-instance local storage.
  private val evictedKeys =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Evict removes the key only from this view's LOCAL replica
    * (`view.go:419-427`): subsequent reads through this instance miss
    * it; the underlying group table — and every other View of it — is
    * untouched. Deleting for real is `ctx.delete()` on a processor,
    * as the reference's doc says. The local-hygiene operation a
    * serving deployment uses to drop poisoned or oversized cache
    * entries without a write to the source of truth. */
  def evict(key: String): Unit = { evictedKeys.add(key); () }

  /** The local replica as served: rows minus local evictions. The
    * filter is a Catalyst predicate, so bucket pruning and pushdown
    * still apply to the underlying scan. */
  protected def live: Dataset[TableRow] =
    if (evictedKeys.isEmpty) rows
    else {
      val ks = evictedKeys.toArray(Array.empty[String]).toSeq
      rows.filter(!col("key").isin(ks: _*))
    }

  /** Point read (`view.go:333-360`). Driver-side single-row action. */
  def get(key: String): Option[Array[Byte]] =
    live.filter(col("key") === key).limit(1).collect()
      .headOption.map(_.value)

  /** Existence check (`view.go:362-371`). */
  def has(key: String): Boolean =
    !live.filter(col("key") === key).isEmpty

  /** Full scan in lexicographic key order (`view.go:373-394`). */
  def iterator: Dataset[TableRow] = live.orderBy(col("key"))

  /** Range scan `[start, limit)`; empty limit = open end
    * (`view.go:396-417`, `storage/storage.go:116-125`). */
  def range(start: String, limit: String): Dataset[TableRow] = {
    val lower = live.filter(col("key") >= start)
    val bounded = if (limit == null || limit.isEmpty) lower
      else lower.filter(col("key") < limit)
    bounded.orderBy(col("key"))
  }

  /** Prefix scan (reference: `IteratorWithRange(start, "")` with prefix
    * semantics in `storage/memory.go:154-170`). */
  def prefix(p: String): Dataset[TableRow] =
    live.filter(col("key").startsWith(p)).orderBy(col("key"))

  /** Seek: iteration repositioned at the first key ≥ `key`
    * (`iterator.go:66-68`). */
  def seek(key: String): Dataset[TableRow] =
    live.filter(col("key") >= key).orderBy(col("key"))

  /** Persist this view's table bucketed + sorted by key and reopen it:
    * a point read then reads the one file of 1 bucket out of `numBuckets`
    * instead of the whole table — the engine's analogue of the
    * reference's FNV-hash key→partition routing on reads
    * (`view.go:297-315`): same contract (key-hash addressed storage),
    * Catalyst-owned mechanics. A filter-only plan has no exchange for
    * the bucketing to save, so Spark's DisableUnnecessaryBucketedScan
    * plans it as a plain file scan; that scan still drops every file
    * whose bucket id is outside the key-equality filter's bucket set
    * (with `spark.sql.sources.bucketing.enabled`, the default), so no
    * session conf is touched per read. Range/prefix scans additionally
    * benefit from the per-bucket sort (min/max row-group skipping). */
  def persistBucketed(tableName: String, numBuckets: Int,
      path: String): View.BucketedView = {
    val spark = rows.sparkSession
    import spark.implicits._
    // One writing task per bucket: hash partitioning on `key` uses the
    // bucket id's Murmur3 pmod, so each bucket gets exactly one file.
    rows.toDF().repartition(numBuckets, col("key")).write.format("parquet")
      .bucketBy(numBuckets, "key").sortBy("key")
      .option("path", path)
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(tableName)
    new View(spark.table(tableName).as[TableRow])
  }

  /** Decode values through a codec into a two-column DataFrame. */
  def decoded[T](codec: Codec[T], valueName: String = "value")(
      implicit enc: org.apache.spark.sql.Encoder[(String, T)]): DataFrame = {
    rows.map(r => (r.key, codec.decode(r.value)))(enc)
      .toDF("key", valueName)
  }

  def toDF: DataFrame = rows.toDF()
}

object View {

  /** A view returned by [[View.persistBucketed]]: an ordinary View over
    * the key-bucketed table, whose point reads Spark prunes to one
    * bucket's files. */
  type BucketedView = View

  /** Compact a message changelog to the live table: last write per key
    * wins by (timestamp, offset), null values are tombstones that drop
    * the row — Kafka log compaction (`cleanup.policy=compact`,
    * `/root/reference/topic_manager.go:317-326`), the mechanism by which
    * the reference materializes table topics into views
    * (`view.go:230-282`). One `max_by` aggregation: single shuffle,
    * map-side partials, no window sort. */
  def compact(changelog: Dataset[Message]): Dataset[TableRow] = {
    val spark = changelog.sparkSession
    import spark.implicits._
    changelog.toDF()
      .groupBy(col("key"))
      .agg(max_by(col("value"),
        struct(col("timestamp"), col("offset"))).as("value"))
      .filter(col("value").isNotNull)
      .as[TableRow]
  }
}
