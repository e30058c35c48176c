package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.util.sketch.BloomFilter
import graft.operators.AsOfJoin
import graft.sources.Sources.table

/** Relational surface (SURVEY §2.5): everything the reference lacks and
  * Spark gives for free — scans, filters, joins of all kinds, aggregates,
  * windows, sorts, set ops, scalar functions — declared via the DataFrame
  * API so Catalyst does pushdown/pruning/join-selection.
  *
  * Numeric discipline: money doubles are cast to small-precision decimals
  * *before* arithmetic, so aggregation is exact, order-independent and
  * bit-identical to the DuckDB oracle (double summation would be
  * order-dependent). Raw untouched doubles are safe to output (both
  * engines read the same parquet bits).
  */
object Relational {

  private def dec(c: Column, p: Int = 12, s: Int = 2): Column =
    c.cast(DecimalType(p, s))

  /** TPC-H Q1-style pricing summary: filter → groupBy → exact decimal
    * aggregates. Predicate + column pruning reach the parquet scan. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(4, 2)) - dec(col("l_discount"), 4, 2)))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q6-style: tight filter + single exact aggregate — the plan
    * must show PushedFilters on the parquet scan. */
  def revenueForecast(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount"), 4, 2))
        .cast("double").as("revenue"))

  /** TPC-H Q3-style: 3-way join → agg → top-k with deterministic
    * tie-break. Customer side is broadcast-eligible. */
  def joinTopK(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val o = table(spark, dir, "orders")
    val l = table(spark, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(4, 2)) - dec(col("l_discount"), 4, 2)))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Semi join (EXISTS): orders having at least one heavy lineitem. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val heavy = table(spark, dir, "lineitem").filter(col("l_quantity") >= 48)
    table(spark, dir, "orders")
      .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Anti join (NOT EXISTS): suppliers with no late-window shipments. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val late = table(spark, dir, "lineitem")
      .filter(col("l_quantity") >= 49 && col("l_discount") >= 0.08 &&
        col("l_shipdate") >= lit("2000-01-01"))
    table(spark, dir, "supplier")
      .join(late, col("s_suppkey") === col("l_suppkey"), "left_anti")
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Left outer join preserving zero-order customers. */
  def outerJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    table(spark, dir, "customer")
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
  }

  /** TPC-H Q5-style 6-way join: revenue per nation in one region.
    * Dimension chain (region→nation) broadcasts; fact joins shuffle on
    * their keys with AQE free to re-plan. */
  def multiJoin(spark: SparkSession, dir: String): DataFrame = {
    val r = table(spark, dir, "region").filter(col("r_name") === "ASIA")
    val n = table(spark, dir, "nation")
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    val l = table(spark, dir, "lineitem")
    val s = table(spark, dir, "supplier")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(4, 2)) - dec(col("l_discount"), 4, 2)))
        .cast("double").as("revenue"))
  }

  /** Analytic window: top-3 orders by totalprice per customer (raw
    * doubles — no arithmetic, so bit-exact vs the oracle). */
  def windowTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    table(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
  }

  /** Running (cumulative) sum per customer in date order. */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_total"))
  }

  /** Event-time tumbling window (daily) over the event stream: the batch
    * twin of a watermarked streaming window aggregation. */
  def eventTumble(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("users"),
        sum(dec(col("value"))).cast("double").as("total_value"))

  /** Set operations: intersect / except / union over key sets. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val withOrders = table(spark, dir, "orders")
      .select(col("o_custkey").as("k")).distinct()
    val building = table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    withOrders.intersect(building).withColumn("tag", lit("both"))
      .unionByName(building.except(withOrders).withColumn("tag", lit("no_orders")))
  }

  /** Scalar function sampler: string/date/math built-ins, one row per
    * part (floor/ceil instead of round — round on binary doubles is
    * engine-dependent at representation boundaries). */
  def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part").select(
      col("p_partkey"),
      upper(col("p_name")).as("uname"),
      substring(col("p_type"), 1, 5).as("type5"),
      length(col("p_name")).as("name_len"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
      (col("p_size") % 7).as("size_mod"),
      floor(col("p_retailprice")).as("price_floor"),
      ceil(col("p_retailprice")).as("price_ceil"),
      when(col("p_size") > 25, lit("L")).otherwise(lit("S")).as("size_class"))

  /** As-of join (custom operator — Spark lacks it): for each lineitem,
    * the most recent *earlier* shipment by the same supplier. Output only
    * the matched time so tie-break among equal-time candidates is
    * immaterial. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_shipdate"))
    AsOfJoin.leftAsOf(
      left = l, right = l.withColumnRenamed("l_shipdate", "prev_shipdate")
        .select(col("l_suppkey"), col("prev_shipdate")),
      leftKey = "l_suppkey", rightKey = "l_suppkey",
      leftTime = unix_micros(col("l_shipdate").cast("timestamp_ltz")),
      rightTime = unix_micros(col("prev_shipdate").cast("timestamp_ltz")),
      tieBreak = "prev_shipdate", strict = true)
      .select(col("l_orderkey"), col("l_linenumber"),
        date_format(col("prev_shipdate"), "yyyy-MM-dd").as("prev_ship"))
  }

  /** Rollup (hierarchical grouping sets). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val n = table(spark, dir, "nation")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("c_mktsegment"), col("n_name"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("c_acctbal"))).cast("double").as("bal"))
  }

  /** Exact distinct aggregation. */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("distinct_users"),
        count(lit(1)).as("cnt"))

  /** Semi-structured extraction: pull the integer out of the JSON props
    * column (regex form is portable to the oracle). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(col("event_type"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
        count(lit(1)).as("cnt"))

  /** Event-time SESSION windows (gap-based): Spark's `session_window`
    * merges events closer than the gap; the oracle reproduces it with
    * the classic lag + running-sum sessionization. A new session starts
    * at gap >= 1 hour (Spark merges only strictly-overlapping
    * [ts, ts+gap) intervals). Same operator runs under watermark in
    * streaming mode unchanged. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id").cast("string").as("key"),
        unix_micros(col("session_window.start")).as("session_start"),
        col("cnt"))

  /** CUBE: all 2^2 grouping sets over (segment, nation-region) — the
    * remaining grouping construct next to q14's ROLLUP. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val n = table(spark, dir, "nation")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .cube(col("c_mktsegment"), col("n_regionkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("c_acctbal"))).cast("double").as("bal"))
  }

  /** Skew-salted join: every event lands on one of THREE hot keys (the
    * worst shuffle-join shape — 3 straggler tasks would carry the whole
    * join), spread over 16 salts by [[graft.operators.SaltedJoin]]. The
    * oracle is the PLAIN join — the salt must never change a row. */
  /** GROUPING SETS — the generalized rollup/cube form with an arbitrary
    * set list: per (returnflag, linestatus), per returnflag, and the
    * grand total in ONE pass. Spark expands the sets via a single Expand
    * node feeding one hash aggregation — one scan, one shuffle, not one
    * per set. grouping() flags distinguish set-level NULLs from data
    * NULLs, exactly as in the oracle. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("cnt"))

  /** Exact linear-interpolation percentiles (quartiles of l_quantity per
    * return flag) — `percentile`, not `approx_percentile`, so the result
    * is bit-identical to the oracle's quantile_cont: quantities are
    * integer-valued doubles and the 2^-k quantile fractions make the
    * interpolation arithmetic exact IEEE. Scale note: exact percentile
    * buffers a value→count map per group; l_quantity's domain is the 50
    * TPC-H integer quantities, so the map stays O(50) per group at any
    * corpus size. For unbounded-domain columns the approx_percentile
    * sketch is the 100 TB path. */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        count(lit(1)).as("cnt"))

  /** q29: approx-percentile twin of [[percentiles]] for
    * unbounded-domain columns. q21's exact percentile is safe only
    * because l_quantity has a 50-value domain (documented there);
    * l_extendedprice has no such bound, so at 100 TB the deployed path
    * is a mergeable quantile sketch (`approx_percentile`, map-side
    * partials, O(accuracy) state per group).
    *
    * A Greenwald-Khanna sketch output cannot be compared across
    * engines bit-for-bit, so the oracle-checkable surface is the
    * d13/s09 estimator-audit shape: (a) the DISCRETE exact percentiles
    * — rank-selected data elements via row_number, no interpolation
    * arithmetic to diverge on — and (b) per-group booleans asserting
    * the sketch value's MEASURED rank error stays within its
    * 1/accuracy guarantee (+2 ranks of definitional slack). The
    * booleans are deterministically true whenever the sketch honors
    * its published contract; the oracle pins exactly that. */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").as("x"))
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val ranked = li
      .withColumn("rk", row_number().over(byFlag.orderBy(col("x"))))
      .withColumn("n", count(lit(1)).over(byFlag))
    val exact = ranked.groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("cnt"),
        max(when(col("rk") === expr("ceil(0.5 * n)"), col("x")))
          .as("exact_p50"),
        max(when(col("rk") === expr("ceil(0.95 * n)"), col("x")))
          .as("exact_p95"))
    val approx = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(x, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(x, 0.95, 1000)").as("ap95"))
    def ok(q: Double, lt: String, le: String): Column = {
      val target = ceil(lit(q) * col("n"))
      val tol = col("n").cast("double") / lit(1000.0) + lit(2.0)
      ((col(lt) + lit(1)).cast("double") <= target + tol) &&
        (col(le).cast("double") >= target - tol)
    }
    val audit = li.join(broadcast(approx), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("x") < col("ap50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("x") <= col("ap50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("x") < col("ap95"), 1L).otherwise(0L)).as("lt95"),
        sum(when(col("x") <= col("ap95"), 1L).otherwise(0L)).as("le95"))
      .select(col("l_returnflag"),
        ok(0.5, "lt50", "le50").as("p50_ok"),
        ok(0.95, "lt95", "le95").as("p95_ok"))
    exact.join(audit, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("cnt"), col("exact_p50"),
        col("exact_p95"), col("p50_ok"), col("p95_ok"))
  }

  /** q30: mergeable HyperLogLog distinct-count with a measured error
    * audit — the 100 TB counterpart of `count(DISTINCT ...)`. An exact
    * distinct is a full shuffle of every key occurrence; the deployed
    * form at scale is a DataSketches HLL sketch (`hll_sketch_agg`,
    * lgK=12 ⇒ 4 KiB of state per group) built as partition-local
    * partials and merged associatively (`hll_union_agg`) — sketch once
    * near the data, union anywhere, never re-scan. The plan stages
    * that shape explicitly: partial sketches per (event_type, shard)
    * — the per-executor partials of a 1000-node plan — then a
    * second-level union per event_type, proving re-aggregatability
    * rather than assuming it.
    *
    * Sketch registers aren't comparable across engines, so the
    * oracle-checkable surface is the q29/d13/s09 estimator-audit
    * shape: the exact distinct count (both engines), the partial
    * count actually merged (both engines: distinct shards), and a
    * boolean Spark MEASURES — |estimate − exact| within 3× the
    * published relative standard error 1.04/√2^lgK (≈4.9%). At these
    * cardinalities (n ≪ 2^lgK) the sketch is still in exact coupon
    * mode, so the bound holds deterministically, and the oracle pins
    * exactly that contract. */
  def hllAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("event_type"), col("user_id"))
    val partials = ev
      .groupBy(col("event_type"), pmod(col("user_id"), lit(8)).as("shard"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val merged = partials.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(lit(1)).as("n_partials"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(broadcast(merged), Seq("event_type"))
      .select(col("event_type"), col("exact_users"), col("n_partials"),
        (abs(col("est").cast("double") - col("exact_users").cast("double"))
          <= lit(3.0 * 1.04 / math.sqrt(4096.0)) *
             col("exact_users").cast("double")).as("hll_ok"))
  }

  /** q31: sliding-window DISTINCT count — trailing-7-day active users
    * per day (WAU) beside the daily count (DAU) and their ratio, the
    * stickiness metric. Distinct-over-sliding-window has no native
    * window-frame form (COUNT(DISTINCT) OVER RANGE is unsupported and
    * would be quadratic anyway); the scalable shape is BOUNDED FAN-OUT:
    * each (user, active-day) pair explodes into the ≤7 report days it
    * contributes to (map-side, 7× a pre-deduped input), then one
    * distinct + count per report day. No range join, no per-day
    * re-scan; the oracle spells the same semantics as the range join
    * Spark deliberately avoids. The inner join on day keeps windows
    * anchored on days that actually have activity (and drops the
    * phantom days the fan-out projects past the corpus end). */
  def slidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val du = table(spark, dir, "events")
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = du.select(col("user_id"),
        explode(sequence(col("day"),
          col("day") + expr("INTERVAL 6 DAYS"),
          expr("INTERVAL 1 DAY"))).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau7"))
    dau.join(wau, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau7"),
        (col("dau").cast("double") / col("wau7").cast("double"))
          .as("stickiness"))
  }

  /** Pivot / wide aggregation: one row per day, one column per event
    * type — the long→wide reshape analytics surfaces expect. The value
    * list is EXPLICIT (`pivot(col, values)`), which at 100 TB is the
    * difference between a single pass and a blocking distinct-scan of
    * the pivot column to discover it; absent cells coalesce to 0 so
    * the result is total. Physically this is the same conditional
    * aggregation the oracle spells out — one shuffle on the day key. */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    table(spark, dir, "events")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("day") +: types.map(t =>
        coalesce(col(t), lit(0L)).as(t)): _*)
  }

  /** Unpivot / melt — the wide→long inverse of [[pivotAgg]]: the daily
    * event-type matrix back to (day, event_type, cnt) rows. Physically
    * an Expand (each input row emits one row per value column) — narrow,
    * no shuffle beyond what produced the wide input; the oracle spells
    * the same thing as UNION ALL arms. Round-tripping q22's pivot
    * proves the two reshapes are mutual inverses on this corpus. */
  def unpivotAgg(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    pivotAgg(spark, dir)
      .unpivot(Array(col("day")), types.map(col).toArray, "event_type", "cnt")
  }

  /** Bucketed co-located join — the "pre-partition once, join free
    * forever" scale pattern: lineitem and orders are persisted as
    * bucketed tables (8 buckets on the order key, sorted within
    * buckets), so the join consumes the bucketing and needs NO
    * exchange on either side — the only shuffle in the plan is the
    * final small aggregation (PlanSpec pins exactly that). At 100 TB
    * this is the difference between re-shuffling the fact table on
    * every join and paying the partitioning once at ingest; the same
    * declaration drives Spark's bucketed scans on a real warehouse.
    * Bucket count is 8 here to keep the fixture write cheap; the
    * result is bucketing-independent and oracle-checked. */
  /** Drop `tbl` from the catalog AND its warehouse directory: a fresh
    * session's in-memory catalog forgets managed tables, but their
    * directories survive on disk and block the next CREATE
    * (LOCATION_ALREADY_EXISTS). */
  private def dropManaged(spark: SparkSession, tbl: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    scala.util.Try {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val path = new java.net.URI(wh).getPath
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      val d = new java.io.File(path, tbl)
      if (d.exists) rm(d)
    }
    ()
  }

  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    dropManaged(spark, "graft_li_bucketed")
    dropManaged(spark, "graft_ord_bucketed")
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("graft_li_bucketed")
    table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_ord_bucketed")
    spark.table("graft_li_bucketed")
      .join(spark.table("graft_ord_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
  }

  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("event_id"), (col("user_id") % 3).as("hot"))
    val nat = table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    graft.operators.SaltedJoin.inner(ev, nat, col("hot"), "n_nationkey", 16)
      .groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
  }

  /** q25: pure time-range join (no equi-key) — per purchase event, the
    * count and exact-decimal value sum of ALL other events corpus-wide
    * within ±60 s. [[graft.operators.RangeJoin]] turns it into a
    * granule equi-join; anchors with an empty window survive via the
    * left join with zero counts. */
  def rangeJoinActivity(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
    val anchors = table(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
    val w = 60L * 1000000L
    val pairs = graft.operators.RangeJoin
      .timeRange(anchors, ev, col("ts_us"), col("ts_us"), w, w)
      .where(col("r.event_id") =!= col("l.event_id"))
    anchors.as("a")
      .join(pairs, col("a.event_id") === col("l.event_id"), "left")
      .groupBy(col("a.event_id").as("event_id"))
      .agg(count(col("r.event_id")).as("n_nearby"),
        coalesce(sum(dec(col("r.value"), 18, 6)).cast("double"), lit(0.0))
          .as("sum_value"))
  }

  /** q26: ordered three-step funnel (view → click → purchase) by
    * timestamp min-chaining — a user reaches step k+1 iff an event of
    * that step's type occurs STRICTLY after the user's earliest
    * completion of step k. The canonical user-journey query of the
    * reference's event-processing domain (goka's own example is a
    * per-user click counter: `/root/reference/examples/1-simplest`),
    * here as one declarative plan instead of a keyed processor.
    *
    * Scale shape: ONE scan of events and ONE hash exchange on user_id —
    * the three step timestamps are chained `min(CASE …) OVER (PARTITION
    * BY user_id)` windows that all reuse the same partitioning (no sort
    * needed: frames are whole-partition), the per-user collapse groups
    * on the window's own key (no new exchange), and only the 3-row
    * stack ever leaves the executors. No joins, no per-step rescans;
    * at 100 TB the cost is a single shuffle of (user_id, type, ts).
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val byUser = Window.partitionBy(col("user_id"))
    val stepped = e
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts_us"))).over(byUser))
      .withColumn("t2",
        min(when(col("event_type") === "click" &&
          col("ts_us") > col("t1"), col("ts_us"))).over(byUser))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" &&
          col("ts_us") > col("t2"), col("ts_us"))).over(byUser))
    stepped
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"),
        min(col("t3")).as("t3"))
      .agg(count(col("t1")).as("u1"), count(col("t2")).as("u2"),
        count(col("t3")).as("u3"))
      .select(expr(
        """stack(3, 'step1_view', u1, 'step2_click', u2,
                    'step3_purchase', u3) AS (step, users)"""))
  }

  /** q28: per-event trailing-hour activity — the sliding event-time
    * aggregate (moving count + exact decimal sum over the preceding
    * hour, per user) every monitoring pipeline wants next to q17's
    * sessions. Declared as a RANGE frame over µs ordinals, so Catalyst
    * runs it as one hash exchange on user_id + one in-partition sort;
    * the frame then STREAMS each partition (two pointers, no
    * per-row rescan). Equal-timestamp events are frame peers — included
    * together regardless of intra-ts order, which is what makes the
    * result deterministic. Decimal summation keeps it exact and
    * order-independent, as everywhere else in this file.
    */
  def slidingActivity(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    e.select(col("event_id"),
      count(lit(1)).over(w).as("n_hour"),
      sum(dec(col("value"), 18, 6)).over(w).cast("double").as("sum_hour"))
  }

  /** q27: weekly retention cohorts — users bucketed by the week of
    * their first event; a cohort cell (cohort_week, week_offset) counts
    * the cohort's users active in that later week. The companion
    * analytics query to [[funnel]] on the reference's user-event
    * domain.
    *
    * Scale shape: one scan; the cohort week is a whole-partition min
    * window on user_id (one hash exchange), the user-week distinct
    * groups on (user_id, wk) — a superset of the window's key, and
    * Catalyst provably reuses the exchange (PlanSpec pins 2 total:
    * that one plus the final small (cohort, offset) rollup whose
    * cardinality is O(weeks²), not O(users)). Week arithmetic is exact
    * integer day-diff — both engines truncate weeks to Monday.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
    val byUser = Window.partitionBy(col("user_id"))
    e.withColumn("cohort", min(col("wk")).over(byUser))
      .select(col("user_id"), col("cohort"), col("wk")).distinct()
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        floor(datediff(col("wk"), col("cohort")) / 7).cast("long")
          .as("week_offset"))
      .agg(count(lit(1)).as("active_users"))
  }

  /** q33: incremental materialized-view maintenance — the algebraic-
    * aggregate merge that makes an MV refreshable from a DELTA instead
    * of a rescan. The view is a pricing summary per (returnflag,
    * linestatus); the fact table is split into a "stored" base and an
    * arriving delta, each reduced to PARTIAL aggregates (decimal sums,
    * min/max, counts — all algebraic, so partials compose), and the
    * refresh is a merge of the two partial tables: sums add, mins min,
    * maxes max, avg derives from merged sum/count at read. The oracle
    * is the FULL recompute over the unsplit table — hash-equality is
    * the proof that merge ≡ recompute.
    *
    * At 100 TB the base partials are a stored MV-state table (|groups|
    * rows); a refresh scans ONLY the delta and merges two group-sized
    * tables — O(delta) instead of O(fact). Same two-level shape as
    * q30's mergeable HLL, for the plain algebraic aggregates. Exact
    * decimal arithmetic keeps the merge bit-equal to the recompute
    * regardless of how rows are split or ordered; avg goes through a
    * single double divide of the exact sums. */
  def mvMerge(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    def partials(side: DataFrame) = side
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).as("p_qty"),
        sum(dec(col("l_extendedprice"))).as("p_price"),
        min(col("l_shipdate")).as("p_min_ship"),
        max(col("l_shipdate")).as("p_max_ship"),
        count(lit(1)).as("p_n"))
    val base = partials(li.filter(col("l_orderkey") % 10 =!= 0))
    val delta = partials(li.filter(col("l_orderkey") % 10 === 0))
    base.unionByName(delta)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("p_qty")).cast("double").as("sum_qty"),
        sum(col("p_price")).cast("double").as("sum_price"),
        (sum(col("p_price")).cast("double")
          / sum(col("p_n")).cast("double")).as("avg_price"),
        min(col("p_min_ship")).as("min_ship"),
        max(col("p_max_ship")).as("max_ship"),
        sum(col("p_n")).as("count_order"))
  }

  /** q32: changelog → SCD2 temporal dimension (gaps-and-islands). Each
    * user's event stream is read as a changelog of a derived attribute
    * (the value tier, `floor(value/100)`); consecutive equal tiers
    * collapse into ONE version row with a validity interval
    * `[valid_from, valid_to)`, the current version open-ended (NULL) —
    * the standard lakehouse "apply a CDC feed into a slowly-changing
    * dimension type 2" materialization.
    *
    * Islands are found without a self-join: lag() flags tier changes,
    * a running sum over the flags numbers the runs, and the (user,
    * version) rollup + the valid_to lead both cluster on user_id —
    * `HashPartitioning(user_id)` satisfies every downstream clustering
    * requirement (subset-of-grouping-keys rule), so Catalyst plans
    * exactly ONE exchange for the whole query (PlanSpec-pinned). At
    * 100 TB the cost is that one shuffle of the changelog plus
    * in-partition sorts; per-user history length bounds window memory,
    * never corpus size. */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        floor(col("value") / 100.0d).cast("long").as("tier"))
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val byStart = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    e.withColumn("prev", lag(col("tier"), 1).over(byTime))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("tier"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg")).over(byTime))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("tier")).as("tier"), min(col("ts_us")).as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byStart))
      .select(col("user_id"), col("version"), col("tier"),
        col("valid_from"), col("valid_to"))
  }

  /** q34: table profile — the ANALYZE-class per-column stats pass
    * (non-null count, exact ndv, min/max, row count) over lineitem in
    * ONE scan; see [[graft.ops.Profiling.profile]] for the scale
    * contract. */
  def profileTable(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.profile(table(spark, dir, "lineitem"),
      Seq("l_orderkey", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_linestatus"))

  /** q35: theta-sketch set algebra — distinct-user overlap between
    * every pair of event-type segments, estimated from k=64 KMV
    * sketches with the exact counts riding along as the audit; see
    * [[graft.ops.Profiling.kmvSetOps]] for why this (and not HLL) is
    * the 100 TB answer to "how many users did both X and Y". */
  def kmvSetAlgebra(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.kmvSetOps(table(spark, dir, "events"),
      col("event_type"), col("user_id"), k = 64)

  /** q38: exact equi-depth histogram — the ANALYZE statistics artifact
    * between q34's profile (counts/bounds) and q29's percentiles (two
    * points): per group, quartile-boundary values (discrete
    * rank-selected, the q29 machinery — no interpolation float risk)
    * plus the EXACT population of each (b_{k-1}, b_k] range, the
    * histogram a cost-based optimizer or drift monitor actually
    * consumes. Duplicate-heavy columns make equi-depth buckets
    * legitimately unequal — counts come from value-range predicates,
    * so they are deterministic whatever the tie order.
    *
    * Scale shape: ranking partitions BY GROUP (distributed, the q29
    * contract); the 4-value-per-group boundary table broadcasts back;
    * bucket assignment is a map-only CASE feeding one (group, bucket)
    * aggregation. At 100 TB swap the boundary derivation for
    * approx_percentile and keep everything else. */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("x"))
    val byG = Window.partitionBy(col("g"))
    val ranked = li
      .withColumn("rk", row_number().over(byG.orderBy(col("x"))))
      .withColumn("n", count(lit(1)).over(byG))
    val bounds = ranked.groupBy(col("g")).agg(
      max(when(col("rk") === expr("ceil(1 * n / 4.0)"), col("x"))).as("b1"),
      max(when(col("rk") === expr("ceil(2 * n / 4.0)"), col("x"))).as("b2"),
      max(when(col("rk") === expr("ceil(3 * n / 4.0)"), col("x"))).as("b3"),
      max(when(col("rk") === expr("ceil(4 * n / 4.0)"), col("x"))).as("b4"))
    li.join(broadcast(bounds), Seq("g"))
      .select(col("g"),
        when(col("x") <= col("b1"), 1)
          .when(col("x") <= col("b2"), 2)
          .when(col("x") <= col("b3"), 3)
          .otherwise(4).as("bucket"),
        when(col("x") <= col("b1"), col("b1"))
          .when(col("x") <= col("b2"), col("b2"))
          .when(col("x") <= col("b3"), col("b3"))
          .otherwise(col("b4")).cast("double").as("hi"))
      .groupBy(col("g").as("l_returnflag"), col("bucket"), col("hi"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** q37: complex-event-processing pattern match — the
    * MATCH_RECOGNIZE capability class (SQL:2016; Flink CEP): count
    * NON-OVERLAPPING completed `view → click → purchase` sequences per
    * user under the greedy after-match-skip-past-last-row semantics,
    * which q26's first-occurrence funnel cannot express (a user who
    * completes the journey twice counts twice here, once there). The
    * state machine is INTEGER-ENCODED (acc = 10·completed + stage;
    * events as type codes) so the per-user fold is one arithmetic
    * CASE over the (ts, event_id)-sorted code list — the identical
    * fold runs in the DuckDB oracle, making a sequential-pattern
    * operator hash-checkable.
    *
    * Scale shape: ONE exchange on user_id; per-user work is a sorted
    * fold over that user's events (the q26/st13 bound); output is one
    * row per user. A pattern with k steps changes the CASE arms, not
    * the plan. */
  def cepMatch(spark: SparkSession, dir: String): DataFrame =
    cepMatchOver(table(spark, dir, "events"))

  /** The q37 operator over any (user_id, event_id, ts, event_type)
    * relation — split out so the spec can drive hand-built sequences
    * through the exact production fold. */
  def cepMatchOver(events: DataFrame): DataFrame =
    events
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id"),
          when(col("event_type") === "view", 1L)
            .when(col("event_type") === "click", 2L)
            .when(col("event_type") === "purchase", 3L)
            .otherwise(0L).as("c")).as("ev"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("ev"))).as("evs"))
      .select(col("user_id"),
        (aggregate(transform(col("evs"), x => x.getField("c")), lit(0L),
          (acc, x) =>
            when(acc % 10 === 0 && x === 1, acc + 1)
              .when(acc % 10 === 1 && x === 2, acc + 1)
              .when(acc % 10 === 2 && x === 3, acc + 8)
              .otherwise(acc)) / 10).cast("long").as("n_matches"))

  /** q36: Misra-Gries heavy hitters — top-20 users by event volume via
    * bounded-memory per-partition summaries
    * ([[graft.ops.Profiling.heavyHittersPartial]]); the shuffle
    * carries ≤ m·#partitions summary rows, never the raw key stream.
    * m = 2^17 keeps the fixture (and any reasonable user count) in
    * the sketch's exact regime — the `exact` flag would go false, and
    * the oracle compare would fail loudly, if capacity were ever
    * exceeded. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.ops.Profiling.heavyHittersPartial(
      table(spark, dir, "events"), col("user_id"), m = 131072)
    graft.ops.Profiling.heavyHittersTopK(p, k = 20)
  }

  /** q39: duration-capped sessionization — sessions split at a 24 h
    * inactivity gap OR when admitting an event would stretch the
    * session past a 48 h duration cap. The cap is the arm Spark's
    * `session_window` (and SQL's lag/sum islands trick) cannot
    * express: whether an event opens a new session depends on the
    * RUNNING session's anchor, which resets on every split — an
    * inherently sequential per-key recurrence, so it runs as the q37
    * fold discipline: one exchange on user_id, then a linear
    * struct-accumulator fold over that user's (ts, event_id)-sorted
    * micros. Both arms carry real weight on the fixture (gap-only
    * sessions: 1214; cap splits: 500+). Output per user: total
    * sessions and how many of the splits were cap-forced.
    *
    * Scale shape: identical to q37/q26 — one shuffle keyed by user,
    * per-user work linear in that user's events, one output row per
    * user. The fold state is 4 longs regardless of history length. */
  def cappedSession(spark: SparkSession, dir: String): DataFrame =
    cappedSessionOver(table(spark, dir, "events"),
      gapUs = 24L * 3600 * 1000000, capUs = 48L * 3600 * 1000000)

  /** q40: OHLC bars — per (day, event_type) open/high/low/close, the
    * ordered-aggregation class (first/last BY TIME, not by value) that
    * plain min/max cannot express. `min_by`/`max_by` with a composite
    * (ts, event_id) ordering key run as ONE hash aggregate with
    * map-side partials — no window, no sort, no per-group row ranking;
    * high/low/count ride in the same aggregate. The raw double values
    * pass through untouched (no arithmetic), so the result is
    * bit-exact against any engine reading the same parquet.
    *
    * Scale shape: one exchange on the group key; state per group is
    * five scalars regardless of group size. */
  def ohlcBars(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_events"))

  /** q41: rolling z-score anomaly detection over the daily event
    * series — the monitoring query every ingest pipeline runs (did
    * today's volume deviate from the trailing week?). The z-test is
    * INTEGER-EXACT: against the trailing window's (n, Σx, Σx²) the
    * condition |x − μ| > 2σ is evaluated as the cross-multiplied
    * (n·x − s)² > 4·(n·q − s²) — no float mean/stddev, so the flag is
    * bit-deterministic in any engine. Squares are computed in
    * DECIMAL(38,0) so the form survives daily counts up to ~10¹⁸
    * (int64 would overflow at ~10⁹ events/day/key). Window excludes
    * the current day (compare to history, not to itself) and needs
    * >= 3 history days before it may flag.
    *
    * Scale shape: the heavy stage is the daily pre-aggregation (one
    * exchange, map-side partials); the rolling window then runs over
    * #days × #types rows — negligible at any corpus size. */
  def dailyAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    val d19 = (c: Column) => c.cast(DecimalType(19, 0))
    daily
      .withColumn("n", count(col("cnt")).over(w))
      .withColumn("s", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("q",
        coalesce(sum(col("cnt") * col("cnt")).over(w), lit(0L)))
      .select(col("day"), col("event_type"), col("cnt"),
        (col("n") >= 3 &&
          d19(col("n") * col("cnt") - col("s")) *
            d19(col("n") * col("cnt") - col("s")) >
          lit(4) * (d19(col("n")) * d19(col("q")) -
            d19(col("s")) * d19(col("s")))).as("is_anomaly"))
  }

  /** The q39 operator over any (user_id, event_id, ts) relation — split
    * out so the spec can drive hand-built timelines through the exact
    * production fold. */
  def cappedSessionOver(events: DataFrame, gapUs: Long, capUs: Long)
      : DataFrame = {
    val zero = struct(lit(0L).as("anchor"), lit(0L).as("prev"),
      lit(0L).as("nsess"), lit(0L).as("ncap"))
    events
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id")).as("ev"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("ev"))).as("evs"))
      .select(col("user_id"),
        aggregate(transform(col("evs"), e => e.getField("us")), zero,
          (acc, t) => {
            val opens = acc.getField("nsess") === 0L ||
              t - acc.getField("prev") > gapUs
            val caps = t - acc.getField("anchor") > capUs
            when(opens, struct(t.as("anchor"), t.as("prev"),
              (acc.getField("nsess") + 1L).as("nsess"),
              acc.getField("ncap").as("ncap")))
              .when(caps, struct(t.as("anchor"), t.as("prev"),
                (acc.getField("nsess") + 1L).as("nsess"),
                (acc.getField("ncap") + 1L).as("ncap")))
              .otherwise(struct(acc.getField("anchor").as("anchor"),
                t.as("prev"), acc.getField("nsess").as("nsess"),
                acc.getField("ncap").as("ncap")))
          }).as("st"))
      .select(col("user_id"), col("st.nsess").as("n_sessions"),
        col("st.ncap").as("n_cap_splits"))
  }

  /** q43: NOT IN over a nullable subquery — the NULL-AWARE anti-join,
    * the three-valued-logic trap q05's plain anti-join never faces:
    * `x NOT IN (set)` is UNKNOWN (not TRUE) for every x the moment the
    * set contains one NULL, so a LeftAnti rewrite is WRONG in general
    * and the engine must plan the dedicated null-aware form. The
    * subquery column is nullable by parquet schema, so Catalyst cannot
    * prove the set null-free and plans its optimized single-column
    * NAAJ — a broadcast hash join, not the naive O(n·m) nested loop
    * (PlanSpec-pinned). The fixture set happens to be null-free, which
    * keeps the witnessed result non-degenerate; the any-NULL → empty
    * semantics is spec-forced on synthetic data (RelationalEdgeSpec).
    * Both engines run the identical SQL text. */
  def notInNullAware(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "supplier").createOrReplaceTempView("supplier_q43")
    table(spark, dir, "customer").createOrReplaceTempView("customer_q43")
    spark.sql(
      """SELECT c_nationkey, count(*) AS n_cust
         FROM customer_q43
         WHERE c_nationkey NOT IN
           (SELECT s_nationkey FROM supplier_q43 WHERE s_nationkey < 10)
         GROUP BY c_nationkey""")
  }

  /** q42: correlated scalar subqueries — the TPC-H Q17 shape
    * ("lineitems below 20% of their part's average quantity"),
    * deliberately written on the declarative SQL surface so CATALYST
    * performs the decorrelation: the two per-row correlated aggregates
    * (count and sum over the same correlation key) are rewritten into
    * ONE shuffled aggregate joined back to the probe side — never a
    * per-row re-scan of lineitem (PlanSpec pins no scalar-subquery
    * node survives and the table is scanned at most twice). The
    * avg-fraction predicate is cross-multiplied (5·qty·cnt < sum) so
    * both engines compare exact integers, never a rounded average.
    *
    * At 100 TB: decorrelation is the difference between O(n) with one
    * shuffle and an accidental O(n²); writing the natural correlated
    * form and TRUSTING the rewrite is the Spark-first idiom. */
  def correlatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem_q42")
    spark.sql(
      """SELECT l_partkey, count(*) AS n_small,
           sum(CAST(l_quantity AS BIGINT)) AS qty_sum
         FROM lineitem_q42 l1
         WHERE 5 * CAST(l_quantity AS BIGINT)
               * (SELECT count(*) FROM lineitem_q42 l2
                  WHERE l2.l_partkey = l1.l_partkey)
             < (SELECT sum(CAST(l_quantity AS BIGINT)) FROM lineitem_q42 l2
                WHERE l2.l_partkey = l1.l_partkey)
         GROUP BY l_partkey""")
  }

  /** q44: forward-fill / gap-fill — attach to every event the most
    * recent purchase VALUE observed for that user (`LAST_VALUE ...
    * IGNORE NULLS` over the per-user event-time order). The canonical
    * "carry the last observation forward" operator every feature
    * pipeline needs (state-of-the-world joins, sensor gap-fill,
    * last-touch attribution); the reference expresses the same thing
    * imperatively as a per-key state read in `ProcessCallback`
    * (`/root/reference/processor.go:290-320`) — here it is ONE window
    * function, no state machine.
    *
    * Scale notes: the window partitions by `user_id`, so the plan is
    * one hash exchange on the natural key — per-user timelines sort
    * independently, no global order. The `user_id % 5 = 2` slice is
    * pushed below the window (partition-key predicate), so 4/5 of the
    * table never reaches the sort. The fill value is a single row's
    * untouched parquet double (never arithmetic on doubles), so the
    * result is bit-exact cross-engine. */
  def forwardFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(spark, dir, "events")
      .filter(col("user_id") % 5 === 2)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        last(when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true).over(w).as("last_purchase_value"))
  }

  /** q46: hierarchy flattening / transitive closure — resolve every
    * part to its root in a synthetic forest (parent = ⌊key/2⌋, keys
    * below 16 are roots) and report per-root subtree stats. The
    * recursive-query canon (BOM explosion, org charts, category
    * trees): the ORACLE runs DuckDB's `WITH RECURSIVE`; Spark 4.1 can
    * run the identical declarative form (UnionLoop — HierarchySpec
    * proves it agrees), but that plan joins the edge table once per
    * LEVEL. This query instead uses `ops.Hierarchy.flattenForest` —
    * pointer jumping, ⌈log₂ depth⌉ equi-join rounds — because at
    * 100 TB a deep hierarchy under level-by-level recursion is a
    * thousand shuffles where doubling needs ten. */
  def hierarchyFlatten(spark: SparkSession, dir: String): DataFrame = {
    val edges = table(spark, dir, "part").select(
      col("p_partkey").as("node"),
      when(col("p_partkey") >= 16L, floor(col("p_partkey") / 2))
        .otherwise(lit(null)).cast("long").as("parent"))
    graft.ops.Hierarchy.flattenForest(edges)
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_parts"), max(col("depth")).as("max_depth"),
        sum(col("node")).as("key_sum"))
  }

  /** q51: frequent-sequence mining (lite): the top-10 most common
    * 3-step event-type TRANSITIONS across all per-user timelines —
    * the "what do users do next" table a product-analytics canon
    * (and the CEP-rule discovery input: q37 matches a known pattern,
    * this finds the patterns worth matching). Two lags over the
    * per-user order, one global trigram count, TakeOrdered top-10
    * with the trigram as the deterministic tie-break. */
  def frequentSequences(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("e3"))
      .withColumn("e2", lag(col("e3"), 1).over(w))
      .withColumn("e1", lag(col("e3"), 2).over(w))
      .filter(col("e1").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(10)
  }

  /** q55: SPATIAL self-join via grid bucketing — the geohash/H3
    * pattern: points bucket into cells of side C ≥ radius, one side
    * map-side EXPLODES to its 3×3 neighbor cells, and the equi-join
    * on cell id meets every pair within the radius EXACTLY ONCE
    * (each pair is found in the second point's unique home cell, and
    * dist < r ≤ C bounds the cell offset to ±1 — so no distinct is
    * needed and no pair is missed: the bucketing is lossless, not a
    * candidate heuristic). Exact integer distance verify on
    * candidates only. This is how "points within 1 km of each other"
    * runs at 100 TB — an equi-join carrying a 9× fan-out instead of
    * the O(n²) theta-join a naive distance predicate plans.
    * Coordinates are md5-derived integers (deterministic,
    * oracle-replicable); output: the close-pair count plus exact
    * min/sum of squared distances as the checksum. */
  def spatialJoin(spark: SparkSession, dir: String): DataFrame =
    closePairStats(spatialPoints(table(spark, dir, "events")),
      cellSide = 1000L, r2 = 1000000L)

  /** The md5-derived synthetic coordinates shared by q55 and st46:
    * (id, ts, x, y) with x/y in [0, 100000). Deterministic and
    * oracle-replicable. */
  def spatialPoints(events: DataFrame): DataFrame =
    events.select(col("event_id").as("id"), col("ts"),
      (graft.functions.Hashes.h32(col("event_id").cast("string"))
        % 100000L).as("x"),
      (conv(substring(md5(col("event_id").cast("string")), 9, 8), 16, 10)
        .cast("long") % 100000L).as("y"))

  /** The q55 grid join over any (id, x, y) relation — split out so
    * the randomized spec proves losslessness against brute force.
    * Requires r ≤ cellSide (the ±1-cell bound). */
  def closePairStats(pts0: DataFrame, cellSide: Long, r2: Long)
      : DataFrame = {
    require(r2 <= cellSide * cellSide,
      s"radius^2 $r2 exceeds cellSide^2 — the 3x3 probe would miss pairs")
    val pts = pts0
      .withColumn("cx", expr(s"x div $cellSide"))
      .withColumn("cy", expr(s"y div $cellSide"))
    val neighbors = pts.select(col("id").as("a_id"),
      col("x").as("ax"), col("y").as("ay"),
      explode(expr(
        "flatten(transform(sequence(-1, 1), dx -> " +
          "transform(sequence(-1, 1), dy -> " +
          "struct(cx + dx AS nx, cy + dy AS ny))))")).as("nc"))
      .select(col("a_id"), col("ax"), col("ay"),
        col("nc.nx").as("cx"), col("nc.ny").as("cy"))
    // Shuffled-hash, not sort-merge: the streamed side is the 9×
    // neighbor-cell explosion of the corpus, the build side the corpus
    // itself — bounded per (cx, cy)-hash partition at every scale (cell
    // occupancy is capped by the grid design). Sort-merge sorted the 9×
    // side; hashing the 1× side streams it unsorted (the q63 lesson).
    neighbors.join(pts.select(col("id").as("b_id"),
        col("x").as("bx"), col("y").as("by"), col("cx"), col("cy"))
        .hint("shuffle_hash"),
        Seq("cx", "cy"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("d2",
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")))
      .filter(col("d2") < r2)
      .agg(count(lit(1)).as("n_close_pairs"),
        min(col("d2")).as("min_d2"), sum(col("d2")).as("d2_sum"))
  }

  /** q54: session PATH analysis — the top-10 most-travelled session
    * journeys: sessions cut at a 30-minute inactivity gap (q17's
    * `session_window`), each session's path = its first 5 event
    * types in time order joined with `>`, counted globally. The
    * navigation-pattern report next to q51's unwindowed trigrams.
    * One (user) exchange for the session grouping; the per-session
    * ordered fold is in-row (`sort_array` on session-bounded lists);
    * paths then count on a path-keyed exchange with TakeOrdered
    * top-10. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "events")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(array_join(slice(transform(sort_array(collect_list(struct(
        col("ts"), col("event_id"), col("event_type")))),
        e => e.getField("event_type")), 1, 5), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(10)
  }

  /** q53: funnel LATENCY — how long conversion takes, not just how
    * many convert: for users completing q26's ordered
    * view→click→purchase chain, the view→purchase duration's exact
    * quartiles (linear interpolation over µs longs — q21's
    * bit-parity discipline; its bounded-domain scale note applies,
    * with q29's sketch as the unbounded-scale path). Same one-
    * exchange stepped-window construction as q26; converting users
    * are one row each before the final scalar aggregate. */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val byUser = Window.partitionBy(col("user_id"))
    val stepped = e
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts_us"))).over(byUser))
      .withColumn("t2",
        min(when(col("event_type") === "click" &&
          col("ts_us") > col("t1"), col("ts_us"))).over(byUser))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" &&
          col("ts_us") > col("t2"), col("ts_us"))).over(byUser))
    stepped
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("t1"), min(col("t3")).as("t3"))
      .filter(col("t3").isNotNull)
      .select((col("t3") - col("t1")).as("dur"))
      .agg(count(lit(1)).as("n_converted"),
        percentile(col("dur"), lit(0.25)).as("p25_us"),
        percentile(col("dur"), lit(0.5)).as("p50_us"),
        percentile(col("dur"), lit(0.75)).as("p75_us"))
  }

  /** q52: association mining (market-basket lift): the "basket" is a
    * user-day's set of distinct event types; for every unordered type
    * pair, the co-occurrence count plus both supports and the basket
    * total — the four integers lift/confidence are ratios of,
    * emitted raw so the result stays exact. Pair generation is a
    * basket-local self-join: with t types per basket it fans out
    * t(t−1)/2 pairs, bounded by the TYPE DOMAIN, never by corpus
    * size; supports and the total ride the same distinct-basket
    * frame, and the pair↔support joins are broadcast (domain-sized).
    * The a<b canonical order dedupes pairs without a distinct. */
  def basketLift(spark: SparkSession, dir: String): DataFrame = {
    val baskets = table(spark, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000")
        .as("day"), col("event_type"))
      .distinct()
      .localCheckpoint() // three consumers: pairs, supports, total
    val pairs = baskets.as("a")
      .join(baskets.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("n_ab"))
    val support = baskets.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val total = baskets.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    pairs
      .join(broadcast(support.select(col("event_type").as("ta"),
        col("n").as("n_a"))), Seq("ta"))
      .join(broadcast(support.select(col("event_type").as("tb"),
        col("n").as("n_b"))), Seq("tb"))
      .crossJoin(broadcast(total))
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"),
        col("n_ab"), col("n_baskets"))
  }

  /** q49: time-weighted average (metering/billing): per (user, day),
    * each observation's value is HELD until the next observation that
    * day (the last until midnight), and the day's average weights
    * each value by its holding duration — the semantics meters,
    * spot-price billing and utilization SLAs need, where a plain AVG
    * over-counts bursts of samples. Emitted as exact integers
    * (`Σ value_c·dur_µs`, `Σ dur_µs`, cents-scaled values): the
    * division is the caller's, so the engine result is bit-exact.
    * One (user, day) exchange serves the lead window and the rollup;
    * products stay < 2⁶³ by construction (value ≤ 10⁶ cents × day in
    * µs ≈ 8.6·10¹⁶). */
  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame =
    twaOver(table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        col("event_id"),
        floor(col("value") * 100.0d).cast("long").as("vc")))

  /** The q49 holding-interval rollup over any
    * (user_id, t, event_id, vc) relation — split out for the
    * randomized parity spec. */
  def twaOver(e0: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val e = e0.withColumn("day", expr("t div 86400000000"))
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("t"), col("event_id"))
    e.withColumn("tnext",
        coalesce(lead(col("t"), 1).over(w), (col("day") + 1L) * dayUs))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("vc") * (col("tnext") - col("t"))).as("weighted_sum"),
        sum(col("tnext") - col("t")).as("dur_us"),
        count(lit(1)).as("n_obs"))
      .select(col("user_id"),
        date_format(date_add(lit("1970-01-01").cast("date"),
          col("day").cast("int")), "yyyy-MM-dd").as("day"),
        col("weighted_sum"), col("dur_us"), col("n_obs"))
  }

  /** q50: POINT-IN-TIME dimension join (feature-store "time travel
    * correctness"): every click is enriched with the user's tier AS
    * OF the click instant — the tier set by the latest purchase at or
    * before it (same-instant purchase counts; later ones must not
    * leak backward). The textbook plan is an inequality join against
    * the SCD2 version table (the ORACLE does exactly that, correlated
    * `ORDER BY t DESC LIMIT 1`) — O(facts·versions) pairs at scale.
    * This plan instead UNIONS dim and fact rows on the shared
    * (user, time) order and forward-fills the tier (q44's machinery):
    * ONE user_id exchange, no join node at all (PlanSpec-pinned), and
    * the oracle equality proves union+fill ≡ interval join. Dim rows
    * sort before facts at a tie instant; among same-instant purchases
    * the fill keeps the highest event_id, matching the oracle's
    * DESC LIMIT 1. */
  def pointInTimeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val dim = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        lit(0).as("kind"), col("event_id"),
        floor(col("value") / 100.0d).cast("long").as("tier"))
    val facts = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        lit(1).as("kind"), col("event_id"),
        lit(null).cast("long").as("tier"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(facts)
      .withColumn("cur_tier", last(col("tier"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .groupBy(coalesce(col("cur_tier"), lit(-1L)).as("tier"))
      .agg(count(lit(1)).as("n_clicks"),
        count_distinct(col("user_id")).as("n_users"))
  }

  /** q48: EWMA smoothing in integer fixed point — per user, the
    * exponentially-weighted moving average of the daily event count,
    * α = 1/8, carried in 1/64 units: `s₁ = 64·x₁`,
    * `sᵢ = (64·xᵢ + 7·sᵢ₋₁) >> 3`. The metrics-pipeline recurrence
    * (load smoothing, anomaly baselines) that floats make
    * order-fragile and engines make non-portable — in fixed point the
    * fold is exact integers, so any engine that applies the same
    * ordered recurrence lands on identical bits (the oracle runs it
    * as a recursive CTE). Shift-right IS the division: both sides
    * floor non-negative values. One exchange on user_id (daily
    * rollup), then a per-user sorted in-row fold — O(active days)
    * per row, no window, no second shuffle. */
  def ewmaDaily(spark: SparkSession, dir: String): DataFrame =
    ewmaOver(table(spark, dir, "events")
      .groupBy(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("x")))

  /** The q48 fold over any (user_id, d, x) series — split out so the
    * randomized parity spec drives hand-built series through the
    * exact production fold. */
  def ewmaOver(daily: DataFrame): DataFrame =
    daily.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("xs"))
      .select(col("user_id"), size(col("xs")).cast("long").as("n_days"),
        aggregate(transform(col("xs"), e => e.getField("x")), lit(-1L),
          (s, x) => when(s < 0L, x * 64L)
            .otherwise(shiftright(x * 64L + s * 7L, 3)))
          .as("ewma_x64"))

  /** q47: longest inactivity gap — per user, the maximum day-distance
    * between consecutive ACTIVE days (the churn-risk signal; the dual
    * of q27's retention view). Gaps-and-islands reduced to its lag
    * form: distinct active days per user, one `lag` window, `max`.
    * One exchange on user_id serves both the distinct and the window
    * (same key), single-day users report gap 0. All-integer day
    * ordinals. */
  def longestGap(spark: SparkSession, dir: String): DataFrame = {
    val day = expr("unix_micros(ts) div 86400000000")
    val active = table(spark, dir, "events")
      .select(col("user_id"), day.as("d")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    active
      .select(col("user_id"), col("d"),
        (col("d") - lag(col("d"), 1).over(w)).as("gap"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_active_days"),
        coalesce(max(col("gap")), lit(0L)).as("longest_gap_days"))
  }

  /** q45: interval-overlap peak concurrency — the sweep-line
    * ("theater problem") aggregate: each event opens a 30-minute
    * half-open interval `[ts, ts+30m)`; report the PEAK number of
    * simultaneously-open intervals per day. Session/range joins can't
    * express this (it is a property of an instant, not a pair), and
    * the naive formulation is an O(n²) self-join; the sweep is O(n)
    * points.
    *
    * Shape: ONE pruned scan of `events.ts` fans out map-side into
    * +1/−1 boundary points via an array-literal explode (an interval
    * crossing midnight contributes a clipped segment per day — at most
    * 2 for a 30-min span), then one hash exchange on `day` runs the
    * per-day running sum. The DAY is the parallel unit: each day's
    * sweep is an independent sorted fold, so 100 TB of events
    * parallelizes over the date range; finer granularity (hour
    * buckets) is the same construction with a smaller modulus.
    * Within a tie instant the −1s sort first (half-open semantics:
    * an interval ending at t does not overlap one starting at t), and
    * the peak of the running sum is tie-order-independent because the
    * sum is monotone within each (t, delta) group. All-integer µs
    * math — exact cross-engine. */
  /** The q45/st39 boundary-point construction: each event's 30-min
    * half-open interval fans out map-side into per-day-clipped
    * (day, t, ±1) sweep points — 2 per interval, 4 when it crosses
    * midnight. */
  def concurrencyPoints(events: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val s = unix_micros(col("ts"))
    val e = s + 1800000000L
    val d1 = s.divide(lit(dayUs)).cast("long")
    val d2 = e.divide(lit(dayUs)).cast("long")
    val crosses = (d2 > d1) && (e % dayUs > 0L)
    def pt(day: Column, t: Column, delta: Int): Column =
      struct(day.as("day"), t.as("t"), lit(delta).as("delta"))
    val nullPt = lit(null).cast(
      "struct<day:bigint,t:bigint,delta:int>")
    events
      .select(col("event_id"), explode(filter(array(
        pt(d1, s, 1),
        pt(d1, least(e, (d1 + 1L) * dayUs), -1),
        when(crosses, pt(d2, d2 * dayUs, 1)).otherwise(nullPt),
        when(crosses, pt(d2, e, -1)).otherwise(nullPt)),
        p => p.isNotNull)).as("p"))
      .select(col("event_id"), col("p.day"), col("p.t"), col("p.delta"))
  }

  def peakConcurrency(spark: SparkSession, dir: String): DataFrame =
    peakOver(table(spark, dir, "events"))

  /** The q45/st39 sweep over any (event_id, ts) relation — split out
    * for the randomized parity spec. */
  def peakOver(events: DataFrame): DataFrame = {
    concurrencyPoints(events)
      .select(col("day"),
        sum(col("delta")).over(Window.partitionBy(col("day"))
          .orderBy(col("t"), col("delta"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("run"))
      .groupBy(col("day"))
      .agg(max(col("run")).as("peak_concurrent"))
      .select(date_format(date_add(lit("1970-01-01").cast("date"),
        col("day").cast("int")), "yyyy-MM-dd").as("day"),
        col("peak_concurrent"))
  }

  /** q56: co-purchase affinity — the item-item co-occurrence matrix
    * of collaborative filtering ("customers who bought X also bought
    * Y"), at the BRAND grain so counts are dense: per order the
    * DISTINCT brand set (dimension resolved by a broadcast join to
    * `part`), then a basket-local self-join on the order key emits
    * each unordered brand pair once (`a < b` canonical order — no
    * distinct pass). The fan-out is bounded by the per-order basket
    * size (≤ items per order, squared), NEVER by corpus size — the
    * same lossless-bucketing argument as q55: at 100 TB this is an
    * equi-join whose expansion rides the basket-size distribution,
    * not an all-pairs product. Top-20 with full deterministic
    * tie-break. */
  def copurchase(spark: SparkSession, dir: String): DataFrame = {
    val ob = table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
      .join(broadcast(table(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("ok"), col("p_brand").as("b"))
      .distinct()
    ob.as("a").join(ob.as("b"),
        col("a.ok") === col("b.ok") && col("a.b") < col("b.b"))
      .groupBy(col("a.b").as("b1"), col("b.b").as("b2"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("b1"), col("b2"))
      .limit(20)
  }

  /** q60: WINDOWED funnel — q26's ordered chain with attribution
    * bounds, the form real funnel analysis runs (an unbounded chain
    * credits a purchase months after the view): click must follow the
    * first view within 1 day, purchase must follow that click within
    * 3 days. Same one-exchange stepped-window construction as
    * q26/q53; the bounds are extra predicates inside the conditional
    * mins, exact µs integers. */
  def windowedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val e = table(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val byUser = Window.partitionBy(col("user_id"))
    e.withColumn("t1",
        min(when(col("event_type") === "view", col("us"))).over(byUser))
      .withColumn("t2",
        min(when(col("event_type") === "click" &&
          col("us") > col("t1") &&
          col("us") <= col("t1") + lit(dayUs), col("us"))).over(byUser))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" &&
          col("us") > col("t2") &&
          col("us") <= col("t2") + lit(3L * dayUs), col("us")))
          .over(byUser))
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"),
        min(col("t3")).as("t3"))
      .agg(count(col("t1")).as("n_viewed"),
        count(col("t2")).as("n_clicked_1d"),
        count(col("t3")).as("n_purchased_3d"))
  }

  /** q59: interval-union COVERAGE — how much wall-clock each user was
    * actually active, with overlaps merged: each event opens a
    * 30-minute activity interval (q45's window), and the union length
    * is the classic running-max sweep — an interval contributes
    * `e − max(s, max(previous ends))` clamped at 0, a new block opens
    * where the running max falls short of `s`. The uptime/SLA/billing
    * primitive q45 (peak) and q47 (gaps) don't give. One user-keyed
    * exchange, exact µs integers, no self-join — the O(n²) overlap
    * join a naive formulation plans is replaced by one ordered window
    * pass. */
  def intervalCoverage(spark: SparkSession, dir: String): DataFrame = {
    val winUs = 1800000000L
    val e = table(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("s"),
        col("event_id"))
      .withColumn("e", col("s") + lit(winUs))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("pm", max(col("e")).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("pm").isNull, lit(winUs))
          .otherwise(greatest(lit(0L),
            col("e") - greatest(col("s"), col("pm")))))
          .as("covered_us"),
        sum(when(col("pm").isNull || col("pm") < col("s"), 1L)
          .otherwise(0L)).as("n_blocks"))
  }

  /** q58: MAD robust outliers — the median-absolute-deviation screen
    * (Hampel/robust-statistics canon) next to q41's mean/variance
    * z-test: per event_type the median of cents-scaled values, the
    * median absolute deviation from it, and the count beyond 3·MAD.
    * MAD is the estimator that survives the contamination it is
    * hunting (a z-test's mean/std are dragged by the very outliers);
    * this is the robust twin the anomaly family needs. Exactness:
    * cents longs, `percentile` linear interpolation (q21's bit-parity
    * discipline — and its bounded-domain scale note: cents values,
    * q29's sketch is the unbounded path), deviations as exact doubles,
    * and the 3·MAD compare is one multiply both engines round
    * identically. Two exchanges; the per-type medians re-join the
    * scan broadcast (domain-sized). */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100.0d).cast("long").as("v"))
    val m = e.groupBy(col("event_type"))
      .agg(expr("percentile(v, 0.5)").as("median_c"))
    val d = e.join(broadcast(m), Seq("event_type"))
      .withColumn("dev", abs(col("v").cast("double") - col("median_c")))
    val md = d.groupBy(col("event_type"))
      .agg(expr("percentile(dev, 0.5)").as("mad_c"))
    d.join(broadcast(md), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("median_c")).as("median_c"),
        max(col("mad_c")).as("mad_c"),
        sum(when(col("dev") > col("mad_c") * lit(3.0), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** q57: BOM rollup — the weighted transitive closure q46's
    * unweighted flattening cannot express: each edge carries a
    * quantity multiplier (units of the child per unit of its parent),
    * a node's `path_qty` is the PRODUCT of multipliers down from its
    * root, and the per-root rollup answers "how many units of
    * everything does one finished assembly pull in" — the classic
    * bill-of-materials explosion. Pointer jumping composes the
    * product in the same ⌈log₂ depth⌉ rounds as q46 (path morphism:
    * qty ← qty · qty(anc)); the ORACLE is DuckDB's level-by-level
    * `WITH RECURSIVE`, so the hash match proves the log-round rewrite
    * equals the canonical recursion. Same md5-free synthetic forest
    * as q46 (parent = key div 2, roots below 16), per-edge qty =
    * key mod 3 + 1 ∈ {1,2,3}. */
  def bomRollup(spark: SparkSession, dir: String): DataFrame = {
    val edges = table(spark, dir, "part").select(
      col("p_partkey").as("node"),
      when(col("p_partkey") >= 16L, floor(col("p_partkey") / 2))
        .otherwise(lit(null)).cast("long").as("parent"),
      (col("p_partkey") % 3L + 1L).as("qty"))
    graft.ops.Hierarchy.flattenForestWeighted(edges)
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("path_qty")).as("total_units"),
        max(col("depth")).as("max_depth"))
  }

  /** q61: Gini coefficient of revenue concentration over customers —
    * the inequality audit (who holds the revenue?) every marketplace
    * and data-curation pipeline runs. Gini needs every row's GLOBAL
    * rank in revenue order; a naive `Window.orderBy` without
    * partitioning is a single-task funnel, so the rank comes from
    * [[graft.ops.Ranks.rankedCumsum]]'s two-exchange bucketed
    * sort-rank instead. Exactness: cents longs, the ranked-sum
    * identity G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with sums in
    * DECIMAL(38,0), num/den emitted as exact longs — through
    * [[graft.functions.PortableMath.exactLong]], so a corpus where
    * n·Σcents exceeds the BIGINT range fails LOUDLY exactly like the
    * oracle's HUGEINT→BIGINT cast, never as a silent null — the
    * ratio one final double division both engines round identically. */
  def giniConcentration(spark: SparkSession, dir: String): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    val rev = table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100.0d).cast("long"))
        .as("cents"))
    graft.ops.Ranks.rankedCumsum(rev, col("cents"), col("o_custkey"),
        col("cents"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("tot"),
        sum(d38(col("rank")) * d38(col("cents"))).as("rs"))
      .select(col("n").as("n_customers"), col("tot").as("total_cents"),
        graft.functions.PortableMath.exactLong(
          lit(2) * col("rs") - d38(col("n") + 1) * d38(col("tot")),
          "gini_num").as("gini_num"),
        graft.functions.PortableMath.exactLong(
          d38(col("n")) * d38(col("tot")), "gini_den").as("gini_den"))
      .withColumn("gini", col("gini_num").cast("double") /
        col("gini_den").cast("double"))
  }

  /** q62: ABC / Pareto classification — parts ranked by revenue
    * descending, classified by cumulative share (A ≤ 80%, B ≤ 95%,
    * C rest), the inventory-management canon. The global descending
    * rank + running revenue again ride [[graft.ops.Ranks]] (value =
    * negated cents keeps one ascending primitive); the share
    * thresholds are integer cross-multiplications (cum·5 ≤ tot·4,
    * cum·20 ≤ tot·19), so class assignment is bit-deterministic —
    * no float shares anywhere. */
  def abcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val rev = table(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(floor(col("l_extendedprice") * 100.0d).cast("long"))
        .as("cents"))
    val ranked = graft.ops.Ranks.rankedCumsum(
      rev.withColumn("neg", -col("cents")),
      col("neg"), col("l_partkey"), col("cents"))
    val tot = rev.agg(sum(col("cents")).as("tot"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("cls",
        when(col("cum") * 5 <= col("tot") * 4, "A")
          .when(col("cum") * 20 <= col("tot") * 19, "B")
          .otherwise("C"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("cents")).as("class_cents"),
        min(col("rank")).as("first_rank"),
        max(col("rank")).as("last_rank"))
  }

  /** q63: triangle count on the co-purchase graph — the graph-shape
    * audit (clustering) over "parts bought together". Edges are
    * distinct part pairs sharing an order (fan-out bounded by order
    * size, as q52/q56). Counting uses the degree-ordered orientation
    * (the MapReduce triangle-counting canon, Suri–Vassilvitskii):
    * each edge points from its lower endpoint by (degree, id) to the
    * higher, wedges are generated only from OUT-neighbors — bounding
    * wedge fan-out by O(m^1.5) total instead of Σdeg² (a hub node
    * generates no wedges from its huge in-list) — and a wedge is a
    * triangle iff its closing directed edge exists (one equi-join).
    * Every count is an exact integer; the oracle is the canonical
    * a<b<c triple self-join.
    *
    * Cost model (measured): sf0.01 → 116k edges / 3.86M wedges;
    * sf0.1 → 1.196M edges / 41.1M wedges (≈34 wedges/edge, far under
    * the m^1.5 ≈ 1.3e9 bound). Average co-purchase degree is ~116 →
    * ~120 across that 10× — it is bounded by ORDER SIZE, not corpus
    * size — so wedge volume scales ~linearly with edges and the
    * shuffled wedge stream stays executor-sized at any SF. If a
    * future graph had unbounded baskets, cap them first (q52/q56's
    * basket-size cap) — degree caps wedges quadratically. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    // The edge list is consumed FIVE times (both wedge-join sides,
    // the closing semi-join's right side, and the node/edge counts);
    // without the pin each consumer re-runs the lineitem self-join +
    // distinct. localCheckpoint bounds that to one execution — the
    // edge list is m rows of two longs, executor-local storage the
    // way any multi-pass graph algorithm holds its edges.
    val edges = li.as("x").join(li.as("y"), col("x.ok") === col("y.ok") &&
        col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .distinct()
      .localCheckpoint()
    val (deg, tri) = triangles(edges)
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    nNodes.crossJoin(nEdges)
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
  }

  /** q63's counting core over a distinct undirected edge list `(a, b)`:
    * orientation → wedges → Bloom pre-filter → exact close. Returns the
    * node degrees `(node, deg)` and one `(v, w)` row per triangle. */
  private[graft] def triangles(edges: DataFrame): (DataFrame, DataFrame) = {
    val deg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // Orient: src = lower endpoint by (deg, id) — a total order. The
    // (deg, id) lexicographic compares are SCALAR predicates, not
    // struct(...) < struct(...): struct ordering allocates an
    // InternalRow per evaluation, and the wedge join evaluates its
    // condition per CANDIDATE PAIR (41M at sf0.1) — the q67
    // allocation-storm lesson; the convoy made q63 swing 12-92 s run
    // to run and GC-victimized its q-group neighbors.
    val withDeg = edges
      .join(deg.withColumnRenamed("node", "a")
        .withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("node", "b")
        .withColumnRenamed("deg", "db"), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // Pinned: four consumers (two wedge-join sides, the Bloom build,
    // the closing semi-join) — m oriented rows of three longs.
    val directed = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddst"))
      .localCheckpoint()
    val wedges = directed.as("p").join(directed.as("q"),
        col("p.src") === col("q.src") &&
          (col("p.ddst") < col("q.ddst") ||
            (col("p.ddst") === col("q.ddst") &&
              col("p.dst") < col("q.dst"))))
      .select(col("p.dst").as("v"), col("q.dst").as("w"))
    // Bloom pre-filter on the wedge stream (guide §3.2, r18 verdict
    // item 5): most wedges do NOT close — at sf0.1 the wedge exchange
    // carried ~22M rows / 354 MB into the semi join. Spark's own
    // runtime-filter expressions do it in-plan: a scalar subquery
    // aggregates xxhash64(src, dst) of the pinned edge list into a
    // Bloom filter sized for 1% fpp (clamped by Spark's
    // runtime.bloomFilter.maxNumItems / maxNumBits), and might_contain
    // probes each wedge map-side BEFORE the exchange, so only closing
    // wedges (plus false positives) are shuffled. The exact semi join
    // below is UNCHANGED and removes every false positive — a Bloom
    // filter has no false negatives, so rows out are bit-identical.
    val n = math.max(1L, directed.count())
    val bloom = directed.select(call_function("graft_bloom_agg",
        xxhash64(col("src"), col("dst")), lit(n),
        lit(BloomFilter.optimalNumOfBits(n, 0.01)))).scalar()
    val wedgesF = wedges.filter(call_function("graft_might_contain",
      bloom, xxhash64(col("v"), col("w"))))
    // Close wedges with a SHUFFLED-HASH semi join, not sort-merge: the
    // streamed side is the wedge explosion (~22M rows / 354 MB shuffle
    // at sf0.1 — Σ C(outdeg, 2), always ≫ |E|), and sort-merge SORTS
    // it (the measured 115 s-of-executor-CPU stage with the 1.7 s GC
    // bite; q63's 12-92 s swing class). The BUILD side is only the
    // oriented edge list — |E|/shuffle-partitions rows per task, the
    // bounded side by construction at every scale — so hashing it
    // streams the wedges through unsorted. Same rows out (hint only).
    // Assumption the hint encodes (r18 ADVICE): per-task hash builds
    // have no sort-merge spill fallback, and the per-partition bound
    // relies on (src, dst) hash keys not being severely skewed — true
    // for any (deg, id)-oriented edge list (each src's fan-out is
    // capped by its degree orientation), but a future dataset that
    // breaks it should re-run the q63 ScaleSweep row before keeping
    // the hint. AQE skew-split still applies to shuffled-hash joins.
    val tri = wedgesF.join(directed.hint("shuffle_hash"),
        col("v") === col("src") && col("w") === col("dst"), "left_semi")
    (deg, tri)
  }

  /** q64: CUSUM change-point detection on the daily event-volume
    * series — the drift monitor that catches a sustained small shift
    * the per-day z-test (q41) is blind to. The recurrence
    * s_i = max(0, s_{i−1} + x_i − ref) looks inherently sequential;
    * the classic closed form s_i = cum_i − min(0, min_{j≤i} cum_j)
    * turns it into one running sum + one running min — two ordinary
    * windows over the tiny per-(type, day) aggregate, partitioned by
    * event_type (never a single-partition window; the day-grain frame
    * is negligible at any corpus size). Integer-exact throughout:
    * with per-type totals (S days-sum, N days), the slack-adjusted
    * deviation is d_i = 20N·xᵢ − 21S (reference = 1.05·mean, scaled
    * by 20N), and the alarm threshold H = 10S (half a mean day) in
    * the same units. */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val totals = daily.groupBy(col("event_type"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("nd"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.join(broadcast(totals), Seq("event_type"))
      .withColumn("d", lit(20) * col("nd") * col("x") - lit(21) * col("s"))
      .withColumn("cum", sum(col("d")).over(w))
      .withColumn("cusum",
        col("cum") - least(lit(0L), min(col("cum")).over(w)))
      .withColumn("flagged", col("cusum") > lit(10) * col("s"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(col("cusum")).as("max_cusum"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        min(when(col("flagged"), col("day"))).as("first_flag_day"))
  }

  /** q65: Benford leading-digit audit of the money column — the
    * fraud/shape screen auditors run on any value distribution that
    * spans magnitudes. Leading digit via the decimal string of the
    * cents long (pure integer→string, identical in every engine);
    * observed shares in exact ppm (floored integer division);
    * Benford's expected log₁₀(1+1/d) shares are pinned ppm LITERALS
    * (constants of mathematics, not runtime floats), so deviation is
    * integer subtraction. Map-only + one 9-group aggregate. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val exp = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
      8 -> 51153L, 9 -> 45757L)
    val expCol = exp.foldLeft(lit(0L)) { case (acc, (d, p)) =>
      when(col("digit") === d, lit(p)).otherwise(acc) }
    val v = table(spark, dir, "events")
      .select(floor(col("value") * 100.0d).cast("long").as("c"))
      .filter(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("int")
        .as("digit"))
    val tot = v.agg(count(lit(1)).as("tot"))
    v.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .withColumn("obs_ppm", expr("n * 1000000L div tot"))
      .withColumn("benford_ppm", expCol)
      .select(col("digit"), col("n"), col("obs_ppm"), col("benford_ppm"),
        abs(col("obs_ppm") - col("benford_ppm")).as("dev_ppm"))
  }

  /** q67: EXACT quantiles on an unbounded value domain — the scale
    * answer to q21's documented caveat (its per-group `percentile`
    * holds the value DOMAIN per group; fine for TPC-H's 50 discrete
    * quantities, wrong for a revenue column with millions of distinct
    * cents). Here the classic distributed order-statistic: global
    * ranks from [[graft.ops.Ranks.rankedCumsum]] (two exchanges, no
    * value-domain state anywhere), then each requested quantile reads
    * exactly TWO ranked rows and interpolates **in integer milli
    * units** — value·(1000−f) + value·f on cents longs — so the
    * result is exact and engine-identical with no float percentile
    * semantics to match (the oracle runs the same explicit
    * interpolation, not quantile_cont). Cost structure: n comes out
    * of [[graft.ops.Ranks.rankedCumsumTotals]]'s own driver folds
    * (zero extra passes), and both boundary rows of every quantile
    * fold out of a SINGLE conditional aggregate (q69's pattern) over
    * the ONE consumption of the ranked frame — the whole query is
    * the primitive's two tiny actions plus one final plan execution,
    * never a re-run of the bucket+window pipeline. The only
    * driver-side values are n and the 5-row quantile spec. */
  def exactQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val cents = table(spark, dir, "lineitem")
      .select(floor(col("l_extendedprice") * 100.0d).cast("long").as("v"))
    val (ranked0, n, _) = graft.ops.Ranks.rankedCumsumTotals(cents,
      col("v"), col("v"), lit(1L), pin = true)
    val ranked = ranked0.select(col("rank"), col("v"))
    val spec = spark.createDataFrame(
      Seq(250L, 500L, 750L, 900L, 990L).map { qm =>
        val pm = 1000L + qm * (n - 1)
        val h = pm / 1000L
        val f = pm % 1000L
        (qm, h, if (f > 0) h + 1 else h, f)
      }).toDF("quantile_milli", "h", "h2", "f")
    // crossJoin + conditional aggregate, NOT a filter-join: q69's
    // shape — one whole-stage-codegen pass, no join-algorithm choice
    // for the planner to get wrong (a BroadcastNestedLoopJoin with an
    // OR-equality here measured wildly variable, 4-47 s on identical
    // data; the 5x-row expand through a partial agg is stable cents).
    ranked
      .crossJoin(broadcast(spec))
      .groupBy(col("quantile_milli"))
      .agg(max(col("f")).as("f"),
        max(when(col("rank") === col("h"), col("v"))).as("v_lo"),
        max(when(col("rank") === col("h2"), col("v"))).as("v_hi"))
      .select(col("quantile_milli"), lit(n).as("n_rows"),
        col("v_lo"), col("v_hi"),
        (col("v_lo") * (lit(1000L) - col("f")) + col("v_hi") * col("f"))
          .as("value_milli_cents"))
  }

  /** q68: SKYLINE (Pareto frontier) of parts on (price, size) — the
    * multi-criteria "no strictly better option" operator (Börzsönyi's
    * SKYLINE OF canon). The naive form is the O(n²) NOT-EXISTS
    * self-join the ORACLE runs; the engine instead uses the 2-D
    * sweep identity — a point survives iff its size equals its
    * price-group minimum AND beats the running minimum of all
    * strictly-cheaper prices — so the plan is one per-price
    * aggregate + [[graft.ops.Ranks.prefixMin]]'s bucketed prefix
    * sweep + one join back: two exchanges, no self-join, and the
    * hash match against the quadratic form proves the rewrite.
    * Ties kept per skyline semantics: incomparable equal points all
    * survive. */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100.0d).cast("long").as("pc"),
        col("p_size").cast("long").as("sz"))
    val perPrice = p.groupBy(col("pc")).agg(min(col("sz")).as("m"))
    val withPm = graft.ops.Ranks.prefixMin(perPrice, col("pc"),
      col("pc"), col("m"), "pm")
    p.join(withPm, Seq("pc"))
      .filter(col("sz") === col("m") &&
        (col("pm").isNull || col("pm") > col("sz")))
      .select(col("p_partkey"), col("pc").as("price_cents"),
        col("sz").as("size"))
  }

  /** q69: per-GROUP exact quantiles on an unbounded domain — q67's
    * integer-milli interpolation, grouped: ranks and group sizes come
    * from group-partitioned windows (parallel across groups, no
    * value-domain state — the q21 caveat's per-group fix), each
    * (group, quantile) then folds its two boundary rows out of one
    * conditional aggregate. */
  def groupedQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100.0d).cast("long").as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val wn = Window.partitionBy(col("event_type"))
    val qs = Seq(500L, 900L)
    val ranked = e
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
    ranked
      .crossJoin(broadcast(
        spark.createDataFrame(qs.map(Tuple1(_))).toDF("qm")))
      .withColumn("pm", lit(1000L) + col("qm") * (col("n") - 1))
      .withColumn("h", expr("pm div 1000"))
      .withColumn("f", col("pm") % 1000)
      .withColumn("h2",
        when(col("f") > 0, col("h") + 1).otherwise(col("h")))
      .groupBy(col("event_type"), col("qm"))
      .agg(max(col("n")).as("n_rows"),
        max(col("f")).as("f"),
        max(when(col("rnk") === col("h"), col("v"))).as("v_lo"),
        max(when(col("rnk") === col("h2"), col("v"))).as("v_hi"))
      .select(col("event_type"), col("qm").as("quantile_milli"),
        col("n_rows"),
        col("v_lo"), col("v_hi"),
        (col("v_lo") * (lit(1000L) - col("f")) + col("v_hi") * col("f"))
          .as("value_milli_cents"))
  }

  /** q70: cross-series Pearson correlation matrix — do the daily
    * volumes of the event types move together? The estimator is
    * decomposed into EXACT integer moments (n·Σxy − Σx·Σy and the two
    * variance terms, all longs over the day-grain aggregate) so the
    * only floating point is the final sqrt/divide — and IEEE sqrt and
    * divide are correctly rounded everywhere, so even the double
    * correlation hash-matches. Day-aligned pairs come from one
    * self-join of the tiny daily table on day (a < b kills the
    * mirror); missing days pair as 0 via a dense day×type grid from
    * the same aggregate (exactly how the oracle builds it). */
  def typeCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("x"))
    val days = daily.select(col("day")).distinct()
    val types = daily.select(col("event_type")).distinct()
    val grid = days.crossJoin(broadcast(types))
      .join(daily, Seq("day", "event_type"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
    val pairs = grid.as("a").join(grid.as("b"),
        col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        col("a.x").as("xa"), col("b.x").as("xb"))
    pairs.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
        sum(col("xa") * col("xa")).as("sxx"),
        sum(col("xb") * col("xb")).as("syy"),
        sum(col("xa") * col("xb")).as("sxy"))
      .select(col("type_a"), col("type_b"), col("n_days"),
        (col("n_days") * col("sxy") - col("sx") * col("sy"))
          .as("cov_num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx"))
          .as("var_a_num"),
        (col("n_days") * col("syy") - col("sy") * col("sy"))
          .as("var_b_num"))
      .withColumn("corr",
        col("cov_num").cast("double") /
          (sqrt(col("var_a_num").cast("double")) *
            sqrt(col("var_b_num").cast("double"))))
  }

  /** q66: A/B experiment readout with an exact integer significance
    * test — users assigned to arms by id parity, per event_type the
    * conversion rate (did the user emit ≥1 such event) compared by a
    * two-proportion z-test at z=2. The test
    * (p̂_a−p̂_b)² > z²·p̂(1−p̂)(1/n_a+1/n_b) is cross-multiplied into
    * (c_a·n_b − c_b·n_a)²·N > 4·C·(N−C)·n_a·n_b — all DECIMAL(38,0)
    * integer arithmetic, so the significance flag is bit-deterministic
    * in any engine (a float p-value would not be). Heavy work is two
    * distinct-aggregates; the readout joins broadcast one-row arms. */
  def abTestReadout(spark: SparkSession, dir: String): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    val e = table(spark, dir, "events")
      .select(col("event_type"), col("user_id"),
        (col("user_id") % 2).as("arm"))
    val arms = e.select(col("user_id"), col("arm")).distinct()
      .groupBy().pivot("arm", Seq(0, 1)).count()
      .select(col("0").as("na"), col("1").as("nb"))
    val conv = e.select(col("event_type"), col("user_id"), col("arm"))
      .distinct()
      .groupBy(col("event_type")).pivot("arm", Seq(0, 1)).count()
      .select(col("event_type"), coalesce(col("0"), lit(0L)).as("ca"),
        coalesce(col("1"), lit(0L)).as("cb"))
    conv.crossJoin(broadcast(arms))
      .withColumn("nn", col("na") + col("nb"))
      .withColumn("cc", col("ca") + col("cb"))
      .withColumn("significant",
        d38(col("ca") * col("nb") - col("cb") * col("na")) *
          d38(col("ca") * col("nb") - col("cb") * col("na")) *
          d38(col("nn")) >
        lit(4) * d38(col("cc")) * d38(col("nn") - col("cc")) *
          d38(col("na")) * d38(col("nb")))
      .select(col("event_type"), col("na"), col("nb"), col("ca"),
        col("cb"),
        expr("CASE WHEN ca * nb = 0 THEN NULL ELSE " +
          "(cb * na - ca * nb) * 1000000L div (ca * nb) END")
          .as("lift_ppm"),
        col("significant"))
  }

  /** q71: EXACT equi-depth histogram + per-bucket NDV — the ANALYZE
    * TABLE artifact (optimizer statistics: equi-depth boundaries are
    * what makes selectivity estimates honest under skew, NDV is the
    * join-cardinality input). Exactness needs each row's global rank;
    * built on [[graft.ops.Ranks.rankedCumsumTotals]] — two tiny
    * actions, never a single-task window — with n coming out of the
    * primitive's own offsets fold (zero extra passes). bucket =
    * (rank−1)·B div n is pure integer arithmetic; rows of one tied
    * value may straddle a boundary, but every emitted statistic
    * (count per bucket, lo/hi, NDV) depends only on the rank RANGES,
    * which are fixed — so the result is deterministic and
    * engine-identical even though the tie placement is not. */
  def equidepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val b = 16
    val cents = table(spark, dir, "lineitem")
      .select(floor(col("l_extendedprice") * 100.0d).cast("long").as("v"))
    val (ranked, n, _) = graft.ops.Ranks.rankedCumsumTotals(cents,
      col("v"), col("v"), lit(1L))
    ranked
      .withColumn("bucket", expr(s"((rank - 1) * $b) div ${math.max(n, 1L)}"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("v")).as("lo"),
        max(col("v")).as("hi"), countDistinct(col("v")).as("ndv"))
  }

  /** q76: LATERAL correlated top-k — the per-nation top-3 customers
    * by balance, declared in ANSI SQL through `spark.sql` with a
    * correlated LATERAL subquery (ORDER BY + LIMIT inside the
    * correlation). The point is surface coverage: the engine's SQL
    * front door must accept the idiom analysts actually write;
    * Catalyst rewrites it to the same partitioned-window/limit
    * physical shape the DataFrame q03 formulation gets, which is the
    * scale story — the correlation never executes per-row. Cents
    * discipline on the balance keeps the output all-integer. */
  def lateralTopK(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "nation").createOrReplaceTempView("g_nation")
    table(spark, dir, "customer").createOrReplaceTempView("g_customer")
    spark.sql(
      """SELECT n.n_name AS nation, t.c_custkey AS custkey,
           t.bal_cents
         FROM g_nation n,
           LATERAL (SELECT c.c_custkey,
               CAST(floor(c.c_acctbal * 100) AS BIGINT) AS bal_cents
             FROM g_customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c.c_acctbal DESC, c.c_custkey
             LIMIT 3) t""")
  }

  /** q79: FIRST/LAST-TOUCH ATTRIBUTION — the marketing-analytics
    * canon query: each purchase credits the first and the most recent
    * preceding click of the same user, rolled up per user into
    * purchase count, attributed count, and the exact summed
    * last-touch lag. One pass: two conditional running aggregates
    * (min/max of click time) over the per-user (ts, event_id) order
    * with a strictly-preceding frame — windows partition by user, so
    * parallelism scales with users; all outputs are exact long
    * microseconds. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("first_click",
        min(when(col("event_type") === "click", col("ts_us"))).over(w))
      .withColumn("last_click",
        max(when(col("event_type") === "click", col("ts_us"))).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("first_click").isNotNull, 1L).otherwise(0L))
          .as("n_attributed"),
        sum(when(col("last_click").isNotNull,
          col("ts_us") - col("last_click")).otherwise(0L))
          .as("last_touch_lag_us"))
  }

  /** q85: TIME-SERIES GAP FILL with exact linear interpolation — the
    * resampling step before any per-day model/anomaly pass (q41/q64
    * assume a dense grid; this BUILDS it): each event type's daily
    * cents series is expanded to its full [min_day, max_day] grid,
    * missing days interpolate linearly between the nearest present
    * neighbors, edge gaps clamp to the nearest known value. The
    * interpolation is exact integer arithmetic — v0 + (v1−v0)·Δt div
    * span — both engines truncating toward zero, so even the filled
    * values hash-match. q44's forward-fill is the step-function
    * variant; this is the continuous one.
    *
    * Scale: the grid explodes per type from one (min, max) aggregate
    * row (days, not events); neighbor resolution is two per-type
    * windows over the daily grain. */
  def interpolateDaily(spark: SparkSession, dir: String): DataFrame = {
    // (type, user) grain: per-user daily series actually have gaps
    // (the per-type rollup is dense at every SF), so the interp and
    // edge branches are exercised and oracle-proven. user_id < 40
    // bounds the emitted frame; the plan is grain-agnostic.
    val daily = table(spark, dir, "events")
      .filter(col("user_id") < 40)
      .groupBy(col("event_type"), col("user_id"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000")
          .as("day"))
      .agg(sum(floor(col("value") * 100.0d).cast("long")).as("cents"))
    val grid = daily.groupBy(col("event_type"), col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      // ±2 days of padding: the grid a downstream lag/lead model
      // wants, and it makes the edge-clamp branch real (the span
      // between min and max present day always starts/ends present).
      .select(col("event_type"), col("user_id"),
        explode(sequence(col("d0") - 2L, col("d1") + 2L)).as("day"))
    val wPrev = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(daily, Seq("event_type", "user_id", "day"), "left")
      .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wPrev))
      .withColumn("pd",
        last(when(col("cents").isNotNull, col("day")), ignoreNulls = true)
          .over(wPrev))
      .withColumn("nv", first(col("cents"), ignoreNulls = true).over(wNext))
      .withColumn("nd",
        first(when(col("cents").isNotNull, col("day")), ignoreNulls = true)
          .over(wNext))
      .select(col("event_type"), col("user_id"), col("day"),
        when(col("cents").isNotNull, col("cents"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            col("pv") + expr(
              "(nv - pv) * (day - pd) div (nd - pd)"))
          .otherwise(coalesce(col("pv"), col("nv"))).as("cents"),
        when(col("cents").isNotNull, "actual")
          .when(col("pv").isNotNull && col("nv").isNotNull, "interp")
          .otherwise("edge").as("src"))
  }

  /** q84: GAINS / LIFT TABLE — the model-eval artifact for a score
    * column: rank the population by score descending, cut into
    * deciles, and report per decile the positive count, rate, and
    * cumulative capture (the gains curve a targeting or quality-
    * filter model is judged by; here score = event value, positive =
    * purchase). The global descending rank AND the cumulative
    * positive count both ride ONE [[graft.ops.Ranks]] pass — the
    * label is the rank weight, so `cum` IS the gains numerator; no
    * second scan, no global window. Decile = ((rank−1)·10) div n,
    * exact integers; the only doubles are the final two ratios of
    * exact longs. */
  def gainsTable(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("event_id"), col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("lbl"))
    val (ranked, n, totPos) = graft.ops.Ranks.rankedCumsumTotals(
      e.withColumn("neg", -col("score")),
      col("neg"), col("event_id"), col("lbl"), pin = true)
    ranked
      .withColumn("decile", expr(s"((rank - 1) * 10) div ${n}L"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_rows"), sum(col("lbl")).as("n_pos"),
        max(col("cum")).as("cum_pos"))
      .select(col("decile"), col("n_rows"), col("n_pos"),
        (col("n_pos").cast("double") / col("n_rows").cast("double"))
          .as("pos_rate"),
        col("cum_pos"),
        (col("cum_pos").cast("double") / lit(totPos.toDouble))
          .as("gain"))
  }

  /** q83: REFLECTED RUNNING BALANCE (Lindley recurrence) — per-user
    * stock/credit balance h_t = max(0, h_{t−1} + x_t), the
    * floor-at-zero fold behind inventory levels, prepaid-credit
    * metering and queue backlogs. The recurrence is nonlinear, but it
    * has the classic closed form h_t = S_t − min(0, min_{j≤t} S_j)
    * (the reflected random walk), so the whole timeline computes as
    * TWO per-user windows — running sum and running min — instead of
    * a sequential fold; the randomized spec proves the identity
    * against a plain loop. Deltas are exact cents: purchases credit,
    * every other event type debits. Emits per user the final and the
    * peak balance. */
  def flooredBalance(spark: SparkSession, dir: String): DataFrame =
    flooredBalanceOver(table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100.0d).cast("long"))
          .otherwise(-floor(col("value") * 100.0d).cast("long"))
          .as("delta")))

  /** [[flooredBalance]] over any (user_id, ts, event_id, delta)
    * frame — the randomized Lindley parity spec drives this. */
  def flooredBalanceOver(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("s", sum(col("delta")).over(w))
      .withColumn("m", least(lit(0L), min(col("s")).over(w)))
      .withColumn("h", col("s") - col("m"))
      .groupBy(col("user_id"))
      .agg(max_by(col("h"), struct(col("ts"), col("event_id")))
          .as("final_cents"),
        max(col("h")).as("peak_cents"))
  }

  /** q90: OUT-OF-ORDER INVERSION AUDIT — per user, the number of
    * event pairs whose arrival order (event_id) contradicts their
    * event time: the Kendall-distance disorder measure that SIZES a
    * streaming deployment's watermark (zero inversions ⇒ no late
    * data; the p99 late-gap of the inverted pairs is the delay to
    * configure). Emits per user the exact discordant-pair count, the
    * pair denominator n(n−1)/2, the disorder ratio, and the MAX
    * observed lateness (µs) among inverted pairs — the watermark
    * bound itself.
    *
    * The pair stage is a per-user self-join, bounded by per-user
    * activity exactly like q52/q63's basket/degree arguments — never
    * a cross-user product; the per-user grain is the shuffle key. */
  def orderInversions(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"))
    val inv = e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_id") < col("b.event_id") &&
          col("a.t") > col("b.t"))
      .groupBy(col("a.user_id").as("user_id"))
      .agg(count(lit(1)).as("inversions"),
        max(col("a.t") - col("b.t")).as("max_late_us"))
    e.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .join(inv, Seq("user_id"), "left")
      .na.fill(0L, Seq("inversions", "max_late_us"))
      .select(col("user_id"), col("n_events"),
        expr("n_events * (n_events - 1) div 2").as("n_pairs"),
        col("inversions"), col("max_late_us"),
        when(col("n_events") > 1L,
          col("inversions").cast("double") /
            expr("n_events * (n_events - 1) div 2").cast("double"))
          .otherwise(0.0d).as("disorder"))
  }

  /** q89: WEEKDAY SEASONALITY INDEX — per (event type, weekday), the
    * revenue-per-event index against the type's overall rate: the
    * multiplicative seasonal profile a forecaster divides out before
    * trend fitting (q88's slope assumes it; this measures it).
    * Weekday = epoch-day mod 7 — identical arithmetic on both
    * engines, no locale-dependent dayofweek anywhere. The index is
    * one cross-multiplied exact integer division in milli units:
    * 1000·cents_wd·n_type div (n_wd·cents_type), DECIMAL(38,0)
    * through the cross product. */
  def weekdayIndex(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(col("event_type"),
        expr("(unix_micros(ts) div 86400000000) % 7").as("weekday"),
        floor(col("value") * 100.0d).cast("long").as("cents"))
    val wd = e.groupBy(col("event_type"), col("weekday"))
      .agg(count(lit(1)).as("n_wd"), sum(col("cents")).as("cents_wd"))
    val tot = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_t"), sum(col("cents")).as("cents_t"))
    wd.join(tot, Seq("event_type"))
      .select(col("event_type"), col("weekday"), col("n_wd"),
        col("cents_wd"),
        expr("CAST((1000 * CAST(cents_wd AS DECIMAL(38,0)) * n_t) div "
          + "(CAST(n_wd AS DECIMAL(38,0)) * cents_t) AS BIGINT)")
          .as("index_milli"))
  }

  /** q88: ROLLING REGRESSION SLOPE — per event type, the OLS slope of
    * daily revenue over the trailing 7 OBSERVATIONS (q74 fits one
    * trend per group; this emits the rolling local trend each day —
    * the drift feature anomaly monitors and forecasting baselines
    * consume). All four moment sums (n, Σx, Σy, Σxy, Σxx) are exact
    * longs inside one set of rolling windows over the per-type DAILY
    * aggregate (a days-sized frame, partitioned by type); the slope
    * numerator n·Σxy − Σx·Σy and denominator n·Σxx − (Σx)² are
    * emitted exactly, the double slope is their single division. */
  def rollingSlope(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000")
          .as("day"))
      .agg(sum(floor(col("value") * 100.0d).cast("long")).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("day")).over(w))
      .withColumn("sy", sum(col("cents")).over(w))
      .withColumn("sxy", sum(col("day") * col("cents")).over(w))
      .withColumn("sxx", sum(col("day") * col("day")).over(w))
      .select(col("event_type"), col("day"), col("cents"), col("n"),
        // d38 products: n·Σxy and Σx·Σy pass 2^63 once daily cents
        // reach ~1e13 — the q61 overflow-loud discipline.
        (col("n").cast(DecimalType(38, 0)) * col("sxy") -
          col("sx").cast(DecimalType(38, 0)) * col("sy"))
          .cast("long").as("slope_num"),
        (col("n").cast(DecimalType(38, 0)) * col("sxx") -
          col("sx").cast(DecimalType(38, 0)) * col("sx"))
          .cast("long").as("slope_den"))
      .withColumn("slope",
        when(col("slope_den") =!= 0L,
          col("slope_num").cast("double") /
            col("slope_den").cast("double")))
  }

  /** q87: WILSON LOWER-BOUND RANKING — "how not to sort by average
    * rating": parts ranked by the 95% Wilson score lower bound of
    * their return rate, the estimator that won't put a 1-return/
    * 1-order part above a 30/400 one. The n-scaled form avoids the
    * 1/n² terms: lb = (pos + z²/2 − z·√(pos(n−pos)/n + z²/4))
    * / (n + z²). Counts are exact integers; the bound is ONE
    * identical expression tree of those integers on both engines
    * (IEEE sqrt/divide are correctly rounded, q70's discipline), so
    * even the float ranking key hash-matches. Top-20 via
    * orderBy+limit — per-partition top-k then a 20-row merge, never
    * a global sort. */
  def wilsonRank(spark: SparkSession, dir: String): DataFrame = {
    val per = table(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("pos"))
    val nD = col("n").cast("double")
    val lb = (col("pos").cast("double") + lit(1.9208d) -
      lit(1.96d) * sqrt(
        (col("pos") * (col("n") - col("pos"))).cast("double") / nD +
          lit(0.9604d))) / (nD + lit(3.8416d))
    per.select(col("l_partkey"), col("n"), col("pos"),
        (col("pos").cast("double") / nD).as("naive_rate"),
        lb.as("wilson_lb"))
      .orderBy(col("wilson_lb").desc, col("l_partkey"))
      .limit(20)
  }

  /** q86: KRUSKAL–WALLIS H — the k-sample extension of q81's rank
    * test (4 experiment arms = user_id mod 4, per event type): are
    * ANY of the arms' value distributions shifted? The one-way
    * nonparametric ANOVA an experimentation platform runs before
    * pairwise drill-downs.
    *
    * Same exactness discipline as q81, one level up: doubled midrank
    * sums r2ᵢ per arm from the tie-collapsed frame, then with
    * Π = Πnᵢ and S = Σ r2ᵢ²·Π_{j≠i} nⱼ the tie-corrected statistic is
    * H' = 3(N−1)·[S − (N+1)²·N·Π] / [Π·(N³−N−T)], and the decision
    * H' ≥ 7.815 (χ²₃, α=.05) cross-multiplies to
    * 3000(N−1)[S−(N+1)²NΠ] ≥ 7815·Π·(N³−N−T) — every term an exact
    * DECIMAL(38,0) (loud on overflow; products stay <10³⁷ to ~10⁵
    * rows/type at 4 arms — the q81 scaladoc bound discipline). The
    * four arms pivot to columns, so S and Π are plain expressions —
    * no float summation order anywhere; the emitted h_prime is ONE
    * double division of the two exact decimals. */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame =
    kruskalWallisOver(table(spark, dir, "events")
      .select(col("event_type"), col("value"),
        pmod(col("user_id"), lit(4)).as("arm")))

  /** [[kruskalWallis]] over any (event_type, value, arm∈0..3) frame —
    * the from-definition parity spec drives this directly. */
  def kruskalWallisOver(ev: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    val armCnt = (i: Int) =>
      sum(when(col("arm") === i, 1L).otherwise(0L))
    val g = ev
      .groupBy(col("event_type"), col("value"))
      .agg(armCnt(0).as("c0"), armCnt(1).as("c1"),
        armCnt(2).as("c2"), armCnt(3).as("c3"))
      .withColumn("cnt",
        col("c0") + col("c1") + col("c2") + col("c3"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mid = g.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("tmid", lit(2L) * col("cum") - col("cnt") + 1L)
    val aggs = (0 to 3).map(i => sum(col(s"c$i")).as(s"n$i")) ++
      (0 to 3).map(i =>
        sum(d38(col(s"c$i")) * col("tmid")).as(s"r2_$i")) ++
      Seq(sum(d38(col("cnt")) * col("cnt") * col("cnt") - col("cnt"))
        .as("tie_cubes"))
    val s = mid.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
    val nn = col("n0") + col("n1") + col("n2") + col("n3")
    val pi = d38(col("n0")) * col("n1") * col("n2") * col("n3")
    val bigS =
      col("r2_0") * col("r2_0") * col("n1") * col("n2") * col("n3") +
      col("r2_1") * col("r2_1") * col("n0") * col("n2") * col("n3") +
      col("r2_2") * col("r2_2") * col("n0") * col("n1") * col("n3") +
      col("r2_3") * col("r2_3") * col("n0") * col("n1") * col("n2")
    // r2 = 2R makes Σ R²/n = S/(4Π); H's 12/4 folds into the 3.
    val lhsCore = bigS - d38(nn + 1L) * (nn + 1L) * nn * pi
    val denom = pi * (d38(nn) * nn * nn - nn - col("tie_cubes"))
    s.select(col("event_type"),
      col("n0"), col("n1"), col("n2"), col("n3"),
      col("tie_cubes").cast("long").as("tie_cubes"),
      (lit(3L) * d38(nn - 1L) * lhsCore).cast("double")
        ./(denom.cast("double")).as("h_prime"),
      when(lit(3000L) * d38(nn - 1L) * lhsCore >=
        lit(7815L) * denom, 1L).otherwise(0L).as("significant"))
  }

  /** q82: JOIN-SKEW AUDIT — the pre-flight a 100 TB join runs before
    * choosing its strategy: per candidate join key, the per-key count
    * distribution (key count, row count, hottest key and its count,
    * exact p99 count) plus the two numbers the plan decision needs —
    * `salt` = ⌈max/mean⌉, the salting factor that levels the hottest
    * key to the average task, and `skewed` = (max > 4·mean), the
    * AQE-skew-threshold-style flag. Everything is exact integer
    * arithmetic (cross-multiplied nearest-rank p99, ceil-division
    * salt); the count-frequency window is partitioned per audited
    * relation over the COLLAPSED (cnt → freq) frame, whose size is
    * the number of distinct per-key counts, not keys. */
  def skewAudit(spark: SparkSession, dir: String): DataFrame = {
    val k = Seq(
      ("events.user_id", "events", "user_id"),
      ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
      ("orders.o_custkey", "orders", "o_custkey"))
      .map { case (rel, tbl, keyCol) =>
        table(spark, dir, tbl)
          .groupBy(col(keyCol).cast("long").as("key"))
          .agg(count(lit(1)).as("cnt"))
          .select(lit(rel).as("rel"), col("key"), col("cnt"))
      }.reduce(_ unionByName _)
    val s = k.groupBy(col("rel"))
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"),
        max_by(col("key"), struct(col("cnt"), -col("key")))
          .as("hot_key"))
    val w = Window.partitionBy(col("rel")).orderBy(col("cnt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p99 = k.groupBy(col("rel"), col("cnt"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("cum", sum(col("freq")).over(w))
      .join(s.select(col("rel"), col("n_keys")), Seq("rel"))
      .filter(col("cum") * 100L >= col("n_keys") * 99L)
      .groupBy(col("rel")).agg(min(col("cnt")).as("p99_cnt"))
    s.join(p99, Seq("rel"))
      .select(col("rel"), col("n_keys"), col("n_rows"), col("max_cnt"),
        col("hot_key"), col("p99_cnt"),
        expr("(max_cnt * n_keys + n_rows - 1) div n_rows").as("salt"),
        when(col("max_cnt") * col("n_keys") > lit(4L) * col("n_rows"),
          1L).otherwise(0L).as("skewed"))
  }

  /** q81: MANN–WHITNEY U — the nonparametric two-sample test, per
    * event type, between the q66 A/B arms (user_id parity): does arm
    * B's `value` distribution stochastically dominate arm A's? This
    * is the test a metrics platform reaches for when t-tests (q66's
    * z-proportions) are invalid — heavy-tailed spend, bounded scores,
    * ordinal labels.
    *
    * Everything that decides the test is an EXACT integer: doubled
    * midranks (2·mid = 2·cum − cnt + 1 over the tie-collapsed value
    * frame), the doubled rank sum r2_a, the doubled statistic
    * u2_a = r2_a − n_a(n_a+1), the tie correction Σ(t³−t), and the
    * two-sided z ≥ 1.96 decision cross-multiplied in DECIMAL(38,0)
    * (10⁴·3·num²·N(N−1) ≥ 38416·n_a·n_b·((N+1)N(N−1) − Σ(t³−t)),
    * num = u2_a − n_a·n_b) — no float enters until nothing is left
    * to decide. ANSI decimal overflow is LOUD (the q61/q66
    * discipline), and products stay < 10³⁰ up to ~10⁹ rows per type.
    *
    * Scale: ranks live on the tie-collapsed (type, value) frame with
    * the per-type window the q69/q73 plans established; the bucketed
    * [[graft.ops.Ranks]] primitive is the documented swap-in when
    * per-type distinct values outgrow a task. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame =
    mannWhitneyOver(table(spark, dir, "events")
      .select(col("event_type"), col("value"),
        pmod(col("user_id"), lit(2)).as("arm")))

  /** [[mannWhitney]] over any (event_type, value, arm) frame — the
    * randomized pair-counting parity spec drives this directly. */
  def mannWhitneyOver(ev: DataFrame): DataFrame =
    mannWhitneyCollapsed(ev
      .groupBy(col("event_type"), col("value"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("cb")))

  /** The test statistic fold over an ALREADY tie-collapsed
    * (event_type, value, ca, cb) frame — st59 maintains exactly this
    * frame as streaming keyed state, so batch and streaming share the
    * statistic from here down. */
  def mannWhitneyCollapsed(counts: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    val g = counts.withColumn("cnt", col("ca") + col("cb"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = g.withColumn("cum", sum(col("cnt")).over(w))
      .groupBy(col("event_type"))
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(d38(col("ca")) *
          (lit(2L) * d38(col("cum")) - col("cnt") + 1L)).as("r2_a"),
        sum(d38(col("cnt")) * col("cnt") * col("cnt") - col("cnt"))
          .as("tie_cubes"))
      .withColumn("u2_a",
        col("r2_a") - d38(col("n_a")) * (col("n_a") + 1L))
      .withColumn("nn", col("n_a") + col("n_b"))
    s.select(col("event_type"), col("n_a"), col("n_b"),
      col("u2_a").cast("long").as("u2_a"),
      col("tie_cubes").cast("long").as("tie_cubes"),
      when(lit(30000L) *
          (col("u2_a") - d38(col("n_a")) * col("n_b")) *
          (col("u2_a") - d38(col("n_a")) * col("n_b")) *
          col("nn") * (col("nn") - 1L) >=
        lit(38416L) * d38(col("n_a")) * col("n_b") *
          (d38(col("nn") + 1L) * col("nn") * (col("nn") - 1L) -
            col("tie_cubes")), 1L).otherwise(0L).as("significant"))
  }

  /** q80: FIRST-ORDER MARKOV TRANSITION MATRIX over per-user event
    * timelines — the session model behind next-event prediction,
    * clickstream simulation and funnel-drop diagnosis: for every
    * (src → dst) adjacent pair in a user's (ts, event_id)-ordered
    * timeline, the global count and the row-normalized probability
    * P(dst | src). Differs from q51 (which MINES frequent k-step
    * sequences) by emitting the complete normalized model.
    *
    * Scale shape: one window partitioned by user_id (the natural
    * shard; never global), then one groupBy on (src, dst) — the
    * result is |types|² rows, so the normalizing per-src window runs
    * on an aggregate frame, not the event stream. p is one double
    * division of two exact longs — bit-identical cross-engine. */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
    tr.withColumn("p", col("cnt").cast("double") /
        sum(col("cnt")).over(Window.partitionBy(col("src")))
          .cast("double"))
  }

  /** q77: RECURSIVE CTE through Spark's own SQL front door — the q46
    * forest walk declared as `WITH RECURSIVE` and executed by
    * Catalyst's UnionLoop (new in Spark 4), emitting the full
    * (node, root, depth) closure. q46 proved the pointer-jumping
    * formulation (⌈log₂ depth⌉ rounds — the shape to hand-pick when
    * the recursion depth is large); this proves the DECLARATIVE
    * recursion a SQL user writes runs natively too. Iteration count =
    * tree depth (~log₂ of the part count), each step one keyed join
    * of the frontier against the edge table — no driver loop. */
  def recursiveCte(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "part").createOrReplaceTempView("g_part")
    spark.sql(
      """WITH RECURSIVE walk(node, root, depth) AS (
           SELECT p_partkey, p_partkey, CAST(0 AS BIGINT)
             FROM g_part WHERE p_partkey < 16
           UNION ALL
           SELECT p.p_partkey, w.root, w.depth + 1
             FROM g_part p JOIN walk w
               ON p.p_partkey div 2 = w.node AND p.p_partkey >= 16)
         SELECT node, root, depth FROM walk""")
  }

  /** q78: VARIANT semi-structured extraction — the events' JSON props
    * parsed into Spark 4's VARIANT type (`parse_json`) and read back
    * with typed `variant_get` paths, then aggregated: the modern
    * open-lakehouse answer to schemaless columns (shredded binary
    * encoding, typed access without a schema pass), exercised through
    * the public function surface rather than string get_json_object.
    * Extraction is map-side; the aggregate carries 5 groups. */
  def variantExtract(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"),
        countDistinct(col("k")).as("k_ndv"))

  /** q75: EXACT per-group mode with a deterministic tie rule — the
    * most frequent value (cents) per event type, ties to the smallest
    * value. Spark ships `mode()` but leaves ties implementation-
    * defined, which is useless for a reproducible report; this is the
    * two-aggregate construction (value-grain counts, then one max_by
    * on the (count, −value) struct) that makes the answer
    * bit-deterministic in any engine. Scale: the first aggregate
    * collapses to the value domain, the second to groups — the
    * classic count-then-argmax, no window, no sort. */
  def groupedMode(spark: SparkSession, dir: String): DataFrame = {
    val byValue = table(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 100.0d).cast("long").as("v"))
      .groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("c"))
    byValue.groupBy(col("event_type"))
      .agg(max_by(col("v"), struct(col("c"), -col("v"))).as("mode_cents"),
        max(col("c")).as("n_mode"),
        count(lit(1)).as("n_distinct"),
        sum(col("c")).as("n_rows"))
  }

  /** q74: per-group OLS trend — the daily-volume slope per event type,
    * the "is this source growing or dying" number a corpus monitor
    * plots per source. q70's exact-integer-moment discipline applied
    * per group: x = day index (datediff from a fixed epoch — small
    * exact ints), y = daily count; the five moments (n, Σx, Σy, Σxy,
    * Σx²) are exact longs out of ONE day-grain aggregate + one
    * per-type aggregate, and slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) is a
    * single correctly-rounded divide of two exact-long numerators.
    * Observed days only (a missing day is absence, not a zero — the
    * dense-grid variant is q70's construction if wanted). Scale: the
    * shuffle carries day-grain partials, never events. */
  def groupTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type"),
        datediff(date_trunc("day", col("ts")),
          lit("2024-01-01").cast("date")).cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        (col("n_days") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx")).as("den"))
      .withColumn("slope_per_day",
        when(col("den") =!= 0L,
          col("num").cast("double") / col("den").cast("double")))
  }

  /** q72: χ² test of independence between two categorical columns
    * (order status × priority) — the "are these features correlated"
    * screen every dataset card runs before trusting a stratification
    * key. One contingency aggregate; row totals, column totals and N
    * are tiny re-aggregations of the 15-cell table that the planner
    * broadcasts (AQE reuses the cells exchange — no extra scans). The
    * per-cell contribution (N·o − r·c)² / (N·r·c) is formed from EXACT
    * DECIMAL(38,0) integers (N·o ≤ 10²⁴ and N·r·c ≤ 10³⁶ at a
    * trillion rows — in range) and only then converted: one
    * correctly-rounded double multiply + divide, bit-identical in any
    * IEEE engine. No cross-row double sum is emitted — each cell is a
    * row, so the hash compare never depends on summation order; the
    * scalar χ² is the reader's one exact-integer-backed fold away. */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    val cells = table(spark, dir, "orders")
      .groupBy(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy(col("status")).agg(sum(col("o")).as("r"))
    val cols = cells.groupBy(col("priority")).agg(sum(col("o")).as("c"))
    val n = cells.groupBy().agg(sum(col("o")).as("n"))
    cells.join(rows, Seq("status")).join(cols, Seq("priority"))
      .crossJoin(n)
      .withColumn("dev", d38(col("n")) * d38(col("o")) -
        d38(col("r")) * d38(col("c")))
      .select(col("status"), col("priority"), col("o"), col("r"),
        col("c"), col("n"),
        (col("dev").cast("double") * col("dev").cast("double") /
          (d38(col("n")) * d38(col("r")) * d38(col("c"))).cast("double"))
          .as("contrib"))
  }

  /** q73: EXACT weighted quantiles (p25/median/p75 of price weighted
    * by quantity) per group — the "token-weighted median document
    * length" shape of a corpus report, where every row counts by its
    * mass, not once. Scale design: ties are collapsed FIRST by a
    * (group, value) pre-aggregate, so the running-sum window runs over
    * the DOMAIN-bounded distinct-value frame (price cents), not the
    * corpus — at 100 TB the window input is unchanged while a raw
    * per-row window would funnel the whole table through 3 partitions.
    * The boundary read is one conditional aggregate (q69's shape):
    * the smallest v whose cumulative weight reaches p·W — integer
    * cross-multiplied (4·cum ≥ k·W), no float thresholds. */
  def weightedQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val byValue = table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") * 100.0d).cast("long").as("v"),
        floor(col("l_quantity")).cast("long").as("w"))
      .groupBy(col("flag"), col("v"))
      .agg(sum(col("w")).as("wv"), count(lit(1)).as("nv"))
    val ord = Window.partitionBy(col("flag")).orderBy(col("v"))
    val all = Window.partitionBy(col("flag"))
    byValue
      .withColumn("cum",
        sum(col("wv")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("tw", sum(col("wv")).over(all))
      .withColumn("n", sum(col("nv")).over(all))
      .groupBy(col("flag"))
      .agg(max(col("n")).as("n_rows"), max(col("tw")).as("total_w"),
        min(when(col("cum") * 4 >= col("tw"), col("v"))).as("p25_cents"),
        min(when(col("cum") * 2 >= col("tw"), col("v"))).as("median_cents"),
        min(when(col("cum") * 4 >= col("tw") * 3, col("v"))).as("p75_cents"))
  }

  /** q91: two-sample KOLMOGOROV–SMIRNOV test per event type, between
    * the q66/q81 A/B arms (user_id parity) — the distribution-shape
    * complement of q81's Mann–Whitney (U detects location shift; KS
    * detects ANY distributional difference, including pure variance
    * or tail changes a rank-sum test misses). The statistic is
    * D = max_v |F̂_a(v) − F̂_b(v)|, held entirely in integers:
    * d_num = max |cumA·n_b − cumB·n_a| (D = d_num / (n_a·n_b)), and
    * the α = 0.05 rejection D ≥ c·√((n_a+n_b)/(n_a·n_b)) with
    * c = 1.36 (the standard asymptotic table value) cross-multiplied
    * into 10⁴·d_num² ≥ 18496·(n_a+n_b)·n_a·n_b — DECIMAL(38,0)
    * products, exact up to ~10⁸ rows per type (past that, widen the
    * decision or drop constant digits; overflow is LOUD under ANSI).
    *
    * Scale shape: q81's exactly — ECDFs live on the tie-collapsed
    * (type, value) frame with per-type windows; both cumulative
    * sums and both totals ride the SAME window spec, so the whole
    * statistic is one shuffle on event_type plus a per-type max. */
  def ksTest(spark: SparkSession, dir: String): DataFrame =
    ksCollapsed(table(spark, dir, "events")
      .select(col("event_type"), col("value"),
        pmod(col("user_id"), lit(2)).as("arm"))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("cb")))

  /** The KS statistic fold over an ALREADY tie-collapsed
    * (event_type, value, ca, cb) frame — st63 maintains exactly this
    * frame as streaming keyed state (st59's state table), so batch
    * and streaming share the statistic from here down. */
  def ksCollapsed(counts: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    val ord = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("event_type"))
    counts
      .withColumn("cuma", sum(col("ca")).over(ord))
      .withColumn("cumb", sum(col("cb")).over(ord))
      .withColumn("n_a", sum(col("ca")).over(all))
      .withColumn("n_b", sum(col("cb")).over(all))
      .groupBy(col("event_type"), col("n_a"), col("n_b"))
      .agg(max(abs(col("cuma") * col("n_b") - col("cumb") * col("n_a")))
        .as("d_num"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("d_num"),
        when(lit(10000L) * d38(col("d_num")) * col("d_num") >=
            lit(18496L) * d38(col("n_a") + col("n_b")) *
              col("n_a") * col("n_b"), 1L)
          .otherwise(0L).as("significant"))
  }

  /** q92: SPEARMAN RANK CORRELATION (tie-corrected) per return flag
    * between order quantity and extended price — the monotone-
    * association readout that survives the heavy-tailed prices a
    * Pearson (q70) gets dragged around by. Implemented as Pearson on
    * DOUBLED MIDRANKS (q81's tie device: 2·mid = 2·cum − cnt + 1 on
    * the tie-collapsed value frame, joined back to rows by value), so
    * every moment is an exact integer. The doubled ranks' mean is
    * exactly n+1, so centering u = 2·mid − (n+1) is integer too and
    * rho = Σuv / √(Σu²·Σv²) needs no n·Σ cross terms. The three
    * moments aggregate in DECIMAL(38,0) (exact to ~10¹² rows/group;
    * the BIGINT output casts hold to ~2·10⁶ — the fixture regime,
    * loud past it) and the only float is the final IEEE
    * divide-by-sqrt, correctly rounded everywhere (q70 discipline).
    *
    * Scale shape: two tie-collapse aggregates + per-flag windows on
    * the collapsed frames (domain-bounded), two keyed join-backs on
    * (flag, value) — never a global window, never a broadcast of a
    * row-scale frame. */
  def spearman(spark: SparkSession, dir: String): DataFrame =
    spearmanOver(table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y")))

  /** [[spearman]] over any (flag, x, y) frame — the randomized
    * tie-averaged-rank parity spec drives this directly. */
  def spearmanOver(base: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    def midranks(valCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("flag")).orderBy(col(valCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.groupBy(col("flag"), col(valCol))
        .agg(count(lit(1)).as("cnt"))
        .withColumn(out,
          lit(2L) * sum(col("cnt")).over(w) - col("cnt") + 1L)
        .drop("cnt")
    }
    val n = base.groupBy(col("flag")).agg(count(lit(1)).as("n"))
    base
      .join(midranks("x", "rx2"), Seq("flag", "x"))
      .join(midranks("y", "ry2"), Seq("flag", "y"))
      .join(n, Seq("flag"))
      .select(col("flag"), col("n"),
        (col("rx2") - col("n") - 1L).as("ux"),
        (col("ry2") - col("n") - 1L).as("uy"))
      .groupBy(col("flag"), col("n"))
      .agg(sum(d38(col("ux")) * col("uy")).as("suv"),
        sum(d38(col("ux")) * col("ux")).as("suu"),
        sum(d38(col("uy")) * col("uy")).as("svv"))
      .select(col("flag"), col("n"),
        col("suv").cast("long").as("suv"),
        col("suu").cast("long").as("suu"),
        col("svv").cast("long").as("svv"),
        (col("suv").cast("long").cast("double") /
          (sqrt(col("suu").cast("long").cast("double")) *
            sqrt(col("svv").cast("long").cast("double")))).as("rho"))
  }

  /** q93: LAG-1 AUTOCORRELATION of event values per type — the serial-
    * dependence monitor behind "are these measurements independent"
    * (batch effects, sensor stickiness, session momentum). Adjacent
    * pairs come from one lead() over the (type, day)-partitioned
    * (ts, event_id) timeline — day-grain partitions grow with the
    * data where a per-type-only window would funnel, and an
    * overnight gap is not adjacency anyway; values are
    * fixed-pointed at centi grain (⌊value·100⌋ — floor of the same
    * IEEE product is engine-exact) so all five moments are exact
    * integers in DECIMAL(38,0), and the only float is the final
    * correctly-rounded divide-by-sqrt (q70 discipline).
    *
    * Double-exactness constraint (measured, not assumed): DuckDB's
    * HUGEINT→DOUBLE conversion is NOT correctly rounded past 2⁶³, so
    * every quantity that feeds the final float MUST route through
    * BIGINT, where the hardware int64→double conversion is exact on
    * both engines — hence the explicit long casts on the moment
    * products, loud (ANSI) past ~10⁵ rows/type at value ≤ 10³. At
    * larger scale the readout emits the DECIMAL moments and the
    * consumer divides. */
  def autocorrLag1(spark: SparkSession, dir: String): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    // Pairs form WITHIN (type, day): overnight gaps are not
    // adjacency, and — the scale point — a per-type-only window
    // would funnel a whole type through one task, while (type, day)
    // partitions grow with the data.
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    table(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("event_id"),
        date_trunc("day", col("ts")).as("day"),
        floor(col("value") * 100.0d).cast("long").as("a"))
      .withColumn("b", lead(col("a"), 1).over(w))
      .filter(col("b").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a")).as("sa"), sum(col("b")).as("sb"),
        sum(d38(col("a")) * col("a")).as("saa"),
        sum(d38(col("b")) * col("b")).as("sbb"),
        sum(d38(col("a")) * col("b")).as("sab"))
      .select(col("event_type"), col("n_pairs"),
        col("sab").cast("long").as("sab"),
        ((d38(col("n_pairs")) * col("sab") -
            d38(col("sa")) * col("sb")).cast("long").cast("double") /
          (sqrt((d38(col("n_pairs")) * col("saa") -
              d38(col("sa")) * col("sa")).cast("long").cast("double")) *
            sqrt((d38(col("n_pairs")) * col("sbb") -
              d38(col("sb")) * col("sb")).cast("long").cast("double"))))
          .as("r1"))
  }

  /** q94: 10% TWO-SIDED TRIMMED MEAN of value per event type — the
    * robust location estimate a metrics platform quotes when means
    * are outlier-dragged and medians (q69) discard too much. Trim
    * count k = n div 10 per side at exact milli fixed point — never a
    * float sum — with one final double division.
    *
    * Scale shape: the q69/q73/q81 tie-collapse discipline — a raw
    * per-row rank window partitioned only by event_type would funnel
    * a whole type (20 TB at corpus scale) through one task, so the
    * trim is computed on the COLLAPSED (type, milli-value) frame
    * instead: each value group keeps
    * max(0, min(cum, n−k) − max(cum−cnt, k)) of its rows — the
    * overlap of its cumulative span with the kept band — which is
    * provably the same multiset of kept milli values as the row-wise
    * rank formulation (trimming depends only on value order; floor
    * is monotone), and the ORACLE deliberately keeps the row-wise
    * formulation, so the hash match proves the equivalence. */
  def trimmedMean(spark: SparkSession, dir: String): DataFrame =
    trimmedMeanCollapsed(table(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 1000.0d).cast("long").as("vfx"))
      .groupBy(col("event_type"), col("vfx"))
      .agg(count(lit(1)).as("cnt")))

  /** [[trimmedMean]]'s fold over an already-collapsed
    * (event_type, vfx, cnt) frame — st68 folds it over streamed
    * per-(key, milli-value) counts, sharing q94's oracle hash. */
  def trimmedMeanCollapsed(byValue: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("event_type")).orderBy(col("vfx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("event_type"))
    byValue
      .withColumn("cum", sum(col("cnt")).over(ord))
      .withColumn("n", sum(col("cnt")).over(all))
      .withColumn("k", expr("n div 10"))
      .withColumn("kept_in",
        greatest(lit(0L), least(col("cum"), col("n") - col("k")) -
          greatest(col("cum") - col("cnt"), col("k"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).cast("long").as("n_rows"),
        sum(col("kept_in")).as("kept"),
        sum(col("vfx") * col("kept_in")).as("sum_milli"))
      .withColumn("trimmed_mean",
        col("sum_milli").cast("double") /
          col("kept").cast("double") / 1000.0d)
  }

  /** q95: GINI COEFFICIENT of extended price per return flag — the
    * inequality/concentration measure a data platform quotes for "is
    * this spend/traffic/token distribution dominated by a few keys"
    * (and, in a curation pipeline, whether a source's doc-length or
    * dup-cluster mass is pathologically concentrated). Computed from
    * the sorted-index identity G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) at
    * centi fixed point, on the TIE-COLLAPSED (flag, value) frame: a
    * value group with count c and cumulative count m occupies sorted
    * indices m−c+1..m, whose index sum is c·m − c·(c−1)/2 — so
    * Σi·xᵢ = Σ_v x_v·(c_v·m_v − c_v(c_v−1)/2) exactly, independent
    * of tie order (equal x's commute under any index assignment; the
    * ORACLE keeps the row-wise row_number() form, so the hash match
    * proves the equivalence). All moments are exact integers in
    * DECIMAL(38,0); the BIGINT casts on the final numerator and
    * denominator hold to ~10⁶ rows/flag at centi price ≤ 10⁷ (the
    * fixture regime ×15, loud past it in ANSI mode — emit the
    * DECIMAL moments at larger scale); the only float is one
    * correctly-rounded divide (q70 discipline).
    *
    * Scale shape: one tie-collapse aggregate, one domain-bounded
    * cumulative window on the collapsed frame (q94's shape), one
    * per-flag rollup — never a per-row rank window, never a sort of
    * the raw table. */
  def gini(spark: SparkSession, dir: String): DataFrame =
    giniOver(table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") * 100.0d).cast("long").as("x")))

  /** [[gini]] over any (flag, x: long) frame — the randomized
    * sorted-index parity spec drives this directly. */
  def giniOver(base: DataFrame): DataFrame =
    giniCollapsed(base
      .groupBy(col("flag"), col("x"))
      .agg(count(lit(1)).as("cnt")))

  /** [[gini]]'s fold over an already-collapsed (flag, x, cnt) frame —
    * st67 folds it over streamed per-(key, value) counts. */
  def giniCollapsed(byValue: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    val ord = Window.partitionBy(col("flag")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byValue
      .withColumn("cum", sum(col("cnt")).over(ord))
      .groupBy(col("flag"))
      .agg(sum(col("cnt")).as("n"),
        sum(d38(col("x")) * col("cnt")).as("sx"),
        // index sum of the tie group: c*m - c*(c-1)/2 (always even
        // product, so the integer div is exact)
        sum(d38(col("x")) * (d38(col("cnt")) * col("cum") -
          expr("(CAST(cnt AS DECIMAL(38,0)) * (cnt - 1)) div 2")))
          .as("six"))
      .select(col("flag"), col("n").cast("long").as("n"),
        (lit(2) * col("six") - (d38(col("n")) + 1) * col("sx"))
          .cast("long").as("gini_num"),
        (d38(col("n")) * col("sx")).cast("long").as("gini_den"))
      .withColumn("gini", col("gini_num").cast("double") /
        col("gini_den").cast("double"))
  }

  /** q96: CHI-SQUARED INDEPENDENCE TEST of event type × weekday — the
    * contingency audit behind "does traffic mix shift by day" (and,
    * for a training corpus, "is source mix independent of time" —
    * the confound check before attributing drift). Weekday is pure
    * integer day-arithmetic from a fixed epoch (identical in both
    * engines — never the engines' differing dayofweek conventions).
    * Each cell's contribution (O−E)²/E with E = r·c/N is the exact
    * rational (O·N − r·c)²/(N·r·c); it is emitted at MICRO grain by
    * one DECIMAL(38,0) integer floor-division per cell, so the
    * per-type statistic is an exact BIGINT SUM of cell contributions
    * — never a float accumulation whose order could differ between
    * engines. Row totals, the 7-row weekday totals and the grand
    * total attach by broadcast; the cell frame is |types|·7 rows.
    * DECIMAL bounds: (O·N)² ≤ 10³⁸ holds to ~10¹⁹ events. */
  def chiSquared(spark: SparkSession, dir: String): DataFrame =
    chiSquaredCells(
      table(spark, dir, "events")
        .select(col("event_type"),
          pmod(datediff(col("ts").cast("date"),
            to_date(lit("2024-01-01"))), lit(7)).cast("long").as("weekday"))
        .groupBy(col("event_type"), col("weekday"))
        .agg(count(lit(1)).as("o")))

  /** [[chiSquared]]'s fold over any (event_type, weekday, o) cell
    * frame — st64 folds it over streamed state, so the shared q96
    * oracle hash proves online counts ≡ the batch contingency table. */
  def chiSquaredCells(cells: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    val rows = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val cols7 = cells.groupBy(col("weekday")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("nn"),
      ((countDistinct(col("event_type")) - 1L) *
        (countDistinct(col("weekday")) - 1L)).as("dof"))
    val contrib = cells
      .join(broadcast(rows), Seq("event_type"))
      .join(broadcast(cols7), Seq("weekday"))
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("weekday"), col("o"),
        expr("CAST((CAST(r AS DECIMAL(38,0)) * c * 1000) div nn AS BIGINT)")
          .as("e_milli"),
        expr("CAST(((CAST(o AS DECIMAL(38,0)) * nn - CAST(r AS DECIMAL(38,0)) * c)" +
          " * (CAST(o AS DECIMAL(38,0)) * nn - CAST(r AS DECIMAL(38,0)) * c)" +
          " * 1000000) div (CAST(nn AS DECIMAL(38,0)) * r * c) AS BIGINT)")
          .as("contrib_micro"),
        col("dof"))
    val chi2 = contrib.groupBy(col("event_type").as("et2"))
      .agg(sum(col("contrib_micro")).as("chi2_micro_type"))
    contrib.join(broadcast(chi2), col("event_type") === col("et2"))
      .select(col("event_type"), col("weekday"), col("o"),
        col("e_milli"), col("contrib_micro"), col("chi2_micro_type"),
        col("dof"))
  }

  /** q97: BENFORD'S-LAW AUDIT of event values per type — the
    * synthetic/fabricated-numbers detector (fraud screens, generated-
    * data leakage into a training corpus): organically-grown
    * magnitudes follow P(d) = log₁₀(1+1/d); invented ones don't. The
    * leading digit comes from the MILLI fixed point of the value
    * (floor is monotone and engine-exact; the first character of an
    * integer's decimal string is deterministic in both engines —
    * never float formatting). Expected probabilities are hardcoded
    * micro-grain literals (the only honest way to share an
    * irrational constant between engines), the digit domain 1–9 is
    * generated per type so ZERO-observed digits still contribute
    * n·p_d (a Benford test without them understates divergence), and
    * each digit's (O−n·p)²/(n·p) lands as one exact DECIMAL floor-
    * division at micro grain — the per-type statistic is again an
    * exact integer SUM. */
  def benford(spark: SparkSession, dir: String): DataFrame =
    benfordOver(table(spark, dir, "events"))

  /** [[benford]] over any (event_type, value: double) frame. */
  def benfordOver(events: DataFrame): DataFrame =
    benfordCells(events
      .filter(col("value") > 0.0d)
      .select(col("event_type"),
        substring(floor(col("value") * 1000.0d).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
      .filter(col("digit") >= 1L)
      .groupBy(col("event_type"), col("digit"))
      .agg(count(lit(1)).as("o")))

  /** [[benford]]'s fold over any (event_type, digit, o) observed-count
    * frame — n is the digit-count sum, so st65 can fold it over
    * streamed per-(type, digit) state and share q97's oracle hash. */
  def benfordCells(obs: DataFrame): DataFrame = {
    val spark = obs.sparkSession
    // floor(log10(1 + 1/d) * 1e6), d = 1..9
    val eMicro = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
      66946L, 57991L, 51152L, 45757L)
    val n = obs.groupBy(col("event_type")).agg(sum(col("o")).as("n"))
    import spark.implicits._
    val digits = (1 to 9).map(d => (d.toLong, eMicro(d - 1)))
      .toDF("digit", "e_micro")
    val full = broadcast(n).crossJoin(broadcast(digits))
      .join(obs, Seq("event_type", "digit"), "left")
      .select(col("event_type"), col("digit"), col("n"),
        coalesce(col("o"), lit(0L)).as("o"), col("e_micro"))
    val contrib = full.select(col("event_type"), col("digit"),
      col("n"), col("o"),
      expr("CAST((CAST(n AS DECIMAL(38,0)) * e_micro) div 1000 AS BIGINT)")
        .as("exp_milli"),
      expr("CAST(((CAST(o AS DECIMAL(38,0)) * 1000000 - CAST(n AS DECIMAL(38,0)) * e_micro)" +
        " * (CAST(o AS DECIMAL(38,0)) * 1000000 - CAST(n AS DECIMAL(38,0)) * e_micro))" +
        " div (CAST(n AS DECIMAL(38,0)) * e_micro) AS BIGINT)")
        .as("contrib_micro"))
    val stat = contrib.groupBy(col("event_type").as("et2"))
      .agg(sum(col("contrib_micro")).as("benford_micro_type"))
    contrib.join(broadcast(stat), col("event_type") === col("et2"))
      .select(col("event_type"), col("digit"), col("n"), col("o"),
        col("exp_milli"), col("contrib_micro"), col("benford_micro_type"))
  }

  /** q98: SALTED SKEW JOIN — [[graft.ops.Skew.saltedJoin]] driven over
    * a deliberately hot-keyed frame: HALF the events collapse onto one
    * key (the power-law reality of user/document keys), which an
    * un-salted shuffle would funnel through ONE reducer task. The
    * skewed side scatters over 16 salts by event_id hash, the per-key
    * build side (an orders rollup) replicates 16x, and the exchange
    * hashes on (k, salt) — SkewSpec pins that plan shape. The oracle
    * runs the PLAIN join, so the hash match proves salted == unsalted
    * row-for-row. Post-join rollup keeps the output bucket-sized. */
  def saltedSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(when(col("user_id") % 10 < 5, 1L)
          .otherwise(pmod(col("user_id"), lit(1000L)) + 2L).as("k"),
        col("event_id"),
        floor(col("value") * 100.0d).cast("long").as("cents"))
    val dim = table(spark, dir, "orders")
      .select(when(col("o_custkey") % 10 < 5, 1L)
          .otherwise(pmod(col("o_custkey"), lit(1000L)) + 2L).as("k"),
        floor(col("o_totalprice") * 100.0d).cast("long").as("pc"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_orders"), sum(col("pc")).as("price_cents"))
    graft.ops.Skew.saltedJoin(ev, dim, "k", col("event_id"), salts = 16)
      .groupBy((col("k") % 7).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("cents_sum"),
        sum(col("n_orders")).as("orders_sum"))
  }

  /** q99: EXACT WEIGHTED MEDIAN of extended price per return flag,
    * weighted by quantity — the location estimate when rows carry
    * mass (tokens, bytes, spend): the smallest value whose cumulative
    * weight reaches half the total (the lower weighted median — a
    * pure order statistic, no interpolation float). The q69/q94
    * tie-collapse discipline: weights aggregate per distinct centi
    * value, the cumulative window runs on the COLLAPSED frame
    * (domain-bounded, grows with the value domain, not the row
    * count), and the median is the min value in the 2*cum >= total
    * half — integer comparisons end to end; the only non-integer
    * column is the final /100 display cast. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame =
    weightedMedianOver(table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") * 100.0d).cast("long").as("x"),
        floor(col("l_quantity")).cast("long").as("w"))
      .groupBy(col("flag"), col("x"))
      .agg(sum(col("w")).as("wv")))

  /** [[weightedMedian]]'s fold over any collapsed (flag, x, wv) frame
    * — st66 folds it over streamed per-(key, value) counts, the
    * st63/st64/st65 sufficient-statistic discipline. */
  def weightedMedianOver(byValue: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("flag")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("flag"))
    byValue
      .withColumn("cum", sum(col("wv")).over(ord))
      .withColumn("total", sum(col("wv")).over(all))
      .filter(col("cum") * 2L >= col("total"))
      .groupBy(col("flag"))
      .agg(min(col("x")).as("median_centi"),
        max(col("total")).as("total_w"))
      .select(col("flag"), col("total_w"), col("median_centi"),
        (col("median_centi").cast("double") / 100.0d).as("median"))
  }

  /** q101: EXACT MEDIAN ABSOLUTE DEVIATION of value per event type —
    * the robust scale estimate next to q94's robust location (stddev
    * is outlier-dragged exactly when the mean is): MAD = lower median
    * of |x − median(x)|, both medians the q99 order-statistic pick on
    * TIE-COLLAPSED frames at milli fixed point. Two collapse passes
    * (values, then absolute deviations — the deviation domain is at
    * most twice the value domain), two per-type cumulative windows on
    * collapsed frames, one keyed join back — integer comparisons end
    * to end; the only floats are the /1000 display casts. */
  def madExact(spark: SparkSession, dir: String): DataFrame =
    madCollapsed(table(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 1000.0d).cast("long").as("vfx"))
      .groupBy(col("event_type"), col("vfx"))
      .agg(count(lit(1)).as("cnt")))

  /** [[madExact]]'s fold over an already-collapsed
    * (event_type, vfx, cnt) frame — st69 folds it over the same
    * streamed per-(type, milli-value) count state that funds
    * st66/st67/st68. */
  def madCollapsed(byValue: DataFrame): DataFrame = {
    def lowerMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val ord = Window.partitionBy(col("event_type")).orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy(col("event_type"))
      df.withColumn("cum", sum(col("cnt")).over(ord))
        .withColumn("total", sum(col("cnt")).over(all))
        .filter(col("cum") * 2L >= col("total"))
        .groupBy(col("event_type"))
        .agg(min(col(v)).as(out), max(col("total")).as("n"))
    }
    val med = lowerMedian(byValue, "vfx", "median_milli")
    val devs = byValue
      .join(med.select(col("event_type"), col("median_milli")),
        Seq("event_type"))
      .select(col("event_type"),
        abs(col("vfx") - col("median_milli")).as("dev"), col("cnt"))
      .groupBy(col("event_type"), col("dev"))
      .agg(sum(col("cnt")).as("cnt"))
    lowerMedian(devs.withColumnRenamed("dev", "vfx"), "vfx", "mad_milli")
      .select(col("event_type"), col("mad_milli"))
      .join(med, Seq("event_type"))
      .select(col("event_type"), col("n").cast("long").as("n"),
        col("median_milli"), col("mad_milli"),
        (col("median_milli").cast("double") / 1000.0d).as("median"),
        (col("mad_milli").cast("double") / 1000.0d).as("mad"))
  }

  /** q102: IQR OUTLIER FENCES (Tukey) per event type — the box-plot
    * screen a metrics/quality pipeline runs before trusting a column:
    * Q1/Q3 are the q69-style discrete rank picks (smallest value with
    * 4*cum >= total / >= 3*total) on the tie-collapsed milli frame,
    * and the 1.5*IQR fences are applied WITHOUT floats by comparing
    * doubled values against integer fence numerators
    * (2v < 2*Q1 - 3*IQR  ⇔  v < Q1 - 1.5*IQR). Output: the quartiles,
    * the exact outlier count and its ppm share. Same collapse/window
    * discipline as q94/q99/q101. */
  def iqrOutliers(spark: SparkSession, dir: String): DataFrame =
    iqrOutliersCollapsed(table(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 1000.0d).cast("long").as("vfx"))
      .groupBy(col("event_type"), col("vfx"))
      .agg(count(lit(1)).as("cnt")))

  /** [[iqrOutliers]]'s fold over a collapsed (event_type, vfx, cnt)
    * frame — st70's readout over the shared value-count state. */
  def iqrOutliersCollapsed(byValue: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("event_type")).orderBy(col("vfx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("event_type"))
    val c = byValue
      .withColumn("cum", sum(col("cnt")).over(ord))
      .withColumn("total", sum(col("cnt")).over(all))
    val q = c.groupBy(col("event_type"))
      .agg(max(col("total")).cast("long").as("n"),
        min(when(col("cum") * 4L >= col("total"), col("vfx")))
          .as("q1_milli"),
        min(when(col("cum") * 4L >= col("total") * 3L, col("vfx")))
          .as("q3_milli"))
      .withColumn("iqr_milli", col("q3_milli") - col("q1_milli"))
    byValue.join(q, Seq("event_type"))
      .groupBy(col("event_type"), col("n"), col("q1_milli"),
        col("q3_milli"), col("iqr_milli"))
      .agg(sum(when(
        col("vfx") * 2L < col("q1_milli") * 2L - col("iqr_milli") * 3L ||
          col("vfx") * 2L > col("q3_milli") * 2L + col("iqr_milli") * 3L,
        col("cnt")).otherwise(lit(0L))).as("n_outliers"))
      .withColumn("outlier_ppm",
        expr("(n_outliers * 1000000) div n"))
  }

  /** q104: 10% WINSORIZED MEAN per event type — q94's robust-location
    * sibling: instead of DROPPING the k = n div 10 smallest/largest
    * observations, CLAMP them to the kept band's edge values (the
    * ranks k+1 and n-k), so every observation still contributes and
    * outliers contribute a bounded amount — the standard treatment
    * when the tail rows carry real mass that must not vanish from the
    * estimate (metering, billing). Same tie-collapsed kept-band
    * overlap formula as q94 plus two discrete-rank edge picks (q102's
    * machinery); integers end to end until the final division. */
  def winsorizedMean(spark: SparkSession, dir: String): DataFrame =
    winsorizedMeanCollapsed(table(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * 1000.0d).cast("long").as("vfx"))
      .groupBy(col("event_type"), col("vfx"))
      .agg(count(lit(1)).as("cnt")))

  /** [[winsorizedMean]]'s fold over an already-collapsed
    * (event_type, vfx, cnt) frame — st71 folds it over the same
    * streamed per-(type, milli-value) count state that funds
    * st66/st67/st68/st69/st70, sharing q104's oracle hash. */
  def winsorizedMeanCollapsed(byValue: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("event_type")).orderBy(col("vfx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("event_type"))
    val c = byValue
      .withColumn("cum", sum(col("cnt")).over(ord))
      .withColumn("n", sum(col("cnt")).over(all))
      .withColumn("k", expr("n div 10"))
    // Band edges at ranks k+1 and n-k (lower-rank convention, like
    // q102's quartile picks); the kept-band overlap is q94's formula.
    c.groupBy(col("event_type"))
      .agg(max(col("n")).cast("long").as("n"),
        max(col("k")).cast("long").as("k"),
        min(when(col("cum") >= col("k") + 1L, col("vfx")))
          .as("lo_milli"),
        min(when(col("cum") >= col("n") - col("k"), col("vfx")))
          .as("hi_milli"),
        sum(col("vfx") *
          greatest(lit(0L), least(col("cum"), col("n") - col("k")) -
            greatest(col("cum") - col("cnt"), col("k"))))
          .as("kept_sum_milli"))
      .withColumn("winsor_sum_milli",
        col("kept_sum_milli") +
          col("k") * (col("lo_milli") + col("hi_milli")))
      .withColumn("winsorized_mean",
        col("winsor_sum_milli").cast("double") /
          col("n").cast("double") / 1000.0d)
  }

  /** q105: CRAMÉR'S V — the [0,1] effect size of the q96 contingency
    * table (event type × weekday), the number a drift monitor reports
    * when χ² alone is meaningless because n is huge (at 100 TB
    * EVERYTHING is "significant"; V answers whether the association is
    * big). V = sqrt(χ² / (n · min(r-1, c-1))) over the whole table.
    * χ² rides q96's exact integer micro-contributions; the only
    * floating-point ops are one division and one sqrt, both correctly
    * rounded in IEEE 754, so the cross-engine hash is safe. */
  def cramersV(spark: SparkSession, dir: String): DataFrame =
    cramersVCells(table(spark, dir, "events")
      .select(col("event_type"),
        pmod(datediff(col("ts").cast("date"),
          to_date(lit("2024-01-01"))), lit(7)).cast("long").as("weekday"))
      .groupBy(col("event_type"), col("weekday"))
      .agg(count(lit(1)).as("o")))

  /** [[cramersV]]'s fold over any (event_type, weekday, o) cell frame
    * — st72 folds it over st64's streamed contingency state, sharing
    * q105's oracle hash. */
  def cramersVCells(cells: DataFrame): DataFrame =
    chiSquaredCells(cells)
      .groupBy()
      .agg(sum(col("o")).cast("long").as("n"),
        countDistinct(col("event_type")).as("r_levels"),
        countDistinct(col("weekday")).as("c_levels"),
        max(col("dof")).cast("long").as("dof"),
        sum(col("contrib_micro")).as("chi2_micro"))
      .withColumn("m",
        least(col("r_levels") - 1L, col("c_levels") - 1L))
      .select(col("n"), col("r_levels"), col("c_levels"), col("dof"),
        col("chi2_micro"),
        sqrt(col("chi2_micro").cast("double") /
          (col("n") * col("m") * lit(1000000L)).cast("double"))
          .as("cramers_v"))

  /** q103: POPULATION STABILITY INDEX per event type — the standard
    * production drift monitor: bin the value distribution by the
    * REFERENCE window's deciles, then
    * PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref). Windows are the
    * two halves of the fixture's time range split at the integer
    * µs midpoint — the IDENTICAL split the streaming harness stages
    * micro-batches with, so st73's "batch 1 vs batch 2" state IS this
    * query's ref/cur and the oracle is shared. Discipline:
    *   - decile edges are discrete lower-rank picks on the collapsed
    *     per-(type, milli-value) count frame (q102's machinery);
    *   - add-one (Laplace) smoothing keeps empty bins finite and the
    *     ratio strictly positive — deterministic, unlike an epsilon;
    *   - the log rides [[graft.functions.PortableMath.withLog2Fixed]]
    *     (exact integer, FMA-proof — the c43 lesson), so the PSI
    *     numerator is an exact integer sum and the only doubles are
    *     one ratio division and the final two-factor scale. ln-units
    *     via the ln2 constant, like c43's Theil.
    * At scale: ONE pass over the raw rows builds the collapsed halves
    * frame (bounded by value-domain × types × 2, localCheckpoint-
    * pinned for its two consumers); everything downstream is
    * (types × 10 bins). The log2 ladder's domain caps the smoothed
    * count ratio at 2^±20 — raise fracBits/kLadder for corpora past
    * ~10^6 rows per (type, window). */
  def psi(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val mid = ev.agg(
      expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2")
        .as("mid"))
    psiCollapsed(ev.crossJoin(broadcast(mid))
      .select(col("event_type"),
        when(unix_micros(col("ts")) <= col("mid"), lit(0L))
          .otherwise(lit(1L)).as("half"),
        floor(col("value") * 1000.0d).cast("long").as("vfx"))
      .groupBy(col("event_type"), col("half"), col("vfx"))
      .agg(count(lit(1)).as("cnt")))
  }

  /** [[psi]]'s fold over an already-collapsed
    * (event_type, half, vfx, cnt) frame — half 0 = reference window,
    * half 1 = current. st73 folds it over streamed per-(type, half,
    * milli-value) counts, sharing q103's oracle hash. */
  def psiCollapsed(halvesIn: DataFrame): DataFrame = {
    import graft.functions.PortableMath
    // Bounded (types × 2 × value domain); pinned for its two
    // consumers (edge pass + bin pass) so the upstream pipeline —
    // for q103 a full raw scan — executes once.
    val halves = halvesIn.localCheckpoint()
    val ord = Window.partitionBy(col("event_type")).orderBy(col("vfx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("event_type"))
    val rc = halves.filter(col("half") === 0L)
      .withColumn("cum", sum(col("cnt")).over(ord))
      .withColumn("total", sum(col("cnt")).over(all))
    val edges = rc.groupBy(col("event_type"))
      .agg(max(col("total")).cast("long").as("n_ref"),
        (1 to 9).map(k =>
          min(when(col("cum") * 10L >= col("total") * k, col("vfx")))
            .as(s"e$k")): _*)
    val binned = halves.join(broadcast(edges), Seq("event_type"))
      .withColumn("bin", (1 to 9).map(k =>
        when(col("vfx") >= col(s"e$k"), 1L).otherwise(0L))
        .reduce(_ + _))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("half") === 0L, col("cnt")).otherwise(0L))
          .as("r"),
        sum(when(col("half") === 1L, col("cnt")).otherwise(0L))
          .as("c"))
    val nCur = binned.groupBy(col("event_type"))
      .agg(sum(col("c")).cast("long").as("n_cur"))
    val scaffold = edges.select(col("event_type"), col("n_ref"),
      explode(sequence(lit(0L), lit(9L))).as("bin"))
    val f = scaffold
      .join(binned, Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("r", "c"))
      .join(broadcast(nCur), Seq("event_type"))
      .withColumn("cn", (col("c") + 1L) * (col("n_ref") + 10L))
      .withColumn("rn", (col("r") + 1L) * (col("n_cur") + 10L))
      .withColumn("ratio",
        col("cn").cast("double") / col("rn").cast("double"))
    val withL2 = PortableMath.withLog2Fixed(f, col("ratio"), "l2_fx")
      .localCheckpoint() // tiny (types × 10); two consumers below
    val psiT = withL2
      .select(col("event_type"),
        ((col("cn") - col("rn")).cast(DecimalType(38, 0)) *
          col("l2_fx")).as("term"),
        ((col("n_ref") + 10L) * (col("n_cur") + 10L)).as("den"))
      .groupBy(col("event_type"), col("den"))
      .agg(PortableMath.exactLong(sum(col("term")), "psi_fx")
        .as("psi_fx"))
      .select(col("event_type"), col("psi_fx"),
        (col("psi_fx").cast("double") * lit(0.6931471805599453d) /
          (lit(65536.0d) * col("den").cast("double"))).as("psi"))
    withL2.select(col("event_type"), col("bin"),
        col("r").as("ref_cnt"), col("c").as("cur_cnt"),
        col("l2_fx"), col("n_ref"), col("n_cur"))
      .join(broadcast(psiT), Seq("event_type"))
  }

  /** Per-(event_type, day) aggregate frame shared by q106/q107: day
    * index from the fixture epoch, daily observation count and daily
    * milli-value sum — the bounded (types × days) series that trend
    * statistics run on. The aggregation is the only pass over the raw
    * events; everything downstream is days²-bounded per type. */
  def dailySeries(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(col("event_type"),
        datediff(col("ts").cast("date"), to_date(lit("2024-01-01")))
          .cast("long").as("d"),
        floor(col("value") * 1000.0d).cast("long").as("vfx"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("x"), sum(col("vfx")).as("y"))

  /** q106: THEIL–SEN ROBUST SLOPE of the daily mean value per event
    * type — the median of all pairwise slopes between days, the
    * classic breakdown-resistant trend estimate (Theil 1950, Sen
    * 1968): a corrupted day shifts the OLS slope arbitrarily but
    * moves this one by at most one rank. Slopes stay exact rationals
    * (cross-multiplied daily sums/counts) until ONE division each;
    * the median is the lower-rank pick over the collapsed slope
    * frame. Pairs are bounded by days² per type — the per-type
    * self-join is an equi-join on event_type, never a cartesian. */
  def theilSen(spark: SparkSession, dir: String): DataFrame =
    theilSenDaily(dailySeries(spark, dir))

  /** [[theilSen]]'s fold over any (event_type, d, x, y) daily frame. */
  def theilSenDaily(daily: DataFrame): DataFrame = {
    val a = daily.select(col("event_type"), col("d").as("d1"),
      col("x").as("c1"), col("y").as("s1"))
    val b = daily.select(col("event_type"), col("d").as("d2"),
      col("x").as("c2"), col("y").as("s2"))
    // slope of the daily MEAN between days i<j:
    //   ((s2/c2) - (s1/c1)) / (d2 - d1)
    //   = (s2*c1 - s1*c2) / (c1*c2*(d2-d1))   — exact integers.
    val slopes = a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .select(col("event_type"),
        ((col("s2") * col("c1") - col("s1") * col("c2")).cast("double") /
          (col("c1") * col("c2") * (col("d2") - col("d1"))).cast("double"))
          .as("slope"))
      .groupBy(col("event_type"), col("slope"))
      .agg(count(lit(1)).as("cnt"))
    val ord = Window.partitionBy(col("event_type")).orderBy(col("slope"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("event_type"))
    val days = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_days"))
    slopes
      .withColumn("cum", sum(col("cnt")).over(ord))
      .withColumn("total", sum(col("cnt")).over(all))
      .filter(col("cum") * 2L >= col("total"))
      .groupBy(col("event_type"))
      .agg(min(col("slope")).as("ts_slope_milli_per_day"),
        max(col("total")).cast("long").as("n_pairs"))
      .join(days, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("ts_slope_milli_per_day"))
  }

  /** q108: INTEGER PAGERANK over the bipartite user ↔ event-type
    * interaction graph (distinct edges, both directions), 3 unrolled
    * power iterations in micro-units — the classic "who matters"
    * score over an interaction log, in the repo's fixed-point
    * discipline: pr₀ = 1,000,000 per node;
    * pr' = 150,000 + (85 · Σ_in (pr_u div deg_u)) div 100.
    * Every operation is an integer join/sum/div, so the result is
    * order-independent and bit-identical cross-engine — the property
    * a floating-point PageRank loses the moment two engines sum
    * neighbor contributions in different orders. Iterations are
    * UNROLLED (k=3), not a driver loop: each is one equi-join on src
    * + one keyed aggregation, the per-iteration cost a real PageRank
    * pays at any scale; deg is computed once and rides the pinned
    * edge list. */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankBipartite(table(spark, dir, "events")
      .select(concat(lit("u:"), col("user_id").cast("string")).as("u"),
        concat(lit("t:"), col("event_type")).as("t"))
      .distinct())

  /** [[pagerank]]'s iterations over any distinct (u, t) edge frame. */
  def pagerankBipartite(edgesOne: DataFrame): DataFrame = {
    // both directions; bounded by 2 · |distinct (user, type)|;
    // pinned — consumed by deg, the node seed and all 3 iterations
    val edges = edgesOne.select(col("u").as("src"), col("t").as("dst"))
      .unionByName(edgesOne.select(col("t").as("src"),
        col("u").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, Seq("src")).localCheckpoint()
    val nodes = deg.select(col("src").as("node"))
    var pr = nodes.withColumn("pr", lit(1000000L))
    for (_ <- 1 to 3) {
      pr = withDeg.join(pr, withDeg("src") === pr("node"))
        .select(col("dst"), expr("pr div deg").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("(85 * s) div 100")).as("pr"))
    }
    pr.select(col("node"), col("pr"))
  }

  /** q109: HODGES–LEHMANN location estimate of the daily mean value
    * per event type — the lower median of all pairwise Walsh averages
    * (mᵢ + mⱼ)/2 over days i ≤ j: the rank-based robust center that
    * pairs with q106's Theil–Sen slope (same bounded days² frame,
    * same exact-rational-until-one-division discipline:
    * walsh = (sᵢ·cⱼ + sⱼ·cᵢ) / (2·cᵢ·cⱼ)). */
  def hodgesLehmann(spark: SparkSession, dir: String): DataFrame =
    hodgesLehmannDaily(dailySeries(spark, dir))

  /** [[hodgesLehmann]]'s fold over any (event_type, d, x, y) frame. */
  def hodgesLehmannDaily(daily: DataFrame): DataFrame = {
    val a = daily.select(col("event_type"), col("d").as("d1"),
      col("x").as("c1"), col("y").as("s1"))
    val b = daily.select(col("event_type"), col("d").as("d2"),
      col("x").as("c2"), col("y").as("s2"))
    val walsh = a.join(b, Seq("event_type"))
      .filter(col("d1") <= col("d2"))
      .select(col("event_type"),
        ((col("s1") * col("c2") + col("s2") * col("c1")).cast("double") /
          (col("c1") * col("c2") * 2L).cast("double")).as("w"))
      .groupBy(col("event_type"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val ord = Window.partitionBy(col("event_type")).orderBy(col("w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("event_type"))
    walsh
      .withColumn("cum", sum(col("cnt")).over(ord))
      .withColumn("total", sum(col("cnt")).over(all))
      .filter(col("cum") * 2L >= col("total"))
      .groupBy(col("event_type"))
      .agg(min(col("w")).as("hl_milli"),
        max(col("total")).cast("long").as("n_pairs"))
  }

  /** q111: WEEKDAY-SEASONAL ANOMALY SCREEN — the monitoring question
    * q102's plain Tukey fences get wrong on weekly-patterned metrics
    * ("is this Sunday low, or just Sunday?"): per (type, weekday) the
    * pooled baseline mean, per day the residual of the daily mean
    * against its weekday baseline, and a robust 3×MAD flag on the
    * residuals. All means are ONE correctly-rounded division each;
    * the residual is one subtraction of two such doubles; the MAD is
    * the repo's collapsed lower-median pick over |residual| — so the
    * whole screen is deterministic cross-engine without fixed-point
    * machinery. Bounded: everything after the daily aggregation is
    * (types × days). */
  def seasonalAnomaly(spark: SparkSession, dir: String): DataFrame =
    seasonalAnomalyDaily(dailySeries(spark, dir))

  /** [[seasonalAnomaly]]'s fold over any (event_type, d, x, y) frame. */
  def seasonalAnomalyDaily(daily: DataFrame): DataFrame = {
    val wd = daily.withColumn("wd", pmod(col("d"), lit(7L)))
    val base = wd.groupBy(col("event_type"), col("wd"))
      .agg(sum(col("y")).as("yw"), sum(col("x")).as("xw"))
    val res = wd.join(base, Seq("event_type", "wd"))
      .withColumn("m", col("y").cast("double") / col("x").cast("double"))
      .withColumn("baseline",
        col("yw").cast("double") / col("xw").cast("double"))
      .withColumn("residual", col("m") - col("baseline"))
    val absr = res.select(col("event_type"),
        abs(col("residual")).as("ar"))
      .groupBy(col("event_type"), col("ar"))
      .agg(count(lit(1)).as("cnt"))
    val ord = Window.partitionBy(col("event_type")).orderBy(col("ar"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("event_type"))
    val mad = absr
      .withColumn("cum", sum(col("cnt")).over(ord))
      .withColumn("total", sum(col("cnt")).over(all))
      .filter(col("cum") * 2L >= col("total"))
      .groupBy(col("event_type"))
      .agg(min(col("ar")).as("res_mad"))
    res.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("d"), col("wd"), col("m"),
        col("baseline"), col("residual"), col("res_mad"),
        (abs(col("residual")) > col("res_mad") * lit(3.0d))
          .as("is_anomaly"))
  }

  /** q112: WALD–WOLFOWITZ RUNS TEST on the daily mean per event type
    * — "are the above-/below-median days RANDOMLY ordered, or do they
    * clump?": the randomness check that catches regime shifts and
    * oscillation that trend tests (q110) and location tests both
    * miss. Days equal to the median drop (the standard treatment);
    * R = number of sign runs over the surviving day sequence
    * (per-type lag window on the bounded daily frame); n₁/n₂/R are
    * exact integers and z = (R·N − 2n₁n₂ − N) / (N·sqrt(Var)) with
    * Var = 2n₁n₂(2n₁n₂−N) / (N²(N−1)) — one division inside the
    * sqrt, one sqrt, one multiply, one division, all correctly
    * rounded. */
  def runsTest(spark: SparkSession, dir: String): DataFrame =
    runsTestDaily(dailySeries(spark, dir))

  /** [[runsTest]]'s fold over any (event_type, d, x, y) frame. */
  def runsTestDaily(daily: DataFrame): DataFrame = {
    val m = daily.select(col("event_type"), col("d"),
      (col("y").cast("double") / col("x").cast("double")).as("m"))
    val byM = m.groupBy(col("event_type"), col("m"))
      .agg(count(lit(1)).as("cnt"))
    val ord = Window.partitionBy(col("event_type")).orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("event_type"))
    val med = byM
      .withColumn("cum", sum(col("cnt")).over(ord))
      .withColumn("total", sum(col("cnt")).over(all))
      .filter(col("cum") * 2L >= col("total"))
      .groupBy(col("event_type"))
      .agg(min(col("m")).as("med"))
    val signed = m.join(broadcast(med), Seq("event_type"))
      .filter(col("m") =!= col("med"))
      .withColumn("s", when(col("m") > col("med"), 1L).otherwise(-1L))
    val seq0 = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val runs = signed
      .withColumn("chg",
        when(lag(col("s"), 1).over(seq0).isNull, 1L)
          .when(lag(col("s"), 1).over(seq0) =!= col("s"), 1L)
          .otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(col("chg")).as("r_runs"),
        sum(when(col("s") === 1L, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("s") === -1L, 1L).otherwise(0L)).as("n_below"))
    val nn = col("n_above") + col("n_below")
    val twoAb = lit(2L) * col("n_above") * col("n_below")
    runs
      .withColumn("z",
        (col("r_runs") * nn - twoAb - nn).cast("double") /
          (nn.cast("double") *
            sqrt((twoAb * (twoAb - nn)).cast("double") /
              (nn * nn * (nn - 1L)).cast("double"))))
      .select(col("event_type"), col("n_above"), col("n_below"),
        col("r_runs"), col("z"))
  }

  /** q110: MANN–KENDALL TREND TEST of the daily mean value per event
    * type — the standard nonparametric "is this metric drifting"
    * monitor (Mann 1945, Kendall 1975): S = Σ_{i<j} sign(mⱼ − mᵢ)
    * over day pairs, variance with the tie correction
    * Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), and the
    * continuity-corrected z = (S ∓ 1)/sqrt(Var). S and Var·18 are
    * exact integers (mean comparisons by cross-multiplication, never
    * division); z is two correctly-rounded double ops. Completes the
    * q106/q107/q109 trend quartet on the same bounded daily frame. */
  def mannKendall(spark: SparkSession, dir: String): DataFrame =
    mannKendallDaily(dailySeries(spark, dir))

  /** [[mannKendall]]'s fold over any (event_type, d, x, y) frame. */
  def mannKendallDaily(daily: DataFrame): DataFrame = {
    val a = daily.select(col("event_type"), col("d").as("d1"),
      col("x").as("c1"), col("y").as("s1"))
    val b = daily.select(col("event_type"), col("d").as("d2"),
      col("x").as("c2"), col("y").as("s2"))
    // sign(m2 - m1) with m = s/c, by cross-multiplication
    val lhs = col("s2") * col("c1")
    val rhs = col("s1") * col("c2")
    val sStat = a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("event_type"))
      .agg((sum(when(lhs > rhs, 1L).otherwise(0L)) -
        sum(when(lhs < rhs, 1L).otherwise(0L))).as("s_stat"))
    // tie groups over the daily mean as ONE correctly-rounded double
    // per day — equal rationals always give equal doubles, so real
    // ties collapse; two DISTINCT rationals colliding in double would
    // overcount a tie, but both engines round identically so the
    // cross-engine hash is safe either way (and the collision needs
    // means within one ulp — not a statistics-grade concern)
    val ties = daily
      .select(col("event_type"),
        (col("y").cast("double") / col("x").cast("double")).as("m"))
      .groupBy(col("event_type"), col("m"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
        .as("tie_term"),
        sum(col("t")).cast("long").as("n_days"))
    sStat.join(ties, Seq("event_type"))
      .withColumn("var18",
        col("n_days") * (col("n_days") - 1L) *
          (lit(2L) * col("n_days") + 5L) - col("tie_term"))
      .withColumn("z",
        when(col("s_stat") > 0L, (col("s_stat") - 1L).cast("double"))
          .when(col("s_stat") < 0L, (col("s_stat") + 1L).cast("double"))
          .otherwise(lit(0.0d)) /
          sqrt(col("var18").cast("double") / lit(18.0d)))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        col("tie_term"), col("var18"), col("z"))
  }

  /** q107: KENDALL τ-b between the daily observation count and the
    * daily value sum per event type — rank agreement of two series
    * ("do busier days carry more value?"), with the tie-corrected
    * denominator. Concordant/discordant/tied pair counts are exact
    * integers from the days²-bounded per-type pair join; τ-b's
    * denominator is one sqrt of an exact-integer product, so the only
    * floating-point ops are one conversion, one division and one
    * sqrt — all correctly rounded, cross-engine-safe. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame =
    kendallTauDaily(dailySeries(spark, dir))

  /** [[kendallTau]]'s fold over any (event_type, d, x, y) daily frame. */
  def kendallTauDaily(daily: DataFrame): DataFrame = {
    val a = daily.select(col("event_type"), col("d").as("d1"),
      col("x").as("x1"), col("y").as("y1"))
    val b = daily.select(col("event_type"), col("d").as("d2"),
      col("x").as("x2"), col("y").as("y2"))
    val dx = col("x2") - col("x1")
    val dy = col("y2") - col("y1")
    // Concordance via sign agreement, never the product dx*dy — the
    // deltas are data-scaled and a product overflows long long before
    // the counts do.
    a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n0"),
        sum(when((dx > 0L && dy > 0L) || (dx < 0L && dy < 0L), 1L)
          .otherwise(0L)).as("concordant"),
        sum(when((dx > 0L && dy < 0L) || (dx < 0L && dy > 0L), 1L)
          .otherwise(0L)).as("discordant"),
        sum(when(dx === 0L, 1L).otherwise(0L)).as("ties_x"),
        sum(when(dy === 0L, 1L).otherwise(0L)).as("ties_y"))
      .withColumn("tau_b",
        (col("concordant") - col("discordant")).cast("double") /
          sqrt(((col("n0") - col("ties_x")) *
            (col("n0") - col("ties_y"))).cast("double")))
      .join(daily.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_days")), Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n0"),
        col("concordant"), col("discordant"), col("ties_x"),
        col("ties_y"), col("tau_b"))
  }
}
