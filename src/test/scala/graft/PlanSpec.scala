package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression guards: the properties the engine is designed
  * around — pushdown reaching the parquet scan, broadcast of dimension
  * tables, NO driver-side collect in distributed operators — asserted on
  * the actual physical plans, so a refactor that silently degrades a
  * plan fails the suite, not just the benchmark. */
class PlanSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("q01: filter + column pruning reach the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // projection pruned to the 5 used columns, not the full lineitem row
    assert(!p.contains("l_orderkey"), "scan reads unneeded columns")
  }

  test("q03: dimension side is broadcast, not shuffled") {
    val p = plan("q03_join_topk")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d05: all-pairs cosine has no driver collect and no broadcast of the corpus") {
    val p = plan("d05_embed_neardup")
    assert(!p.contains("CollectLimit"), p)
    assert(!p.contains("BroadcastExchange"), "corpus must not be broadcast")
    assert(p.contains("CartesianProduct"), // the block-pair NL join
      "expected the shuffle-replicate block-pair join")
  }

  test("d04: single shingle pipeline, pairs expand in-group (no self-join of the scan)") {
    val p = plan("d04_ngram_jaccard")
    // exactly one parquet scan of documents
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
    assert(p.contains("graft_shingles"), "native shingle kernel not in plan")
  }

  test("t07: content-free split reads ONLY the id column") {
    val p = plan("t07_hash_split")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"split must not read the text column\n$p")
  }

  test("t08: repetition metrics are map-only — no shuffle, no explode") {
    val p = plan("t08_repetition")
    assert(!p.contains("Exchange"),
      s"per-doc fold must not shuffle\n$p")
    assert(!p.contains("Generate"),
      s"metrics come from array HOFs, not explode+regroup\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
  }

  test("t06: one documents scan — df comes from a window, not a self-join") {
    val p = plan("t06_top_terms")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
  }

  test("d09: bench shingle set is broadcast; train side never shuffle-joins") {
    val p = plan("d09_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark side must broadcast (eval suites are tiny)\n$p")
    // each side scans with its own isBench filter pushed down; the TRAIN
    // side must never shuffle-join: no SortMergeJoin anywhere
    assert(!p.contains("SortMergeJoin"),
      s"train shingles must not shuffle for the overlap join\n$p")
  }

  test("d03: native simhash is map-only — no explode, no aggregation, no shuffle") {
    val p = plan("d03_simhash")
    assert(!p.contains("Exchange") && !p.contains("Generate") &&
      !p.contains("HashAggregate"),
      s"signature stage must stay embarrassingly parallel\n$p")
  }

  test("q20: grouping sets expand once over one scan — not one pass per set") {
    val p = plan("q20_grouping_sets")
    assert(p.contains("Expand"), s"grouping sets must use Expand\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"one lineitem scan must feed all three grouping sets\n$p")
  }

  test("s05: dim stats pre-aggregate map-side — shuffle carries partials, not the corpus") {
    val p = plan("s05_embed_stats")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"partial + final aggregate expected around the exchange\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"exactly one shuffle (to the 64 dim groups)\n$p")
  }

  test("c01: curation composite joins by semi-join hash, never nested-loop") {
    val p = plan("c01_curate_pipeline")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"composite must stay on equi-joins\n$p")
    assert(p.contains("LeftSemi"),
      s"survivor/clean sets must reach the gated stream as semi joins\n$p")
  }

  test("d10: window dedup needs no join — gram owner comes from a window") {
    val p = plan("d10_window_dedup")
    assert(!p.contains("Join"), s"owner must come from a window count\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
  }

  test("q25: range join is a granule equi-join — never a nested loop or cartesian") {
    val p = plan("q25_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the granule key must make this a standard equi-join\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected a shuffled equi-join on the granule key\n$p")
  }

  test("d15: dup spans — no join anywhere, native kernel windows, one scan") {
    val p = plan("d15_dup_spans")
    assert(!p.contains("Join"),
      s"ownership is a window fn, islands a per-doc window — no join\n$p")
    assert(p.contains("graft_shingles"),
      s"positional windows must come from the native kernel\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
  }

  test("t17: dsir model is broadcast by construction — no shuffle join of the corpus") {
    val p = plan("t17_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=nBuckets model must broadcast\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus-side grams must never shuffle into a join\n$p")
  }

  test("t16: pii scrub is map-only — no shuffle, no join, one scan") {
    val p = plan("t16_pii_redact")
    assert(!p.contains("Exchange"), s"redaction must not shuffle\n$p")
    assert(!p.contains("Join"), s"redaction must not join\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
  }

  test("t10: rarity df comes from a window, not a self-join; one scan") {
    val p = plan("t10_rarity")
    assert(!p.contains("Join"), s"df must come from a window count\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
  }

  test("t11: shuffle-shard reads ONLY the id column") {
    val p = plan("t11_shuffle_shard")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"sharding must not read the text column\n$p")
  }

  test("d12: semdedup assigns via broadcast centroids, pairs via equi-join") {
    // assignment subplan: tiny centroid model broadcast against the
    // corpus (the full d12 plan hides it behind the reuse checkpoint)
    import org.apache.spark.sql.functions.col
    val asg = graft.ops.Vectors.assignSampledCells(
      spark.read.parquet(s"$dir/embeddings.parquet"),
      col("vec_id"), col("embedding"), 16)
      .queryExecution.executedPlan.toString
    assert(asg.contains("BroadcastNestedLoopJoin"),
      s"centroids must broadcast for assignment\n$asg")
    assert(!asg.contains("CartesianProduct"), asg)
    // full plan: ONE materialized assignment feeds both pair sides and
    // the spine; pairing is an equi-join on cell id, never cartesian
    val p = plan("d12_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"within-cell pairing must stay an equi-join on cell id\n$p")
    assert(!p.contains("Scan parquet") || !p.contains("FileScan"),
      s"pair sides must reuse the checkpointed assignment, not rescan\n$p")
  }

  test("s08: kmeans final stats join broadcasts the model, not the corpus") {
    val p = plan("s08_kmeans")
    // after the (checkpointed) assignment, the k-row centroid model is
    // the broadcast side of the stats join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c02: train-mix composite stays on equi-joins over two pruned scans") {
    val p = plan("c02_train_mix")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"sample->pack composite must stay on equi-joins\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected 2 pruned documents scans, got $scans\n$p")
  }

  test("d11/d13: verify joins reuse the ONE materialized corpus pass") {
    // signature + shingle set come from a single checkpointed scan;
    // candidate generation and both verify-join sides read the
    // materialization — the final plan must not touch parquet again
    for (q <- Seq("d11_lsh_verify", "d13_minhash_est")) {
      val p = plan(q)
      assert(!p.contains("Scan parquet"),
        s"$q must reuse the checkpointed per-doc table, not rescan\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("q24: bucketed join consumes the bucketing — no exchange feeds the join") {
    // at fixture scale the optimizer correctly broadcasts the tiny
    // orders side; the bucketing pays off when BOTH sides are big, so
    // force the sort-merge path to observe the shuffle-free join
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q24_bucketed_join")
      assert(p.contains("SortMergeJoin"), p)
      // the ONLY exchange allowed is the final aggregation's; the join
      // itself must read both bucketed tables shuffle-free
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges <= 1,
        s"bucketed join must not re-shuffle its inputs ($exchanges exchanges)\n$p")
      assert(p.contains("Bucketed: true"), s"scan must be bucket-aware\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("t13: bigram model broadcasts under the guard; oversized model falls back to shuffle join") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // threshold -1: only the EXPLICIT guard-granted hint may broadcast,
    // so the assertion tests the guard, not the optimizer's size stats
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val guarded = graft.ops.TextAnalysis
        .bigramLmScore(docs, col("text"), col("doc_id"))
        .queryExecution.executedPlan.toString
      assert(guarded.contains("BroadcastHashJoin"),
        s"in-bound model must broadcast for scoring\n$guarded")
      val fallback = graft.ops.TextAnalysis
        .bigramLmScore(docs, col("text"), col("doc_id"),
          maxBroadcastBigrams = 0L)
        .queryExecution.executedPlan.toString
      assert(!fallback.contains("BroadcastHashJoin"),
        s"over-bound model must NOT broadcast (driver OOM guard)\n$fallback")
      assert(fallback.contains("SortMergeJoin"),
        s"fallback scores via shuffle joins\n$fallback")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("t14: k-min is two-level — level 1 is salt-bucketed, never one task per stratum") {
    val p = plan("t14_kmv_distinct")
    assert("windowspecdefinition\\(stratum#\\d+, salt#\\d+".r
      .findFirstIn(p).isDefined,
      s"level-1 k-minima must window over (stratum, salt)\n$p")
    // exactly two rank windows: salted level 1 + bounded level-2 merge
    val windows = "row_number".r.findAllIn(p).length
    assert(windows >= 2, s"expected the two-level rank structure\n$p")
  }

  test("s14: IVFADC — models broadcast, corpus side never shuffle-joins, native kernel") {
    val p = plan("s14_ivfadc")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"coarse centroids / residual codebook / LUT must broadcast\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"every join side that isn't the corpus must be model-sized and broadcast\n$p")
    assert(p.contains("graft_isqdist"), "distances must use the native kernel")
  }

  test("s01/s03: the per-pair dot product is the native graft_idot kernel") {
    // The rerank hot loop must run the fused-loop kernel, not the
    // aggregate(zip_with(...)) fold it replaced (one intermediate array
    // allocation per candidate pair at ANN scale).
    for (q <- Seq("s01_ann_topk", "s03_ann_ivf")) {
      val p = plan(q)
      assert(p.contains("graft_idot"), s"$q: expected the native kernel\n$p")
      assert(!p.contains("zip_with"),
        s"$q: declarative fold leaked back into the plan\n$p")
    }
  }

  test("s12: MIPS-LSH candidates come from an equi-join; no corpus cartesian") {
    val p = plan("s12_mips_lsh")
    // the only nested loop allowed is the 1-row max-norm scalar
    // broadcast; candidate generation must be the bucket equi-join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("graft_idot"), "rerank must use the native kernel")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(p).isDefined, s"expected an equi-join on bucket\n$p")
  }

  test("s13: multi-probe IVF — centroids broadcast, candidates equi-joined") {
    val p = plan("s13_ann_ivf_probe")
    assert(!p.contains("CartesianProduct"), p)
    // centroid scoring joins against the broadcast model on BOTH sides
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroid model must broadcast\n$p")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(p).isDefined, s"expected the cell-id equi-join\n$p")
    assert(p.contains("graft_idot"), "scoring must use the native kernel")
  }

  test("q26: funnel — one user_id exchange, chained windows, no joins") {
    val p = plan("q26_funnel")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"funnel must shuffle exactly once on user_id, saw $hashEx\n$p")
    assert(!p.contains("Join"), s"funnel must not join\n$p")
  }

  test("q33: mv merge — two partial-aggregate branches union into one group-sized merge, no joins") {
    val p = plan("q33_mv_merge")
    assert(p.contains("Union"), s"base and delta partials must union\n$p")
    assert("partial_sum".r.findAllIn(p).length >= 2,
      s"both branches must pre-aggregate map-side before the merge\n$p")
    assert(!p.contains("Join"), s"the merge is an aggregate, not a join\n$p")
  }

  test("q32: scd2 — one user_id exchange serves both windows, the rollup, and the lead") {
    val p = plan("q32_scd2")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"gaps-and-islands must shuffle exactly once on user_id, saw $hashEx\n$p")
    assert(!p.contains("Join"), s"islands must not self-join\n$p")
  }

  test("q27: retention — window exchange reused by the user-week distinct") {
    val p = plan("q27_retention")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    // one on user_id (window + distinct reuse it), one for the final
    // (cohort, offset) rollup whose cardinality is O(weeks^2)
    assert(hashEx == 2,
      s"retention should need exactly two hash exchanges, saw $hashEx\n$p")
    assert(!p.contains("Join"), s"retention must not join\n$p")
  }

  test("s15: SQ8 search — queries broadcast, corpus never shuffled, native kernel") {
    val p = plan("s15_ann_sq8")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast against the streamed corpus\n$p")
    // the only shuffle is the top-k merge, and WindowGroupLimit prunes
    // each partition to k rows per query BEFORE it — at 100 TB the
    // exchange carries O(k·queries·partitions), not the corpus
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"top-k must prune per-partition before the merge\n$p")
    assert(p.contains("graft_idot"), "code dot must use the native kernel")
  }

  test("q28: sliding window — one user_id exchange, streaming range frame, no joins") {
    val p = plan("q28_sliding_window")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"sliding aggregate must shuffle exactly once on user_id, saw $hashEx\n$p")
    assert(!p.contains("Join"), s"sliding aggregate must not join\n$p")
    assert(p.contains("Window"), p)
  }

  test("t18: vocab stats — token count reused by both readers, top-k pruned per partition") {
    // reuse is an AQE runtime decision: execute, then read the final plan
    val df = SparkEntry.queries("t18_vocab_stats")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      "Scan parquet".r.findAllIn(p).length == 1,
      s"the (source, term) count exchange must be computed once\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"Zipf-head ranking must prune per-partition before the source shuffle\n$p")
  }

  test("s16: hamming search — queries broadcast, top-k pruned, native dot in signatures") {
    val p = plan("s16_ann_hamming")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query signatures must broadcast against the streamed corpus\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k must prune per-partition before the merge\n$p")
    assert(p.contains("graft_idot"),
      "hyperplane dots must use the native kernel")
  }

  test("d16: bloom decontam — filter and bench sides broadcast, probe never shuffle-joins") {
    val p = plan("d16_bloom_decontam")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2,
      s"both the bench set and the bounded position filter must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the probe side must not shuffle for a join\n$p")
  }

  test("s17: knn graph — symmetric bucket equi-join, nothing broadcast-NL, no cartesian") {
    val p = plan("s17_knn_graph")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"corpus-as-queries must candidate via the bucket equi-join\n$p")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(p).isDefined, s"expected the bucket equi-join\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-node top-k must prune per-partition\n$p")
  }

  test("s22: filtered ann — label is the equi-join key, never a filtered nested loop") {
    val p = plan("s22_filtered_ann")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the label filter must join, not post-filter a cross product\n$p")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(p).isDefined, s"expected the label equi-join\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must prune per-partition\n$p")
  }

  test("s25: index persistence — the serving plan scans the stored artifact, no training stages") {
    val p = plan("s25_ann_index_store")
    assert(p.contains("graft_ivf_index"),
      s"the search must consume the persisted index parquet\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"no in-plan (checkpointed) training model may leak into serving\n$p")
  }

  test("s23: maxsim — scores pinned once (one corpus scan), ranking " +
      "bucket-partitioned, no single-task stage") {
    val p = plan("s23_maxsim")
    // the per-doc scores are consumed from their localCheckpoint (the
    // corpus join/partial-max ran exactly once, at pin time) …
    assert(p.contains("Scan ExistingRDD"),
      s"scores must be consumed from the localCheckpoint\n$p")
    // … and the global top-k rides the bucketed Ranks pass
    assert(!p.contains("SinglePartition"),
      s"no stage of the maxsim rank may funnel to one task\n$p")
    assertWindowsPartitioned(p, "__rk_b")
  }

  test("s23/ops: the maxsim scoring stage broadcasts the query bag " +
      "and folds a map-side partial max — the corpus never shuffles " +
      "raw vectors") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.ops.Vectors.maxSimScores(e,
        e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        col("label"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the query bag must broadcast — the corpus never shuffles raw\n$p")
    assert(p.contains("partial_max"),
      s"per-partition partial max expected before the exchange\n$p")
  }

  test("s19: knn refinement — checkpointed seed consumed, equi-join expansion, no cartesian") {
    val p = plan("s19_knn_refine")
    assert(!p.contains("CartesianProduct"),
      s"the neighbor-of-neighbor expansion must be an equi-join on node id\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the seed graph must be consumed from its localCheckpoint, not recomputed\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the refined top-k must prune per-partition\n$p")
  }

  test("d21: snapshot diff — fingerprints map-side, id equi-join only, no document bodies shuffled") {
    val p = plan("d21_snapshot_diff")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the diff must be an id equi-join\n$p")
    assert("FullOuter".r.findFirstIn(p).isDefined,
      s"expected the full outer join\n$p")
    // md5 must be computed under the join (in the scans' projections),
    // so only (id, fp) pairs reach the exchange — never text.
    val joinIdx = p.indexOfSlice("FullOuter")
    assert(p.lastIndexOf("md5") > joinIdx,
      s"fingerprints must be computed map-side below the join\n$p")
  }

  test("d20: fuzzy decontam — checkpointed single pass, bucket equi-join, no cartesian") {
    val p = plan("d20_fuzzy_decontam")
    assert(p.contains("Scan ExistingRDD"),
      s"both splits must reuse the one checkpointed kernel pass\n$p")
    assert(!p.contains("Scan parquet"),
      s"no re-scan of the corpus beyond the checkpoint\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q31: sliding distinct — fan-out explode, day equi-join, no range join") {
    val p = plan("q31_sliding_distinct")
    assert(p.contains("Generate explode"),
      s"the window membership must come from the bounded fan-out\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no range join — the fan-out replaces it\n$p")
  }

  test("t21: novelty — one scan, shingle-window ownership, no self-join") {
    val p = plan("t21_novelty")
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), s"ownership must be the min window\n$p")
  }

  test("s21: range search — model-sized broadcasts only, candidates via cid equi-join") {
    val p = plan("s21_range_search")
    assert(!p.contains("CartesianProduct"),
      s"the Q×N product must never form — candidates come from cells\n$p")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(p).isDefined, s"expected the cid equi-join\n$p")
    // the only nested-loop joins are against the broadcast centroid /
    // radius model (corpus assign, query probe, radius build), never
    // corpus×corpus
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 3, p)
  }

  test("q29: approx percentiles — sketch table broadcast back, no cartesian") {
    val p = plan("q29_approx_percentiles")
    assert(p.contains("BroadcastHashJoin"),
      s"the 3-row approx table must broadcast against the rank audit scan\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q30: hll audit — two sketch levels, 5-row union table broadcast back") {
    val p = plan("q30_hll_distinct")
    assert(p.contains("hll_sketch_agg") && p.contains("hll_union_agg"),
      s"expected partial sketches re-aggregated by a second-level union\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 5-row estimate table must broadcast against the exact side\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c03: leakage audit — fp equi-join only, no cartesian, map-side split/fingerprint") {
    val p = plan("c03_leakage_audit")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // split + fingerprint are expressions on the scan, not a join
    assert("Scan parquet".r.findAllIn(p).length <= 2, p)
  }

  test("c04: dataset card — one corpus scan, window dup-attribution, no self-join") {
    val p = plan("c04_dataset_card")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"the card must be one pass over one scan\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"dup attribution must be the fp window, not a self-join\n$p")
    assert(p.contains("Window"), p)
  }

  test("t19: temperature sampling — rate table broadcast, corpus side map-only") {
    val p = plan("t19_temperature_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-source rate table must broadcast\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus must not shuffle for the rate join\n$p")
  }

  test("g01: the stateful fold is one exchange + in-partition sort") {
    val p = plan("g01_count_per_key")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"fold should need at most its keying exchange\n$p")
  }

  test("t24: chunking is map-only — one scan, no shuffle, no state") {
    val p = plan("t24_chunk")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
    assert(!p.contains("Exchange"),
      s"chunk windows derive per-row; nothing may shuffle\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to the two used columns\n$p")
  }

  test("s26: incremental add serves from the merged stored lists, no training stage") {
    val p = plan("s26_ann_index_add")
    assert(p.contains("graft_ivf_add"),
      s"serving must consume the stored index artifacts\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"no in-plan training model may leak into serving\n$p")
  }

  test("c05: incremental refresh consumes the stored feature artifact") {
    val p = plan("c05_incremental_curate")
    assert(p.contains("graft_curate_artifact"),
      s"unchanged docs' features must come from the stored artifact\n$p")
    assert(!p.contains("CartesianProduct"),
      s"refresh joins are keyed (doc_id/fp/shingle), never cartesian\n$p")
  }

  test("q34: profile = per-column pruned scans + two-phase dedup aggs, no Expand") {
    val p = plan("q34_profile")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 5,
      s"expected one single-column pruned scan per profiled column\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"),
      s"each branch must prune to its one column\n$p")
    assert(!p.contains("Expand"),
      s"the Expand multi-distinct shape is 10x slower here — branches\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"profiling must not join; got\n$p")
  }

  test("q36: heavy hitters never shuffle raw keys — only kernel summaries") {
    // The final plan consumes the pinned summary and ranks it with
    // the bucketed Ranks pass — no single-task stage anywhere.
    val p = plan("q36_heavy_hitters")
    assert(p.contains("Scan ExistingRDD"),
      s"the merged summary must be consumed from its localCheckpoint\n$p")
    assert(!p.contains("SinglePartition"),
      s"the top-k rank must stay bucket-partitioned\n$p")
    assertWindowsPartitioned(p, "__rk_b")
    // The summary pass itself (pre-pin) prunes to the key column and
    // folds the Misra-Gries kernel per partition.
    val pp = graft.ops.Profiling.heavyHittersPartial(
        spark.read.parquet(s"$dir/events.parquet"), col("user_id"),
        m = 131072)
      .queryExecution.executedPlan.toString
    assert(pp.contains("ReadSchema: struct<user_id:bigint>"),
      s"summary pass must prune to the key column\n$pp")
    assert(pp.contains("mapPartitions") || pp.contains("MapPartitions"),
      s"the Misra-Gries fold must run as the partition kernel\n$pp")
  }

  test("q37: CEP = ONE user_id exchange, no join") {
    val p = plan("q37_cep_match")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"the whole pattern fold must reuse one user_id exchange\n$p")
    assert(!p.contains("Join"), s"CEP is a fold, not a join chain\n$p")
  }

  test("q38: histogram boundaries broadcast back; assignment is not a shuffle join") {
    val p = plan("q38_histogram")
    assert(p.contains("BroadcastHashJoin"),
      s"the 4-value-per-group boundary table must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"bucket assignment must not co-shuffle the fact table\n$p")
  }

  test("q35: sketch set-algebra joins only sketch-sized sides after the minima selection") {
    val p = plan("q35_kmv_setops")
    assert(!p.contains("CartesianProduct"),
      s"segment pairs come from the theta inequality join on tiny meta rows\n$p")
    // raw element sets are never broadcast — only exact ride-along
    // audit joins touch them, keyed on the element
    assert(p.contains("graft_stream") || !p.contains("CollectLimit"), p)
  }

  test("t25: mask corruption is map-only — no shuffle, no explode") {
    val p = plan("t25_mask_corrupt")
    assert(!p.contains("Exchange"), s"indexed HOFs, not explode+regroup\n$p")
    assert(!p.contains("Generate"), p)
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
  }

  test("c07: dataset seal is one scan + one partial-aggregated exchange") {
    val p = plan("c07_dataset_seal")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
    assert(p.contains("partial_bit_xor") || p.contains("HashAggregate"),
      s"the digest must combine map-side\n$p")
  }

  test("q39: capped sessions = ONE user_id exchange, no join") {
    val p = plan("q39_capped_session")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges\n$p")
    assert(!p.contains("Join"), s"the recurrence folds, it never joins\n$p")
  }

  test("d24: boilerplate df is two-phase countDistinct, never a window list") {
    val p = plan("d24_boilerplate")
    assert(!p.contains("collect_set"),
      s"hot segments must not materialize doc-id lists in one task\n$p")
    assert(!p.contains("Window"),
      s"document frequency is a groupBy, not a window — a per-fp window" +
        s" would single-task every hot boilerplate segment\n$p")
    // Two passes over documents is the op's canonical shape (C4's
    // count pass + filter pass): the frequency side re-derives the
    // segments rather than materializing them. A window form would be
    // one scan but skew-fatal; a checkpoint would trade a full
    // segment-table materialization for the second scan.
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected the 2-pass shape, got $scans scans\n$p")
  }

  test("t27: PPS sampling broadcasts the 1-row total, never shuffles a join") {
    val p = plan("t27_pps_sample")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the scalar total must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q40: OHLC is one hash aggregate — no window, no sort, no join") {
    val p = plan("q40_ohlc_bars")
    assert(!p.contains("Window"),
      s"open/close must come from min_by/max_by, not rank windows\n$p")
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges\n$p")
    assert(p.contains("partial_min_by") || p.contains("HashAggregate"),
      s"ordered aggregates must combine map-side\n$p")
  }

  test("m06: VAD segmentation is map-only — no shuffle at any corpus size") {
    val p = plan("m06_audio_segments")
    assert(!p.contains("Exchange"),
      s"framing/energies/islands are per-row HOFs\n$p")
  }

  test("m07: shot-boundary detection is map-only") {
    val p = plan("m07_shot_boundaries")
    assert(!p.contains("Exchange"),
      s"inter-frame deltas are per-row HOFs, never a lag window\n$p")
    assert(!p.contains("Window"), p)
  }

  test("c13: the date-range filter prunes lake PARTITIONS — directory-" +
      "level, before any data file opens") {
    val p = plan("c13_partitioned_lake")
    assert("PartitionFilters: \\[[^\\]]*event_date".r
      .findFirstIn(p).isDefined,
      s"the date filter must be a partition filter\n$p")
    assert(p.contains("PushedFilters: []"),
      s"no data-level filter should remain — the predicate is fully " +
        s"partition-pruning\n$p")
  }

  test("s31: tombstone delete is a broadcast anti-join on the stored " +
      "lists — erase lists are request-sized") {
    val p = plan("s31_ann_index_delete")
    assert("BroadcastHashJoin [^\\n]*LeftAnti".r.findFirstIn(p).isDefined,
      s"tombstones must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-scale shuffle join in the serving plan\n$p")
  }

  test("q42: correlated scalar subqueries decorrelate — one aggregate " +
      "joined back, never a per-row re-scan") {
    val p = plan("q42_correlated_subquery")
    assert(!p.contains("CartesianProduct"), p)
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans <= 3,
      s"expected the decorrelated shape (probe + merged aggregate), " +
        s"got $scans scans\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("c18: the point-user predicate is pushed to the parquet reader " +
      "— row-group stats can skip non-matching files") {
    val p = plan("c18_clustered_lake")
    assert(p.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]"),
      s"the filter must reach the scan for stats-based skipping\n$p")
  }

  test("q59: interval coverage is one window pass — no self-join, " +
      "no cartesian") {
    val p = plan("q59_interval_coverage")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"the union-length sweep must not plan any join\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"the running-max window must appear\n$p")
  }

  test("t35: the drift grid joins broadcast — the corpus is scanned " +
      "once and never shuffle-joined") {
    val p = plan("t35_js_drift")
    assert(!p.contains("CartesianProduct"),
      s"sources x vocab must ride broadcast joins\n$p")
  }

  test("q56: the brand dimension resolves via broadcast; the pair " +
      "fan-out is the basket-local equi-join, never a cartesian") {
    val p = plan("q56_copurchase")
    assert(p.contains("BroadcastHashJoin"),
      s"part is dimension-sized and must broadcast\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the pair join must ride the order-key equi-join\n$p")
  }

  test("c26: both slice predicates are pushed to the parquet reader " +
      "— the z-order layout makes stats skipping work on either dim") {
    val p = plan("c26_zorder_lake")
    assert(p.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]"),
      s"the user slice's filter must reach the scan\n$p")
    assert(p.contains("EqualTo(event_date,2024-01-20)"),
      s"the day slice's filter must reach the scan\n$p")
  }

  test("q43: NOT IN plans the optimized null-aware anti-join — " +
      "broadcast hash, not a nested loop") {
    val p = plan("q43_not_in_null_aware")
    assert("BroadcastHashJoin [^\\n]*LeftAnti, BuildRight, true".r
      .findFirstIn(p).isDefined,
      s"single-column NOT IN must take the NAAJ fast path\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the naive O(n*m) null-aware form must not appear\n$p")
  }

  test("t31: BPE apply broadcasts the trained vocab — tokenization " +
      "never shuffle-joins the corpus") {
    val p = plan("t31_bpe_apply")
    assert(p.contains("BroadcastHashJoin"),
      s"the segmented vocabulary is model-sized and must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join defeats the apply tier\n$p")
  }

  test("q44: the user-slice filter sits BELOW the window — 4/5 of the " +
      "table never reaches the per-user sort") {
    val p = plan("q44_forward_fill")
    assert(p.contains("Window"), p)
    // top-down print: Window first, then the Filter it sits above
    assert(p.indexOf("Window") < p.indexOf("Filter"),
      s"partition-key predicate must be pushed under the window\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 events scan, got $scans\n$p")
  }

  test("q45: sweep-line builds from ONE pruned ts scan — boundary " +
      "points fan out map-side, no join anywhere") {
    val p = plan("q45_peak_concurrency")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 events scan, got $scans\n$p")
    assert(p.contains("ReadSchema: struct<ts:timestamp"),
      s"scan must read only the ts column\n$p")
    assert(!p.contains("Join"), s"the sweep replaces any self-join\n$p")
    assert(p.contains("Generate explode"), p)
  }

  test("c22: five expectation rules ride ONE scan — no Expand, one " +
      "aggregate pass") {
    val p = plan("c22_expectations")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 orders scan, got $scans\n$p")
    assert(!p.contains("Expand"),
      s"a single count_distinct must not plan the Expand\n$p")
  }

  test("q50: point-in-time dimension join plans with NO join node — " +
      "union + forward-fill replaces the interval join") {
    val p = plan("q50_point_in_time_join")
    assert(!p.contains("Join"),
      s"the union+fill plan must not contain any join\n$p")
    assert(p.contains("Window"), p)
    assert(p.contains("Union"), p)
  }

  test("t33: readability grading is map-only — no exchange in the plan") {
    val p = plan("t33_readability")
    assert(!p.contains("Exchange"), s"readability must not shuffle\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
  }

  /** Every Window node in `p` must be PARTITIONED (the executed-plan
    * string renders the partition spec as the second bracket list;
    * an unpartitioned window funnels the whole input to one task —
    * the final one-row scalar aggregate's SinglePartition gather of
    * already-reduced partials is fine and NOT flagged here). */
  private def assertWindowsPartitioned(p: String, key: String): Unit =
    p.split("\n").filter(_.contains("+- Window")).foreach { l =>
      assert(l.contains(key),
        s"window not partitioned by $key: $l")
    }

  test("r12 window queries: every window is partitioned by its natural " +
    "shard key — user, type, series, or rank bucket") {
    Seq(
      "q80_transition_matrix" -> Seq("user_id", "src"),
      "q81_mann_whitney" -> Seq("event_type"),
      "q83_floored_balance" -> Seq("user_id"),
      "q85_interpolate" -> Seq("event_type"),
      "q86_kruskal_wallis" -> Seq("event_type"),
      "q88_rolling_slope" -> Seq("event_type")
    ).foreach { case (q, keys) =>
      val p = plan(q)
      assert(p.contains("Window"), s"$q: expected a window\n$p")
      p.split("\n").filter(_.contains("+- Window")).foreach { l =>
        assert(keys.exists(l.contains),
          s"$q: window not partitioned by any of $keys: $l")
      }
    }
  }

  test("q61: the global rank is bucket-partitioned — no single-partition " +
    "window anywhere in the Gini plan") {
    val p = plan("q61_gini")
    assert(p.contains("Window"), p)
    assertWindowsPartitioned(p, "__rk_b")
  }

  test("q62: ABC classes — bucketed rank, broadcast total, no " +
    "single-partition window") {
    val p = plan("q62_abc")
    assertWindowsPartitioned(p, "__rk_b")
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q84: gains table — the rank AND the cumulative positives ride " +
    "one bucketed pass; no single-partition window") {
    val p = plan("q84_gains_table")
    assert(p.contains("Window"), p)
    assertWindowsPartitioned(p, "__rk_b")
  }

  test("q63: triangle counting is all equi-joins — no cartesian " +
    "product, no broadcast of the edge set") {
    val p = plan("q63_triangles")
    assert(!p.contains("CartesianProduct"),
      s"wedge join must be an equi-join on the pivot node\n$p")
  }

  test("q63: the wedge Bloom pre-filter is in-plan — might_contain over " +
    "a scalar subquery, no broadcast of the edge set") {
    val p = plan("q63_triangles")
    assert("might_contain\\(Subquery subquery#\\d+".r.findFirstIn(p).isDefined,
      s"wedges must be probed by might_contain over a scalar subquery\n$p")
    assert(p.contains("bloom_filter_agg(xxhash64(src"),
      s"the subquery must aggregate the oriented edge list\n$p")
    assert(!p.contains("BroadcastHashJoin") && p.contains("ShuffledHashJoin"),
      s"the wedge close must shuffle-hash the edge set, not broadcast it\n$p")
  }

  test("q65: Benford audit is one pruned scan + one 9-group aggregate") {
    val p = plan("q65_benford")
    assert(p.contains("ReadSchema: struct<value:double>"),
      s"digit audit must read only the value column\n$p")
  }

  test("q64: CUSUM windows are partitioned by event_type — the " +
    "day-grain series never funnels to one task") {
    val p = plan("q64_cusum")
    assert(!p.contains("SinglePartition"),
      s"CUSUM must stay partitioned by type\n$p")
  }

  test("q67: the rank input is pinned (zero lineitem re-scans in the " +
    "final plan), one bucket-partitioned window — the conditional-" +
    "aggregate boundary read never duplicates the rank pipeline") {
    val p = plan("q67_exact_quantiles")
    // Ranks runs pin=true here: the 600k-row cents frame scans the
    // parquet ONCE at pin time and every fold (and this final plan)
    // consumes the checkpoint — so the executed plan must show the
    // ExistingRDD scan and NO parquet re-scan.
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 0,
      s"expected 0 lineitem re-scans (pinned rank input), got $scans\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the rank input must be consumed from its localCheckpoint\n$p")
    assert(!p.contains("SinglePartition"),
      s"global rank must stay bucket-partitioned\n$p")
    assertWindowsPartitioned(p, "__rk_b")
  }

  test("d28: vocab rank is bucket-partitioned, and the only broadcast " +
    "HINTS are the ≤64-row bucket-offset frames — the vocabulary " +
    "itself attaches by shuffle equi-join") {
    val df = SparkEntry.queries("d28_prefix_join")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"),
      s"no stage of the prefix join may funnel to one task\n$p")
    p.split("\n").filter(_.contains("+- Window")).foreach { l =>
      assert(l.contains("__rk_b") || l.contains("doc_id"),
        s"unpartitioned window in the prefix-join plan: $l")
    }
    // Explicit hints survive into the optimized logical plan as join
    // hints; planner-chosen broadcasts (stats-driven, scale-safe) do
    // not carry one. Every hint must be on the __rk_b offset frame.
    df.queryExecution.optimizedPlan.toString.split("\n")
      .filter(_.contains("strategy=broadcast")).foreach { l =>
        assert(l.contains("__rk_b"),
          s"broadcast hint on a corpus-sized frame (vocab must " +
            s"shuffle): $l")
      }
  }

  test("d29: containment join keeps d28's scale discipline — no " +
    "single-partition stage, windows bucket- or doc-partitioned, " +
    "broadcast hints only on the ≤64-row bucket-offset frames") {
    val df = SparkEntry.queries("d29_containment_join")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"),
      s"no stage of the containment join may funnel to one task\n$p")
    p.split("\n").filter(_.contains("+- Window")).foreach { l =>
      assert(l.contains("__rk_b") || l.contains("doc_id"),
        s"unpartitioned window in the containment-join plan: $l")
    }
    df.queryExecution.optimizedPlan.toString.split("\n")
      .filter(_.contains("strategy=broadcast")).foreach { l =>
        assert(l.contains("__rk_b"),
          s"broadcast hint on a corpus-sized frame (vocab must " +
            s"shuffle): $l")
      }
  }

  test("d30: Ed-Join keeps the dedup-suite scale discipline — no " +
    "single-partition stage, the only window is per-doc, no " +
    "broadcast hint anywhere (gram counts attach by shuffle join)") {
    val df = SparkEntry.queries("d30_edit_distance_join")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"),
      s"no stage of the edit-distance join may funnel to one task\n$p")
    p.split("\n").filter(_.contains("+- Window")).foreach { l =>
      assert(l.contains("doc_id"),
        s"non-doc-partitioned window in the Ed-Join plan: $l")
    }
    df.queryExecution.optimizedPlan.toString.split("\n")
      .filter(_.contains("strategy=broadcast")).foreach { l =>
        assert(false,
          s"broadcast hint in the Ed-Join plan (the gram vocabulary " +
            s"scales with the corpus): $l")
      }
  }

  test("q73: weighted quantiles window over the tie-collapsed " +
    "(flag, value) frame only — partitioned by flag, never " +
    "single-partition") {
    val p = plan("q73_weighted_quantiles")
    assert(!p.contains("SinglePartition"),
      s"weighted quantiles must never funnel to one task\n$p")
    assertWindowsPartitioned(p, "flag")
  }

  test("q71: the histogram's global rank is bucket-partitioned — one " +
    "lineitem scan path, no single-partition stage anywhere") {
    val p = plan("q71_equidepth_hist")
    assert(!p.contains("SinglePartition"),
      s"equi-depth stats must never funnel to one task\n$p")
    assertWindowsPartitioned(p, "__rk_b")
  }

  test("t39: the vocabulary rank behind the Zipf fit is " +
    "bucket-partitioned — never a single-task window") {
    val p = plan("t39_zipf_slope")
    assertWindowsPartitioned(p, "__rk_b")
  }

  test("t40: document frequencies attach by SHUFFLE equi-join (the " +
    "vocab grows with the corpus), only the one-row N rides broadcast, " +
    "and the top-k window is doc-partitioned") {
    val df = SparkEntry.queries("t40_tfidf_keywords")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assertWindowsPartitioned(p, "doc_id")
    df.queryExecution.optimizedPlan.toString.split("\n")
      .filter(_.contains("strategy=broadcast")).foreach { l =>
        assert(l.contains("Join Cross"),
          s"broadcast hint on a keyed join (df must shuffle): $l")
      }
  }

  test("t37: the broadcast unigram side is pair-bounded — semi-joined " +
    "to the surviving pairs' words before the hint, never the whole " +
    "vocabulary") {
    val lp = SparkEntry.queries("t37_pmi")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert("Join LeftSemi".r.findAllIn(lp).length >= 2,
      s"both unigram joins must build on the semi-joined table\n$lp")
  }

  test("t27: PPS sampling's cumulative sum rides the bucketed Ranks " +
    "pass — no single-partition stage, every window bucket-partitioned") {
    val p = plan("t27_pps_sample")
    assert(!p.contains("SinglePartition"),
      s"the corpus-wide prefix sum must never funnel to one task\n$p")
    assertWindowsPartitioned(p, "__rk_b")
  }

  test("c10: curriculum phases' global rank + token cumsum ride the " +
    "bucketed Ranks pass — no single-partition stage, windows " +
    "bucket-partitioned") {
    val p = plan("c10_curriculum")
    assert(!p.contains("SinglePartition"),
      s"the corpus-wide rank/cumsum must never funnel to one task\n$p")
    assertWindowsPartitioned(p, "__rk_b")
  }

  test("r13 stats queries: events scan pruned to used columns, every " +
      "window partitioned by event_type") {
    Seq("q91_ks_test" -> Seq("event_type", "user_id", "value"),
      "q93_autocorr" -> Seq("event_type", "ts", "event_id", "value"),
      "q94_trimmed_mean" -> Seq("event_type", "value"))
      .foreach { case (q, cols) =>
        val p = plan(q)
        val read = "ReadSchema: struct<([^>]*)>".r
          .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
        val got = read.split(",").map(_.split(":")(0)).toSet
        assert(got == cols.toSet,
          s"$q must scan exactly $cols, got $got\n$p")
        assertWindowsPartitioned(p, "event_type")
      }
  }

  test("m14: keyframes — one documents scan, argmax partials fold " +
      "map-side (no raw frame rows reach the final exchange unreduced)") {
    val p = plan("m14_keyframes")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
    assert(p.contains("partial_max_by") || p.contains("partial_max"),
      s"per-partition partial argmax expected before the exchange\n$p")
    assertWindowsPartitioned(p, "id")
  }
}
