package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ScratchDirs
import graft.ops._
import graft.sources.Sources.table

/** Training-data pipeline operators over the `documents` and
  * `embeddings` fixtures: deduplication (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard / embedding cosine), similarity search (brute-force +
  * LSH ANN), text analysis, multimodal decode plumbing. */
object PipelineQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docs(spark, dir), col("text"), col("doc_id"))

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(docs(spark, dir), col("text"), col("doc_id"))

  def simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docs(spark, dir), col("text"), col("doc_id"))

  /** Banded SimHash pairing — exact (pigeonhole) for hamming ≤ bands-1,
    * so no n² pass; oracle-checked as d06. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(
      Dedup.simhash(docs(spark, dir), col("text"), col("doc_id")))

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(docs(spark, dir), col("text"), col("doc_id"))

  /** Transitive dedup clusters over the MinHash-LSH candidate pairs —
    * the keep-one-representative step downstream of pair generation. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.connectedComponents(
      Dedup.minhashCandidates(d, col("text"), col("doc_id")),
      d, col("doc_id"))
  }

  /** c40: PROVENANCE CHAIN — a content seal per pipeline stage (gate
    * → exact-dedup → train-split), each stage identified by its row
    * count and an ORDER-INDEPENDENT content hash (bit_xor of md5-
    * derived per-row longs — commutative, so partitioning and
    * arrival order can't perturb it; c07's seal idea lifted from one
    * artifact to the whole chain). A consumer re-derives any stage
    * and compares (n, hash) to prove it holds exactly the bytes the
    * pipeline card claims — the oracle does precisely that from the
    * raw table, so the hash match IS a provenance verification.
    * Every stage is one filter + one aggregate; nothing beyond the
    * gate's groupBy shuffles. */
  def provenanceChain(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashes.h60
    val rowHash = (d: DataFrame) => d.select(col("doc_id"),
      h60(concat(col("doc_id").cast("string"), lit(":"),
        md5(col("text")))).as("h"),
      col("text"))
    val s1 = rowHash(docs(spark, dir).filter(col("n_chars") >= 50))
    val keep = s1.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val s2 = s1.join(keep, Seq("doc_id"))
    val s3 = s2.filter(pmod(h60(col("doc_id").cast("string")),
      lit(10L)) < 8L)
    Seq(("1_gate", s1), ("2_dedup", s2), ("3_train", s3)).map {
      case (stage, d) =>
        d.agg(count(lit(1)).as("n_rows"),
          bit_xor(col("h")).as("content_hash"))
          .select(lit(stage).as("stage"), col("n_rows"),
            col("content_hash"))
    }.reduce(_ unionByName _)
  }

  /** c39: MULTI-TABLE CONSISTENT SNAPSHOT — the lakehouse isolation
    * property single-table time travel (c20) cannot give: two
    * versioned tables evolve through ALIGNED transactional commits
    * (each commit deletes customers and their orders together), and
    * the audit proves every aligned read (orders@v ⋈ customers@v) is
    * referentially clean while a TORN read (orders@1 ⋈ customers@3)
    * exposes the orphans cross-version mixing fabricates. Each read
    * is the manifest-pruned [[Lake.readVersioned]] scan; the oracle
    * reconstructs each snapshot's logical content from the base
    * tables, so the hash proves version isolation returns exactly
    * the committed state — per table, per version, and jointly. */
  def consistentSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val nShards = 8
    val ord = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val root = ScratchDirs.create("graft_snap")
    val (oDir, cDir) = (s"$root/orders", s"$root/customer")
    val m3 = pmod(col("o_orderkey"), lit(3L))
    val cm = pmod(col("o_custkey"), lit(10L))
    val km = pmod(col("c_custkey"), lit(10L))
    Lake.writeVersioned(ord.filter(m3 === 0), "o_orderkey", oDir, nShards)
    Lake.writeVersioned(cust, "c_custkey", cDir, nShards)
    def delOrders(f: org.apache.spark.sql.Column) = ord.filter(f)
      .select(col("o_orderkey"), lit(null).cast("long").as("o_custkey"),
        lit("delete").as("op"))
    def addOrders(f: org.apache.spark.sql.Column) = ord.filter(f)
      .withColumn("op", lit("upsert"))
    def delCust(f: org.apache.spark.sql.Column) = cust.filter(f)
      .select(col("c_custkey"),
        lit(null).cast("long").as("c_nationkey"),
        lit("delete").as("op"))
    // v2: one transaction — customers %10=0 leave, their orders too,
    // new orders arrive only for surviving customers.
    Lake.mergeVersioned(spark, oDir, "o_orderkey",
      addOrders(m3 === 1 && cm =!= 0)
        .unionByName(delOrders(m3 === 0 && cm === 0)), nShards)
    Lake.mergeVersioned(spark, cDir, "c_custkey", delCust(km === 0),
      nShards)
    // v3: customers %10=1 leave with their orders.
    Lake.mergeVersioned(spark, oDir, "o_orderkey",
      addOrders(m3 === 2 && cm =!= 0 && cm =!= 1)
        .unionByName(delOrders(m3 <= 1 && cm === 1)), nShards)
    Lake.mergeVersioned(spark, cDir, "c_custkey", delCust(km === 1),
      nShards)
    def audit(label: String, vo: Int, vc: Int): DataFrame = {
      val o = Lake.readVersioned(spark, oDir, vo)
      val c = Lake.readVersioned(spark, cDir, vc)
      o.agg(count(lit(1)).as("n_orders"))
        .crossJoin(c.agg(count(lit(1)).as("n_cust")))
        .crossJoin(o.join(c, col("o_custkey") === col("c_custkey"))
          .agg(count(lit(1)).as("n_join")))
        .select(lit(label).as("read"),
          lit(vo.toLong).as("v_orders"), lit(vc.toLong).as("v_cust"),
          col("n_orders"), col("n_cust"), col("n_join"),
          (col("n_orders") - col("n_join")).as("n_orphans"))
    }
    audit("aligned", 1, 1)
      .unionByName(audit("aligned", 2, 2))
      .unionByName(audit("aligned", 3, 3))
      .unionByName(audit("torn", 1, 3))
  }

  /** c38: REFERENTIAL-INTEGRITY AUDIT — the FK orphan scan a lake
    * runs after every ingest: for each declared child→parent edge,
    * the child row count, distinct key count, orphan key count
    * (distinct child keys with no parent) and the smallest orphan as
    * the repro handle. Each edge is one distinct-project + one
    * left-anti equi-join — the join keys are the tables' natural
    * hash keys, so at scale every edge is a co-partitionable
    * shuffle, and a clean edge costs one scan of each side. */
  def fkAudit(spark: SparkSession, dir: String): DataFrame = {
    val t = (n: String) => table(spark, dir, n)
    val edges = Seq(
      ("lineitem.l_orderkey->orders", t("lineitem"), "l_orderkey",
        t("orders"), "o_orderkey"),
      ("lineitem.l_partkey->part", t("lineitem"), "l_partkey",
        t("part"), "p_partkey"),
      ("lineitem.l_suppkey->supplier", t("lineitem"), "l_suppkey",
        t("supplier"), "s_suppkey"),
      ("orders.o_custkey->customer", t("orders"), "o_custkey",
        t("customer"), "c_custkey"),
      ("customer.c_nationkey->nation", t("customer"), "c_nationkey",
        t("nation"), "n_nationkey"),
      ("events.user_id->customer", t("events"), "user_id",
        t("customer"), "c_custkey"))
    edges.map { case (edge, child, ck, parent, pk) =>
      fkEdgeAudit(edge, child, col(ck), parent, col(pk))
    }.reduce(_ unionByName _)
  }

  /** One FK edge of [[fkAudit]] — the spec drives this with synthetic
    * orphans (the shipped fixture is referentially clean on all six
    * edges, so the orphan branch needs its own exercise). */
  def fkEdgeAudit(edge: String, child: DataFrame,
      ck: org.apache.spark.sql.Column, parent: DataFrame,
      pk: org.apache.spark.sql.Column): DataFrame = {
    val rows = child.agg(count(lit(1)).as("n_rows"))
    val keys = child.select(ck.cast("long").as("k")).distinct()
    val orphans = keys.join(
      parent.select(pk.cast("long").as("k")).distinct(),
      Seq("k"), "left_anti")
    keys.agg(count(lit(1)).as("n_keys")).crossJoin(rows)
      .crossJoin(orphans.agg(
        count(lit(1)).as("n_orphans"),
        min(col("k")).as("min_orphan")))
      .select(lit(edge).as("edge"), col("n_rows"), col("n_keys"),
        col("n_orphans"), coalesce(col("min_orphan"), lit(-1L))
          .as("min_orphan"))
  }

  /** c36: TYPO-CLUSTER CANONICALIZATION — the d30 edit-distance pairs
    * closed into transitive clusters ([[Dedup.connectedComponents]])
    * and resolved to a REMAP TABLE (doc → canonical member, longest
    * text wins, ties to the smaller id): the artifact an ingest
    * pipeline joins against to collapse OCR/typo variants to one
    * canonical record. Only multi-member clusters are emitted — the
    * actionable rows. The full chain (Ed-Join candidates → banded
    * verify → min-label propagation → per-cluster argmax) is
    * oracle-proven end-to-end against the naive pair join + recursive
    * CTE + window in DuckDB. */
  def typoCanonical(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val pairs = Dedup.editDistanceJoin(d, col("text"), col("doc_id"),
      col("lang"))
    val ids = d.filter(length(col("text")) >= 12)
    val cc = Dedup.connectedComponents(pairs, ids, col("doc_id"))
    val sized = cc.join(
      d.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val canon = sized.groupBy(col("cluster"))
      .agg(count(lit(1)).as("csize"),
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
          .as("canonical_id"))
    cc.join(canon, Seq("cluster"))
      .filter(col("csize") >= 2)
      .select(col("doc_id"), col("canonical_id"), col("cluster"),
        col("csize"))
  }

  /** d18: cluster-representative selection — the keep policy that runs
    * AFTER near-dup clustering (CCNet/RefinedWeb keep the best member,
    * not the first seen): per d07 connected component, keep the
    * LONGEST doc, ties to the smaller doc_id. One broadcast-size
    * rollup over the cluster table; the clustering itself keeps d07's
    * checkpointed label-propagation shape. */
  def clusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val clusters = Dedup.connectedComponents(
      Dedup.minhashCandidates(d, col("text"), col("doc_id")),
      d, col("doc_id"))
    clusters
      .join(d.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"),
          struct(col("n_chars"), (-col("doc_id")).as("negid"))).as("keep_id"),
        max(col("n_chars")).as("keep_chars"))
  }

  def embedNearDup(spark: SparkSession, dir: String): DataFrame =
    Vectors.nearDupPairs(embs(spark, dir), col("vec_id"), col("embedding"),
      threshold = 0.45)

  /** LSH-bucketed variant of d05 — same threshold, verified only within
    * hyperplane buckets (4 planes = 16 buckets: ~16× fewer dot products
    * than all-pairs at sf0.1, still non-empty at the oracle SF). */
  def embedNearDupLsh(spark: SparkSession, dir: String): DataFrame =
    Vectors.nearDupPairsLsh(embs(spark, dir), col("vec_id"),
      col("embedding"), threshold = 0.45, nPlanes = 4)

  /** Two-stage dedup: MinHash-LSH candidate pairs verified by exact
    * 3-gram Jaccard — LSH false positives surface as dup=false rows. */
  def lshVerify(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshVerifiedPairs(docs(spark, dir), col("text"), col("doc_id"))

  /** d28: EXACT set-similarity join via prefix filtering
    * ([[Dedup.prefixJaccardJoin]]) — Jaccard ≥ 0.5 pairs with no
    * all-pairs join and no hashing loss; the oracle is the naive
    * inverted-list join, so the hash match proves losslessness. */
  def prefixJoin(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardJoin(docs(spark, dir), col("text"), col("doc_id"))

  /** d29: overlap-coefficient containment join, θ = 0.8
    * ([[Dedup.overlapContainmentJoin]]). */
  def containmentJoin(spark: SparkSession, dir: String): DataFrame =
    Dedup.overlapContainmentJoin(docs(spark, dir), col("text"),
      col("doc_id"))

  /** d30: exact Levenshtein ≤ 2 self-join on the 32-char lede, within
    * language, via Ed-Join prefix filtering
    * ([[Dedup.editDistanceJoin]]). */
  def editDistanceJoin(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistanceJoin(docs(spark, dir), col("text"), col("doc_id"),
      col("lang"))

  /** d33: DEDUP CLUSTER-SIZE HISTOGRAM — the one-page report a dedup
    * run is judged by: per cluster size, how many clusters, how many
    * documents they hold, and how many would be removed under
    * keep-one (size − 1 each). Sizes come from d07's proven
    * connected components over the LSH pair graph; the histogram is
    * two cheap aggregations on the (doc → cluster) table. Singleton
    * clusters are included (size 1, removes 0) — the report's
    * denominator. */
  def clusterSizeHistogram(spark: SparkSession, dir: String)
      : DataFrame = {
    val d = docs(spark, dir)
    val cc = Dedup.connectedComponents(
      Dedup.minhashCandidates(d, col("text"), col("doc_id")),
      d, col("doc_id"))
    cc.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("csize"), col("n_clusters"),
        (col("csize") * col("n_clusters")).as("n_docs"),
        ((col("csize") - 1L) * col("n_clusters")).as("n_removed"))
  }

  /** d32: minhash estimator calibration — micro-averaged exact
    * Jaccard per agreement level ([[Dedup.minhashFidelity]]). */
  def minhashFidelity(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashFidelity(docs(spark, dir), col("text"), col("doc_id"))

  /** d31: corpus survival per Jaccard threshold
    * ([[Dedup.dedupPressure]]). */
  def dedupPressure(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupPressure(docs(spark, dir), col("text"), col("doc_id"))

  /** d27: the measured precision/recall table per LSH banding
    * ([[Dedup.bandTuningTable]]) — 16 minhashes banded as 8×2, 4×4,
    * 2×8 against exact Jaccard ≥ 0.5 truth. */
  def bandTuning(spark: SparkSession, dir: String): DataFrame =
    Dedup.bandTuningTable(docs(spark, dir), col("text"), col("doc_id"))

  /** Benchmark decontamination: docs from source 'src0' stand in for the
    * held-out eval suite; every other doc is scored by 3-gram overlap
    * against it. The bench shingle set is broadcast (eval suites are
    * tiny next to a 100 TB corpus). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    Dedup.decontaminate(docs(spark, dir), col("text"), col("doc_id"),
      col("source") === "src0")

  /** Bloom-filter decontamination with the measured false-positive
    * audit — d16. mBits=4096 deliberately small so real FPs appear at
    * fixture scale and the audit has something to count. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame =
    Dedup.bloomDecontaminate(docs(spark, dir), col("text"), col("doc_id"),
      col("source") === "src0")

  /** d20: fuzzy (near-dup) decontamination — bipartite MinHash-LSH
    * candidates train×bench, exact-Jaccard verified at 0.5. */
  def fuzzyDecontaminate(spark: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyDecontaminate(docs(spark, dir), col("text"), col("doc_id"),
      col("source") === "src0")

  /** Positional 8-word-window duplicate-passage stats (exact substring
    * dedup signal, first-writer-keeps). */
  def windowDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.windowDupStats(docs(spark, dir), col("text"), col("doc_id"))

  /** Maximal duplicated spans (≥ 2 consecutive duplicated 8-word
    * windows) — the excisable-span output of exact substring dedup. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(docs(spark, dir), col("text"), col("doc_id"))

  /** d19: the spans actually EXCISED — cleaned text + removal stats. */
  def removeDupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.removeDupSpans(docs(spark, dir), col("text"), col("doc_id"))

  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.annTopK(e, e.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"), k = 10)
  }

  /** d21: snapshot change-data-feed. The "old" and "new" corpus
    * versions are carved deterministically from the fixture (old drops
    * ids ≡ 0 mod 5, new drops ids ≡ 0 mod 7 and edits ids ≡ 0 mod 3)
    * so every status class is populated and the oracle reproduces the
    * same carving. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val old = d.filter(col("doc_id") % 5 =!= 0)
    val nw = d.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    Dedup.snapshotDiff(old, nw, col("text"), col("doc_id"))
  }

  /** s24: hybrid search — t22's BM25 top-10 fused with a dense MIPS
    * top-10 by reciprocal-rank fusion. Each BM25 qid is pinned to a
    * query vector (b1→vec 1, b2→2, b3→3); the embedding id space is
    * the doc id space, so both retrievers rank the same documents. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sparse = Retrieval.bm25(docs(spark, dir), col("text"),
        col("doc_id"), bm25Queries)
      .select(col("qid"), col("doc_id"), col("rank"))
    val e = embs(spark, dir)
    val qmap = Seq(("b1", 1L), ("b2", 2L), ("b3", 3L)).toDF("bqid", "vid")
    val dense = Vectors.mipsTopK(e, e.filter(col("vec_id").isin(1L, 2L, 3L)),
        col("vec_id"), col("embedding"), k = 10)
      .join(broadcast(qmap), col("qid") === col("vid"))
      .select(col("bqid").as("qid"), col("nid").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(sparse, dense, k = 10)
  }

  /** s40: exact MIPS through the Cauchy–Schwarz norm-bound prune —
    * [[Vectors.mipsNormPruneTopK]]'s bound-then-verify serving path,
    * proven lossless against the brute-force oracle (identical hash =
    * the pruned pass returned the exact top-k). VectorServeSpec
    * measures the survivor fraction on the fixture and pins parity
    * with [[Vectors.mipsTopK]] on randomized corpora. */
  def mipsNormPrune(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.mipsNormPruneTopK(e, e.filter(col("vec_id") < 8),
      col("vec_id"), col("embedding"), k = 10)
  }

  /** s23: late-interaction MaxSim — labels are multi-vector "documents",
    * vec_id < 5 is the query bag; integer MaxSim, exact ranking. */
  def maxSim(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.maxSimTopK(e, e.filter(col("vec_id") < 5), col("vec_id"),
      col("embedding"), col("label"), k = 5)
  }

  /** s22: label-filtered exact kNN — metadata-filtered vector search,
    * where the filter is the equi-join key rather than a post-pass. */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.annTopKFiltered(e, e.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"), col("label"), k = 10)
  }

  /** LSH-bucketed ANN with 1-bit multi-probe — the 100 TB scale path.
    * Deterministic buckets + probe set make it fully oracle-checked. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.annLshTopK(e, e.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"), k = 10, dims = 64)
  }

  /** Exact MIPS top-k — rank by raw inner product, not cosine. */
  def mips(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.mipsTopK(e, e.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"), k = 10)
  }

  /** MIPS via the Neyshabur–Srebro augmented-cosine LSH reduction. */
  def mipsLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.mipsLshTopK(e, e.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"), k = 10, dims = 64)
  }

  /** IVF-flat ANN — probe one centroid cell, exact rerank inside. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.annIvfTopK(e, e.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"), k = 10)
  }

  /** IVF multi-probe (nProbe = 2) over the same sampled centroid model
    * as s03 — the recall lever, s13. */
  def annIvfProbed(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val p = Vectors.prepared(e, col("vec_id"), col("embedding"))
    val cents = p.orderBy(col("vid")).limit(16)
      .select(col("vid").as("cid"), col("iv").as("civ"), col("n2").as("cn2"))
    Vectors.annIvfTopKProbed(e, e.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"), k = 10, cents, nProbe = 2)
  }

  /** s38: the s13 index's cell-imbalance report
    * ([[Vectors.cellImbalance]]) — λ as exact integers + ratio. */
  def cellImbalance(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val p = Vectors.prepared(e, col("vec_id"), col("embedding"))
    val cents = p.orderBy(col("vid")).limit(16)
      .select(col("vid").as("cid"), col("iv").as("civ"),
        col("n2").as("cn2"))
    Vectors.cellImbalance(e, col("vec_id"), col("embedding"), cents)
  }

  /** s37: recall@10 per nProbe ∈ {1,2,4,8} over the s13 IVF index —
    * the measured serving-dial curve ([[Vectors.probeRecallCurve]]). */
  def probeRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val p = Vectors.prepared(e, col("vec_id"), col("embedding"))
    val cents = p.orderBy(col("vid")).limit(16)
      .select(col("vid").as("cid"), col("iv").as("civ"),
        col("n2").as("cn2"))
    Vectors.probeRecallCurve(e, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 10, cents, Seq(1, 2, 4, 8))
  }

  /** s43: JL random-sign projection recall ladder, m ∈ {4,8,16,32}
    * ([[Vectors.jlRecallLadder]]). */
  def jlRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.jlRecallLadder(e, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"))
  }

  /** Symmetric int8 quantization of the embedding corpus — the ANN
    * index compression step, with exact-integer code digests. */
  def quantize(spark: SparkSession, dir: String): DataFrame =
    Vectors.quantizeInt8(embs(spark, dir), col("vec_id"), col("embedding"))

  /** Recall@10 of the quantized search paths (SQ8, 1-bit Hamming) vs
    * the exact baseline — s18: what each compression step costs. */
  def quantRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.quantRecallAudit(e, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 10, nBits = 48, dims = 64)
  }

  /** Binary-signature Hamming ANN — 48 sign bits per vector, one
    * xor+popcount per candidate. s16. */
  def annHamming(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.annHammingTopK(e, e.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"), k = 10, nBits = 48, dims = 64)
  }

  /** k-NN graph construction — s17: EVERY corpus vector is a query
    * (the offline step NN-descent/HNSW builds refine; also the input
    * graph of graph-based SemDeDup variants). Same multi-probe LSH
    * machinery as s02, but the query side is the corpus itself, so
    * nothing broadcasts: candidates come from a symmetric shuffle
    * equi-join on the bucket id — each side carries O(N·probes) rows
    * sharded by bucket, the 100 TB shape for all-pairs-ish work. The
    * graph is best-effort per LSH contract: vectors whose probe set
    * finds < k candidates emit fewer edges (NN-descent's refinement
    * feeds on exactly this). */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.annLshTopK(e, e, col("vec_id"), col("embedding"),
      k = 5, nPlanes = 8, dims = 64)
  }

  /** s19: one NN-descent round over the s17 LSH seed graph, with the
    * recall gain measured against the exact baseline in the s09/s18
    * audit pattern. The seed graph is computed ONCE (localCheckpoint —
    * it feeds the symmetrize/expand joins AND the audit) and the audit
    * samples 25 query nodes, so the only exact-scoring stage is
    * sample-sized; the refinement itself is k-bounded per node
    * ([[graft.ops.Vectors.nnDescentRound]]), never corpus-quadratic. */
  def knnRefine(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val raw = Vectors.annLshTopK(e, e, col("vec_id"), col("embedding"),
        k = 5, nPlanes = 8, dims = 64)
      .select(col("qid"), col("nid")).localCheckpoint()
    val refined = Vectors.nnDescentRound(e, col("vec_id"), col("embedding"),
      raw, k = 5)
    val exact = Vectors.annTopK(e, e.filter(col("vec_id") < 25),
        col("vec_id"), col("embedding"), 5)
      .select(col("qid"), col("nid"))
    exact
      .join(raw.withColumn("in_raw", lit(1L)), Seq("qid", "nid"), "left")
      .join(refined.select(col("qid"), col("nid"), lit(1L).as("in_ref")),
        Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("in_raw"), lit(0L))).as("raw_hits"),
        sum(coalesce(col("in_ref"), lit(0L))).as("refined_hits"))
      .select(col("qid"), col("n_exact"), col("raw_hits"),
        col("refined_hits"),
        (col("raw_hits").cast("double") / lit(5.0)).as("raw_recall"),
        (col("refined_hits").cast("double") / lit(5.0)).as("refined_recall"))
  }

  /** s39: the SQ bit-width ladder (2/4/6/8 bits) — corpus-wide
    * quantization error + recall@10 per width, one measured table. */
  def sqLadder(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.sqLadderAudit(e, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 10)
  }

  /** SQ8 quantized brute-force ANN — search over the int8 codes; the
    * per-vector scale cancels in the reconstructed cosine. s15. */
  def annSq8(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.annSq8TopK(e, e.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"), k = 10)
  }

  /** Per-dimension embedding stats (normalization bounds) — s05. */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame =
    Vectors.dimStats(embs(spark, dir), col("embedding"))

  /** Product-quantization encode: 64 dims → 4 codes from 16-centroid
    * per-subspace codebooks, exact int64 distances — s06. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    Vectors.pqEncode(embs(spark, dir), col("vec_id"), col("embedding"))

  /** PQ asymmetric-distance top-10 for the first 10 vectors as queries
    * — the compressed-index ANN search path — s07. */
  def pqAdc(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.pqAdcTopK(e, e.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"))
  }

  /** IVFADC (coarse cells + PQ-coded residuals + cell-local ADC scan)
    * for the first 10 vectors as queries — s14. */
  def ivfAdc(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.ivfAdcTopK(e, e.filter(col("vec_id") < 10), col("vec_id"),
      col("embedding"))
  }

  /** s20: IVFADC shortlist-50 + exact rerank — the two-stage serving
    * arrangement (compressed scan, then full vectors for the
    * survivors only). */
  def ivfAdcRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.ivfAdcRerankTopK(e, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"))
  }

  /** s21: radius search — every corpus vector within squared distance
    * r² of each query, exact via lossless IVF cell pruning (the ANN
    * query type top-k cannot emulate). r² ≈ the 1st percentile of the
    * pairwise distance² distribution at this int scale. */
  def rangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.rangeSearch(e, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), r2 = 1400000000000L)
  }

  /** Recall@10 of the LSH and IVF ANN paths vs the exact baseline for
    * the first-10-vector query set — s09. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.annRecallAudit(e, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 10, dims = 64)
  }

  /** Two-round exact-integer Lloyd k-means over the embedding corpus —
    * the centroid trainer for the IVF/PQ quantizers — s08. */
  def kmeans(spark: SparkSession, dir: String): DataFrame =
    Vectors.kmeansCells(embs(spark, dir), col("vec_id"), col("embedding"))

  /** s41: OUT-OF-DISTRIBUTION scan — the top-50 vectors farthest
    * (exact int64 L2²) from their assigned trained centroid: the
    * embedding-space junk detector a curation pipeline runs after
    * clustering (mislabeled scrapes, encoder failures and genuinely
    * novel content all surface as far-from-every-centroid points —
    * the review queue before they contaminate a cell's statistics).
    * Reuses [[graft.ops.Vectors.kmeansFit]]'s s08 model verbatim —
    * training leaks nothing new into this plan — and scores each
    * member against its own centroid via the native sqdist kernel
    * (one broadcast join, map-side). Global top-k is TakeOrdered
    * (per-partition prune, k-row merge); the closing row_number runs
    * over the 50-row survivors only. */
  def oodScan(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val (cents, _) = Vectors.kmeansFit(e, col("vec_id"),
      col("embedding"), k = 16, iters = 2)
    val scored = Vectors.ivfInvertedLists(e, col("vec_id"),
        col("embedding"), cents)
      .join(broadcast(cents), Seq("cid"))
      .withColumn("d2", Vectors.sqDist(col("iv"), col("civ")))
      .select(col("vid").as("vec_id"), col("cid").as("cell"), col("d2"))
    val top = scored.orderBy(col("d2").desc, col("vec_id")).limit(50)
    top.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("d2").desc, col("vec_id"))))
  }

  /** IVF search over the TRAINED k-means centroids — the end-to-end
    * train-then-search pipeline (s08's model consumed by s03's
    * machinery), proving trained centroids plug into the identical
    * quantizer plan — s10. */
  def annIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val (cents, _) = Vectors.kmeansFit(e, col("vec_id"), col("embedding"),
      k = 16, iters = 2)
    Vectors.annIvfTopKWith(e, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 10, cents)
  }

  /** s25: ANN index persistence — the trained IVF model written as a
    * parquet ARTIFACT and the search run from the stored artifact, not
    * the in-plan model (the FAISS write_index/read_index lifecycle:
    * train once, serve many). The index for an IVF is just a table —
    * (cid, centroid ints, norm) rows — so persistence is a plain
    * columnar write and the serving job's plan starts from a scan of
    * the index + a scan of the corpus, with NO training stages. Must
    * hash-match s10 (same model, in-plan) — proving the artifact
    * round-trips losslessly. At 100 TB this is the only sane shape:
    * training reads the corpus once offline; query jobs broadcast the
    * stored group-sized index. */
  def annIvfPersisted(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val (cents, _) = Vectors.kmeansFit(e, col("vec_id"), col("embedding"),
      k = 16, iters = 2)
    val idxDir = ScratchDirs.create("graft_ivf_index")
    cents.write.mode("overwrite").parquet(idxDir)
    val stored = spark.read.parquet(idxDir)
    Vectors.annIvfTopKWith(e, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 10, stored)
  }

  /** s26: incremental index ADD — the FAISS `add()` lifecycle on top of
    * s25's persistence: the index is trained ONCE on the base corpus
    * (centroids frozen, inverted lists stored); newly-arriving vectors
    * are then assigned against the FROZEN stored centroids and
    * APPENDED to the lists — no retraining, no rewrite of existing
    * lists — and serving runs over the merged lists. The oracle builds
    * the same-centroid index over the full corpus from scratch, so
    * hash-equality proves append ≡ rebuild (true because per-vector
    * assignment depends only on the frozen centroids — exactly the
    * invariant that makes IVF add() sound in FAISS).
    *
    * At 100 TB this is the index-maintenance mode that matters: the
    * nightly arrivals batch is assigned (map-side vs broadcast
    * centroids) and appended as new parquet files in the lists
    * partition layout; the base corpus is never re-read. Quantizer
    * drift under sustained adds is the documented trade-off — FAISS
    * answers with periodic retrain, which here is just re-running the
    * s25 training job. */
  def annIndexAdd(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val base = e.filter(col("vec_id") % 10 =!= 7)
    val arrivals = e.filter(col("vec_id") % 10 === 7)
    val (cents, _) = Vectors.kmeansFit(base, col("vec_id"),
      col("embedding"), k = 16, iters = 2)
    val idxDir = ScratchDirs.create("graft_ivf_add")
    cents.write.mode("overwrite").parquet(s"$idxDir/centroids")
    Vectors.ivfInvertedLists(base, col("vec_id"), col("embedding"), cents)
      .write.mode("overwrite").parquet(s"$idxDir/lists")
    val storedCents = spark.read.parquet(s"$idxDir/centroids")
    Vectors.ivfInvertedLists(arrivals, col("vec_id"), col("embedding"),
        storedCents)
      .write.mode("append").parquet(s"$idxDir/lists")
    Vectors.ivfServeTopK(spark.read.parquet(s"$idxDir/lists"), storedCents,
      e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"), k = 10)
  }

  /** s27: graph-traversal ANN — the stored kNN graph served by a
    * fixed-depth beam search ([[graft.ops.Vectors.graphSearchTopK]]).
    * The graph is built ONCE (exact degree-8 here; the s17→s19 LSH +
    * NN-descent path at corpus scale), persisted as a parquet artifact
    * like s25's inverted lists, and each query costs
    * `1 + degree + beam·degree` exact scores — corpus-size-independent
    * serving, the HNSW economics next to IVF's cell-sized probes. */
  def graphAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val idxDir = ScratchDirs.create("graft_graph_ann")
    Vectors.knnGraphEdgesBlocked(e, col("vec_id"), col("embedding"),
        degree = 8)
      .write.mode("overwrite").parquet(s"$idxDir/graph")
    Vectors.graphSearchTopK(e, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"),
      spark.read.parquet(s"$idxDir/graph"), beam = 4, k = 5)
  }

  /** SemDeDup-style cluster-then-dedup over embeddings: within-cell
    * cosine ≥ 0.3 against an earlier id ⇒ dropped — d12. nCells pinned
    * to 16 so the fixture oracle is stable; production uses the
    * auto-√n default (see [[Vectors.semDedup]]'s scaling contract). */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    Vectors.semDedup(embs(spark, dir), col("vec_id"), col("embedding"),
      nCells = 16)

  /** SemDeDup over the TRAINED k-means cells — the full
    * cluster-then-dedup pipeline of the paper (train the clustering,
    * partition by it, drop within-cell near-dups) — d14. k pinned to 16
    * for the fixture oracle; at corpus scale train with k ≈ √n or more
    * (SemDeDup's own regime — see [[Vectors.semDedupWith]]). */
  def semDedupTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val (cents, _) = Vectors.kmeansFit(e, col("vec_id"), col("embedding"),
      k = 16, iters = 2)
    Vectors.semDedupWith(e, col("vec_id"), col("embedding"),
      threshold = 0.3, cents)
  }

  /** MinHash-estimator audit: signature-agreement Jaccard estimate vs
    * exact Jaccard for every LSH candidate pair — d13. */
  def minhashEstimate(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashEstimatePairs(docs(spark, dir), col("text"), col("doc_id"))

  /** Training-mix assembly composite — stratified language rebalance
    * (t09's caps) feeding greedy context-window packing (t12's walk)
    * as ONE plan: the sampled doc set hash-shards and packs without
    * materializing between stages — c02. */
  def trainMix(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val sampled = TextAnalysis.stratifiedSample(d, col("doc_id"),
      col("lang"), Map("en" -> 5000, "es" -> 7500, "fr" -> 7500))
      .select(col("doc_id"))
    val toks = d.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    TextAnalysis.packSequences(sampled.join(toks, Seq("doc_id")),
      col("doc_id"), col("n_tokens"))
  }

  /** End-to-end curation composite — the whole pre-training data path as
    * ONE declarative plan: quality gate (≥10 whitespace tokens) →
    * exact-dedup first-writer survivors → benchmark decontamination
    * (drop ≥0.5 3-gram overlap against the src0 eval split) →
    * deterministic train/val/test assignment. Every stage is an
    * already-oracle-checked operator (t03 / d01 / d09 / t07); this
    * query proves they COMPOSE inside one Catalyst plan — survivor and
    * clean sets reach the gated stream as semi joins on doc_id, the
    * split assignment is an inline expression, and nothing materializes
    * between stages. The quality gate guarantees ≥8 shingles per doc,
    * so every gated doc carries a decontamination verdict. */
  def curate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val isBench = col("source") === "src0"
    val train = d.filter(!isBench)
    val keep = Dedup.exactGroups(train, col("text"), col("doc_id"))
      .select(col("keep_id").as("doc_id"))
    val clean = Dedup.decontaminate(d, col("text"), col("doc_id"), isBench)
      .filter(!col("contaminated")).select(col("doc_id"))
    val (bucket, splitCol) = TextAnalysis.splitCols(col("doc_id"))
    train
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"))
      .filter(col("ws_tokens") >= 10)
      .join(keep, Seq("doc_id"), "left_semi")
      .join(clean, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("ws_tokens"),
        bucket.as("bucket"), splitCol.as("split"))
  }

  /** c05: INCREMENTAL curation refresh — d21's snapshot-diff primitive
    * driving c01's curation as a delta computation, the q33
    * incremental-MV idea applied to the whole curation pipeline. The
    * previous run's per-doc feature artifact (fingerprint, token count,
    * contamination verdict) is stored; when the next snapshot arrives,
    * per-doc features are recomputed ONLY for docs whose fingerprint
    * changed or that are new — unchanged docs reuse their stored row —
    * and the group-level reductions (dedup keep selection, gates,
    * split) then run over the artifact table, which carries no text.
    * The oracle is the FULL recompute on the new snapshot, so
    * hash-equality PROVES refresh ≡ recompute.
    *
    * Valid-reuse argument: every per-doc feature is a function of
    * (doc text, bench shingle set) only; the bench suite is a fixed
    * external artifact (all src0 docs, unmodified in both snapshots),
    * so an unchanged fingerprint implies unchanged features. Group
    * membership (keep = min id per fp group) is NOT carried forward —
    * an added doc can join an existing group — so it is recomputed,
    * but over the fingerprint-sized artifact, never the corpus.
    *
    * Scale shape at 100 TB: the refresh reads text only for the delta
    * (shingling + the bench join are delta-sized); the carried-forward
    * side is an artifact scan of (id, fp, small ints); the only
    * corpus-wide pass is one md5 to detect change — the minimum any
    * content-addressed diff needs. */
  def incrementalCurate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val bench = d.filter(col("source") === "src0")
      .select(col("doc_id"), col("text"))
    def withBench(train: DataFrame) =
      train.select(col("doc_id"), col("text"), lit(false).as("is_bench"))
        .unionByName(bench.select(col("doc_id"), col("text"),
          lit(true).as("is_bench")))
    def features(train: DataFrame): DataFrame = {
      val contam = Dedup.decontaminate(withBench(train), col("text"),
          col("doc_id"), col("is_bench"))
        .select(col("doc_id"), col("contaminated"))
      train.select(col("doc_id"), md5(col("text")).as("fp"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"))
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"), col("fp"), col("ws_tokens"),
          coalesce(col("contaminated"), lit(false)).as("contaminated"))
    }
    val oldTrain = d.filter(col("source") =!= "src0" &&
      col("doc_id") % 5 =!= 0).select(col("doc_id"), col("text"))
    val newTrain = d.filter(col("source") =!= "src0" &&
        col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    // Previous run: features on the OLD snapshot, stored as the artifact.
    val artDir = ScratchDirs.create("graft_curate_artifact")
    features(oldTrain).write.mode("overwrite").parquet(artDir)
    val stored = spark.read.parquet(artDir)
    // Refresh: one cheap md5 pass detects change; (doc_id, fp) matches
    // reuse the stored row, the rest (added/changed) compute fresh.
    val newFps = newTrain.select(col("doc_id"), md5(col("text")).as("fp"))
    val reused = newFps.join(stored, Seq("doc_id", "fp"), "inner")
    val delta = newTrain.join(
      newFps.join(stored, Seq("doc_id", "fp"), "left_anti")
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val artNew = reused
      .select(col("doc_id"), col("fp"), col("ws_tokens"),
        col("contaminated"))
      .unionByName(features(delta))
    // Group-level reductions over the text-free artifact.
    val keep = artNew.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val (bucket, splitCol) = TextAnalysis.splitCols(col("doc_id"))
    artNew.filter(col("ws_tokens") >= 10 && !col("contaminated"))
      .join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("ws_tokens"),
        bucket.as("bucket"), splitCol.as("split"))
  }

  /** c03: train/eval leakage audit — did the content-hash dedup miss
    * anything that the hash SPLIT then scattered across the boundary?
    * Composes t07's content-free split with d01's fingerprints: an
    * eval doc "leaks" iff its exact text fingerprint also appears in
    * train. The check every training run should ship with — split
    * assignment is keyed on doc_id, so byte-identical duplicates land
    * on BOTH sides unless dedup ran first.
    *
    * Scale shape: one scan; fingerprints + split are map-side
    * expressions; the only shuffle is the fp equi-join of the ~5%
    * eval slice against the train fingerprint set (NOT broadcast — the
    * train side grows with the corpus), then a 2-row rollup. */
  def leakageAudit(spark: SparkSession, dir: String): DataFrame = {
    val (_, splitCol) = TextAnalysis.splitCols(col("doc_id"))
    val d = docs(spark, dir).select(col("doc_id"),
      md5(col("text")).as("fp"), splitCol.as("split"))
    val trainFps = d.filter(col("split") === "train")
      .select(col("fp")).distinct().withColumn("in_train", lit(1))
    d.filter(col("split") =!= "train")
      .join(trainFps, Seq("fp"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("in_train"), lit(0))).cast("long").as("n_leaked"))
      .select(col("split"), col("n_docs"), col("n_leaked"),
        (col("n_leaked").cast("double") / col("n_docs").cast("double"))
          .as("leak_ratio"))
  }

  /** c04: dataset card — the per-(lang, source) corpus report every
    * released training set ships with (docs, tokens, chars, exact-dup
    * rate, quality-gate pass rate), computed as ONE Catalyst plan over
    * ONE scan of the corpus. Composes t03's token counts, d01's
    * fingerprints and t15's Gopher keep column — the same expressions,
    * so the card's numbers are definitionally consistent with the
    * pipeline stages they summarize.
    *
    * Scale shape: dup attribution needs occurrence counts of each
    * content hash ACROSS the whole corpus credited back to each doc's
    * own (lang, source) cell — a window count over the fp partition
    * (shuffle 1, by fp), then the card rollup (shuffle 2, by the
    * ~|langs|×|sources| cell key). No self-join, no second scan, and
    * the final table is card-sized regardless of corpus size. Rates
    * are single divisions of exact longs — bit-deterministic. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text")))
    docs(spark, dir).select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        TextAnalysis.gopherKeep(col("text"), minStopHits = 1).as("keep"),
        count(lit(1)).over(byFp).as("fp_cnt"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("fp_cnt") > 1, 1L).otherwise(0L)).as("dup_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("gate_pass"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("total_tokens"), col("total_chars"), col("dup_docs"),
        col("gate_pass"),
        (col("dup_docs").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"),
        (col("gate_pass").cast("double") / col("n_docs").cast("double"))
          .as("pass_rate"))
  }

  /** d17: near-dup METHOD-AGREEMENT audit — MinHash-LSH candidates vs
    * banded SimHash pairs over the same corpus, as pair-set overlap
    * counts + Jaccard. The two detectors see different similarity
    * (set-resemblance vs weighted-token angle), so their agreement is
    * the practical dial for "do we trust one method alone at this
    * threshold" — the d13/s09/t14 audit pattern applied across
    * methods. One full-outer join of two already-bucketed pair sets;
    * both pipelines keep their own scale shapes. */
  def dedupAgreement(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val m = Dedup.minhashCandidates(d, col("text"), col("doc_id"))
      .select(col("da"), col("db")).withColumn("mh", lit(1L))
    val s = Dedup.simhashPairs(Dedup.simhash(d, col("text"), col("doc_id")))
      .select(col("da"), col("db")).withColumn("sh", lit(1L))
    m.join(s, Seq("da", "db"), "full")
      .agg(sum(coalesce(col("mh"), lit(0L))).as("n_minhash"),
        sum(coalesce(col("sh"), lit(0L))).as("n_simhash"),
        sum(coalesce(col("mh"), lit(0L)) * coalesce(col("sh"), lit(0L)))
          .as("n_both"))
      .select(col("n_minhash"), col("n_simhash"), col("n_both"),
        (col("n_both").cast("double") /
          (col("n_minhash") + col("n_simhash") - col("n_both"))
            .cast("double")).as("pair_jaccard"))
  }

  /** Temperature-based (α=1/2) mixture sampling toward ~200 docs —
    * t19. */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.temperatureSample(docs(spark, dir), col("doc_id"),
      col("source"), totalTarget = 200L)

  /** Per-source vocabulary / Zipf-head statistics — t18. */
  def vocabStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabStats(docs(spark, dir), col("text"), col("source"))

  def langId(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), col("lang"),
      TextAnalysis.langId(col("text")).as("pred"))

  def quality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityMetrics(docs(spark, dir), col("text"), col("doc_id"))

  /** Gopher-rule hard gates (doc-level subset) — t15. minStopHits is
    * calibrated to 1 for the synthetic fixture (its docs contain at
    * most one DISTINCT essential-English stopword, so the paper's
    * threshold of 2 would make pass_stops vacuously false and stop
    * exercising the gate); the API default stays at the paper's 2. */
  def gopher(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherGates(docs(spark, dir), col("text"), col("doc_id"),
      minStopHits = 1)

  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(docs(spark, dir), col("text"), col("doc_id"))

  /** t24: overlapping context-window chunking (64-token windows every
    * 48 tokens) — the RAG / long-doc training-prep step. */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkDocs(docs(spark, dir), col("text"), col("doc_id"),
      window = 64, stride = 48)

  /** t20: CCNet per-language quality terciles over the t13 bigram LM. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.ccnetBuckets(docs(spark, dir), col("text"), col("doc_id"),
      col("lang"))

  /** t21: per-doc novel 3-gram ratio vs global first occurrence. */
  def noveltyRatio(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.noveltyRatio(docs(spark, dir), col("text"), col("doc_id"))

  /** t17: DSIR importance weights toward the English slice — `lang =
    * 'en'` plays the target domain, the whole corpus the raw crawl. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.dsirWeights(docs(spark, dir), col("text"), col("doc_id"),
      col("lang") === "en")

  /** t16: PII scrub. The synthetic corpus contains no digits at all,
    * so the wrapper first plants a deterministic contact line
    * (id-derived email / IPv4 / phone) in two of every three docs —
    * the planting is part of the query, mirrored verbatim in the
    * oracle, so the detect/redact path is verified against real hits
    * AND untouched zero-hit rows. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val contact = concat(col("text"),
      lit(" contact u"), col("doc_id").cast("string"),
      lit("@mail.example node 10."),
      (col("doc_id") % 250).cast("string"), lit("."),
      ((col("doc_id") * 7) % 250).cast("string"), lit("."),
      (col("doc_id") % 10).cast("string"), lit(" tel 555-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-0199"))
    val seeded = d.withColumn("pii_text",
      when(col("doc_id") % 3 =!= 0, contact).otherwise(col("text")))
    TextAnalysis.piiRedact(seeded, col("pii_text"), col("doc_id"))
  }

  def topTerms(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTerms(docs(spark, dir), col("text"), col("doc_id"))

  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashSplit(docs(spark, dir), col("doc_id"))

  def repetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionMetrics(docs(spark, dir), col("text"), col("doc_id"))

  /** Language-rebalanced sample: cap en at 50%, es/fr at 75%, keep the
    * rest whole — the canonical training-mix shape. */
  def stratified(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.stratifiedSample(docs(spark, dir), col("doc_id"),
      col("lang"), Map("en" -> 5000, "es" -> 7500, "fr" -> 7500))

  /** Mean inverse-document-frequency rarity score (order-deterministic
    * float fold — see [[TextAnalysis.rarityScore]]). */
  def rarity(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.rarityScore(docs(spark, dir), col("text"), col("doc_id"))

  /** Per-language KMV distinct-token sketch next to the exact count —
    * deterministic cardinality estimation with its own error audit —
    * t14. */
  def kmvTokens(spark: SparkSession, dir: String): DataFrame =
    // k=16 < the fixture's per-lang vocabulary, so the ESTIMATOR arm
    // (not just the exact-below-capacity fallback) is oracle-checked
    TextAnalysis.kmvDistinct(docs(spark, dir), col("text"), col("lang"),
      k = 16)

  /** Corpus-fitted add-one bigram LM fluency score per doc — t13. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLmScore(docs(spark, dir), col("text"), col("doc_id"))

  /** t34: the CCNet perplexity gate — per-doc cross-entropy under the
    * frozen t13 bigram LM as exact 16-fraction-bit integers; keep
    * below [[perplexityKeepBitsFx]] (≈ 4.889 bits ≈ 3.389 nats, the
    * corpus median, so the gate genuinely splits). */
  val perplexityKeepBitsFx = 320400L
  def perplexityGate(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.perplexityGate(docs(spark, dir), col("text"),
      col("doc_id"), keepBelowBitsFx = perplexityKeepBitsFx)

  /** t36: Heaps'-law vocabulary growth at 10 corpus checkpoints. */
  /** t47: coverage of the k most frequent words, k ∈ {100, 1k, 10k}
    * ([[TextAnalysis.vocabCoverage]]). */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverage(docs(spark, dir), col("text"))

  def heapsLaw(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.heapsLaw(docs(spark, dir), col("text"), col("doc_id"))

  /** t39: Zipf slope over the documents vocabulary — see
    * [[TextAnalysis.zipfSlope]]. */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfSlope(docs(spark, dir), col("text"))

  /** t40: TF-IDF top-3 keywords per document — see
    * [[TextAnalysis.tfidfKeywords]]. */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfKeywords(docs(spark, dir), col("text"),
      col("doc_id"))

  /** t37: top-20 PMI collocations (support ≥ 5), fixed-point log2. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiCollocations(docs(spark, dir), col("text"))

  /** t41: per-doc type-token ratio + hapax share (ppm integers). */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.lexicalDiversity(docs(spark, dir), col("text"),
      col("doc_id"))

  /** t42: per-doc token-distribution Shannon entropy, fixed-point. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenEntropy(docs(spark, dir), col("text"),
      col("doc_id"))

  /** t43: code-vs-prose routing gate (integer ppm score). */
  def codeDetect(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.codeDetect(docs(spark, dir), col("text"),
      col("doc_id"))

  /** t44: dedup-weighted effective token accounting per source. */
  def effectiveTokens(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.effectiveTokens(docs(spark, dir), col("text"),
      col("doc_id"), col("source"))

  /** t45: ±2-window skip-gram co-occurrence, top-20 (support ≥ 5). */
  def skipgramCooc(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.skipgramCooc(docs(spark, dir), col("text"),
      col("doc_id"))

  /** t46: t14's KMV table via the native TypedImperativeAggregate
    * sketch — same contract, one-pass throughput path. */
  def kmvTokensNative(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.kmvDistinctNative(docs(spark, dir), col("text"),
      col("lang"), k = 16)

  /** c37: RAG CONTEXT PACKING — the serving step after s42's MMR
    * re-rank: join each query's diversity-ranked picks to their
    * documents, count tokens, and keep picks in rank order while the
    * running total fits the context budget (150 tokens). The cutoff
    * is a plain per-query running sum over ≤5 rows — the greedy
    * skip-none packing every RAG stack runs between retrieval and the
    * prompt (t12's bin packing is the corpus-side cousin; this is the
    * query-side one). Oracle = the unrolled MMR chain + the same
    * windowed cutoff. */
  def ragContext(spark: SparkSession, dir: String): DataFrame = {
    val sel = Vectors.mmrRerank(embs(spark, dir), col("vec_id"),
      col("embedding"))
    val toks = docs(spark, dir).select(col("doc_id").as("nid"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("pick"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    sel.join(toks, Seq("nid"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= 150L)
      .select(col("qid"), col("pick"), col("nid").as("doc_id"),
        col("n_tokens"), col("cum_tokens"))
  }

  /** s45: top-10 agreement between cosine, dot and L2 rankings
    * ([[Vectors.metricAgreement]]). */
  def metricAgreement(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Vectors.metricAgreement(e, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"))
  }

  /** s42: MMR diversity re-ranking — greedy λ=0.7 selection of 5
    * from each query's top-10 ([[Vectors.mmrRerank]]). */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame =
    Vectors.mmrRerank(embs(spark, dir), col("vec_id"), col("embedding"))

  /** t38: A-ES weighted sample (k=50, weight = n_chars). */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.weightedSample(docs(spark, dir), col("doc_id"),
      col("n_chars"))

  /** Deterministic global shuffle into 8 training shards. */
  def shuffleShard(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.shuffleShard(docs(spark, dir), col("doc_id"))

  /** Greedy context-window packing (budget 256 whitespace tokens) in the
    * shuffle-shard order — "shuffle then pack" as one partitioning. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextAnalysis.packSequences(d, col("doc_id"),
      size(split(col("text"), " ")))
  }

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(docs(spark, dir), col("text"), col("doc_id"))

  /** Rolling-hash fingerprint via the native codegen expression — the
    * throughput-path variant of t04. Oracle-checked: DuckDB reproduces
    * the byte loop from hex(encode(text)) pairs under HUGEINT mod-2^64
    * arithmetic (see SparkEntry.oracleSql "t05_rolling_fp"). */
  def rollingFingerprint(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    docs(spark, dir).select(col("doc_id"),
      call_function("graft_rolling_hash",
        regexp_replace(lower(col("text")), "\\s+", " ")).as("rfp"))
  }

  /** Multimodal plumbing: text bytes stand in for media blobs; the
    * decode stage runs the per-partition batch decoder (stub). */
  def multimodal(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeBatch(
      docs(spark, dir).withColumn("blob", col("text").cast("binary")),
      col("doc_id"), col("blob"))

  /** Decode → aspect-preserving resize into a 224×224 box (the standard
    * vision-model input). Dimension math is Catalyst integer arithmetic. */
  def mediaResize(spark: SparkSession, dir: String): DataFrame =
    Multimodal.resizeStage(multimodal(spark, dir), 224, 224)
      .select(col("id"), col("width"), col("height"),
        col("out_w"), col("out_h"))

  /** Frame sampling: blob as fixed-size frames, every 2nd frame sampled
    * and fingerprinted — one exploded row per sampled frame. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(
      docs(spark, dir).withColumn("blob", col("text").cast("binary")),
      col("doc_id"), col("blob"))

  /** m10: aspect-ratio bucketing + batch packing over the stub-decoded
    * dims — one row per packed training batch. */
  def arBuckets(spark: SparkSession, dir: String): DataFrame =
    Multimodal.arBuckets(multimodal(spark, dir), batchSize = 8)

  /** m04: block-mean perceptual-hash near-dup media pairs. */
  def phashPairs(spark: SparkSession, dir: String): DataFrame =
    Multimodal.phashPairs(docs(spark, dir), col("text"), col("doc_id"))

  /** m11: cross-video duplicate-clip detection — aligned frame-run
    * islands over the frame-fingerprint join. */
  def clipDedup(spark: SparkSession, dir: String): DataFrame = {
    // Synthetic re-broadcast corpus (the m09 derivation discipline):
    // every doc_id ≡ 2 (mod 7) carries its ≡ 0 (mod 7) neighbor's
    // full payload behind a 2-frame slate — a time-shifted clip at
    // offset +2 that whole-file hashing misses. The operator itself
    // ([[Multimodal.clipDedup]]) sees only (id, blob).
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val withSrc = d.withColumn("src_id",
      when(col("doc_id") % 7 === 2, col("doc_id") - 2)
        .otherwise(col("doc_id")))
    val blobs = withSrc
      .join(d.select(col("doc_id").as("src_id"), col("text").as("pay")),
        Seq("src_id"))
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 2,
          concat(lit("X" * 128), col("pay")))
          .otherwise(col("pay")).cast("binary").as("blob"))
    Multimodal.clipDedup(blobs, col("doc_id"), col("blob"))
  }

  /** m05: CLIP-score cross-modal filtering — media blobs paired with
    * their caption embeddings (the embedding id space IS the doc id
    * space, as s24), alignment-scored, drop-flagged below 0. The
    * vision encoder is the documented deterministic stub; the
    * join/score/filter plumbing is the real curation stage. */
  def clipFilter(spark: SparkSession, dir: String): DataFrame =
    Multimodal.clipScoreFilter(
      docs(spark, dir).withColumn("blob", col("text").cast("binary")),
      embs(spark, dir), col("doc_id"), col("blob"),
      col("vec_id"), col("embedding"))

  /** The fixed retrieval workload shared by t22's ranked and t23's
    * boolean search — includes the corpus's one rare term (`dup`,
    * df≈26 vs ≈900 for everything else) so the idf arm is exercised
    * with real contrast, and a single-term query (`b3`) whose odds-idf
    * ranking is PROVABLY identical to log-idf BM25 (monotone
    * transform). */
  val bm25Queries: Seq[(String, Seq[String])] = Seq(
    "b1" -> Seq("spark", "join"),
    "b2" -> Seq("dup", "scan", "merge"),
    "b3" -> Seq("vector"))

  val boolQueries: Seq[(String, Seq[String])] = Seq(
    "s1" -> Seq("spark", "join", "window"),
    "s2" -> Seq("dup", "batch"),
    "s3" -> Seq("the", "fast", "key", "sort"))

  /** t22: BM25 ranked retrieval (odds-form idf — see
    * [[graft.ops.Retrieval.bm25]] for the documented ln deviation and
    * its measured fidelity audit in RetrievalSpec). */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    Retrieval.bm25(docs(spark, dir), col("text"), col("doc_id"),
      bm25Queries)

  /** s44: RECIPROCAL RANK FUSION — the hybrid-search combiner every
    * production retrieval stack ships (Cormack et al. 2009; Elastic/
    * OpenSearch/Vespa all default to it): fuse the LEXICAL ranking
    * (t22's BM25 lists) with a SEMANTIC ranking (exact-cosine top-10
    * for each query's paired embedding) by
    * score = Σ 1/(60 + rankᵢ), absent list contributes 0. The two
    * rankings keep their own proven plans; fusion is one full-outer
    * join on (query, doc) + a per-query top-5 — candidates-sized.
    * The score is an explicit TWO-TERM double sum of reciprocals of
    * exact integers, identical expression both engines. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lex = Retrieval.bm25(docs(spark, dir), col("text"),
      col("doc_id"), bm25Queries)
      .select(col("qid"), col("doc_id"), col("rank").as("ra"))
    val e = embs(spark, dir)
    val qmap = Seq(("b1", 1L), ("b2", 2L), ("b3", 3L))
      .toDF("qid", "qv")
    val sem = Vectors.annTopK(e,
      e.filter(col("vec_id").isin(1L, 2L, 3L)),
      col("vec_id"), col("embedding"), k = 10)
      .select(col("qid").as("qv"), col("nid").as("doc_id"),
        col("rank").as("rb"))
      .join(qmap, Seq("qv")).select(col("qid"), col("doc_id"), col("rb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    lex.join(sem, Seq("qid", "doc_id"), "full_outer")
      .withColumn("score",
        coalesce(lit(1.0d) / (lit(60.0d) + col("ra").cast("double")),
          lit(0.0d)) +
        coalesce(lit(1.0d) / (lit(60.0d) + col("rb").cast("double")),
          lit(0.0d)))
      .withColumn("ra", coalesce(col("ra"), lit(0L)))
      .withColumn("rb", coalesce(col("rb"), lit(0L)))
      .withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= 5)
      .select(col("qid"), col("doc_id"), col("ra"), col("rb"),
        col("score"), col("fused_rank"))
  }

  /** t23: conjunctive boolean search over the lazily-built inverted
    * index. */
  def boolSearch(spark: SparkSession, dir: String): DataFrame =
    Retrieval.booleanSearch(docs(spark, dir), col("text"),
      col("doc_id"), boolQueries)

  /** c08: schema-evolution boundary — the COLUMN version of the
    * events.ts lesson (round 10: input files arrive with whatever
    * writer produced them): two parquet "drops" of the corpus written
    * with DIFFERENT schemas (drop 1 pre-dates the `lang` column) are
    * read as one dataset via Spark's `mergeSchema` (missing columns
    * null-filled per file, the schema union — no reader code change
    * when a producer adds a field), and the per-version coverage
    * report that a gate thresholds on: row count, non-null count and
    * ndv of the evolved column per drop. A drop whose `lang` coverage
    * is 0 is visibly pre-migration instead of silently poisoning
    * downstream groupBys with nulls.
    *
    * At 100 TB: mergeSchema costs one footer read per file at
    * planning; the report is one scan with map-side partials. The
    * alternative — a pinned reader schema — is exactly what corrupted
    * 7 queries in round 10. */
  def schemaMergeReport(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val out = ScratchDirs.create("graft_schema_merge")
    d.filter(col("doc_id") % 5 =!= 0)
      .select(lit(1L).as("ver"), col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$out/drop1")
    d.filter(col("doc_id") % 7 =!= 0)
      .select(lit(2L).as("ver"), col("doc_id"), col("text"), col("lang"))
      .write.mode("overwrite").parquet(s"$out/drop2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$out/drop1", s"$out/drop2")
      .groupBy(col("ver"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("lang")).as("lang_nonnull"),
        countDistinct(col("lang")).as("lang_ndv"))
  }

  /** c09: corrupt-input ingest — PERMISSIVE-mode salvage accounting,
    * the third leg of the input-boundary story (c08 = schema drift,
    * fixture fingerprint = type drift, this = BROKEN RECORDS): a JSON
    * drop where ids ≡ 0 mod 13 are deterministically truncated
    * mid-record is read with `mode=PERMISSIVE` + a corrupt-record
    * column, so bad lines become accountable rows instead of a dead
    * job (FAILFAST) or silent loss (DROPMALFORMED). The report —
    * salvaged count, quarantined count, and the token volume that
    * survived — is what an ingest gate thresholds on before promoting
    * the drop; the quarantined raw lines stay queryable for repair,
    * the st28 dead-letter idea at the parse boundary.
    *
    * At 100 TB: permissive parse is per-line work on the scan, no
    * extra pass; the corrupt column materializes only for bad rows. */
  def corruptIngest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val d = docs(spark, dir)
    val out = ScratchDirs.create("graft_corrupt_ingest")
    d.select(
        when(col("doc_id") % 13 === 0,
          concat(lit("{\"doc_id\": "), col("doc_id"),
            lit(", \"text\": \"truncated")))
          .otherwise(to_json(struct(col("doc_id"), col("text"))))
          .as("value"))
      .write.mode("overwrite").text(s"$out/drop")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("_bad", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(s"$out/drop")
      .agg(count(when(col("_bad").isNull, 1)).as("n_good"),
        count(col("_bad")).as("n_quarantined"),
        coalesce(sum(when(col("_bad").isNull,
          size(split(col("text"), " ")))), lit(0))
          .cast("long").as("tokens_salvaged"))
  }

  /** t32: leakage-free train/val/test split — the PREVENTIVE twin of
    * c03's after-the-fact leakage audit: splitting is done per
    * NEAR-DUP CLUSTER (d07's connected components over MinHash-LSH
    * candidates), never per document, so two near-duplicates can never
    * straddle a split boundary (the GroupShuffleSplit discipline
    * applied to web-scale dedup clusters). Assignment is
    * `cluster % 10` — deterministic, engine-free; the report pins
    * per-split doc counts, cluster counts and the exact membership
    * digest (id_sum). Cluster-id is the component's min doc_id, so the
    * split is stable under re-clustering of unchanged data. */
  def clusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val clusters = Dedup.connectedComponents(
      Dedup.minhashCandidates(d, col("text"), col("doc_id")),
      d, col("doc_id"))
    clusters
      .withColumn("split", pmod(col("cluster"), lit(10L)))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"),
        sum(col("doc_id")).as("id_sum"))
  }

  /** c15: small-file compaction — the lake-maintenance pass every
    * streaming/incremental ingest eventually owes: a fragmented drop
    * (64 splinter files here; micro-batch ingest at 100 TB produces
    * millions) is rewritten into target-sized files, and the report
    * proves compaction is a pure LAYOUT change — row count and the
    * order-independent content digest (bit_xor of per-row md5, c07's
    * seal arithmetic) are bit-identical before and after. The file
    * counts themselves are spec-pinned (64 → 2); the oracle pins that
    * content never changes, which is the invariant that makes
    * compaction safe to run concurrently with readers. */
  def compactLake(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashes.h60
    val d = docs(spark, dir)
    val out = ScratchDirs.create("graft_compact")
    d.repartition(64).write.mode("overwrite").parquet(s"$out/raw")
    val raw = spark.read.parquet(s"$out/raw")
    raw.coalesce(2).write.mode("overwrite").parquet(s"$out/compact")
    val compact = spark.read.parquet(s"$out/compact")
    def seal(df: DataFrame, phase: String): DataFrame =
      df.select(h60(col("text")).as("d0"), col("n_chars"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          expr("bit_xor(d0)").as("digest"))
        .select(lit(phase).as("phase"), col("n_docs"), col("chars"),
          col("digest"))
    seal(raw, "before").unionByName(seal(compact, "after"))
  }

  /** c16: idempotent ingest — the exactly-once discipline a lake needs
    * when the SAME drop can arrive twice (retried uploads, replayed
    * queues — the at-least-once reality goka answers with redelivery
    * semantics): every applied row's content fingerprint is recorded
    * in a LEDGER artifact, and an arriving batch is anti-joined
    * against the ledger before append, so re-applying an identical
    * drop lands ZERO new rows and the table is bit-stable. The audit
    * (per apply: arrivals, newly applied, table total) pins the second
    * apply at n_new = 0 — the oracle-checkable definition of
    * idempotency. At 100 TB the ledger is fingerprints only (16
    * bytes/row, never bodies) and the gate is one broadcast-or-shuffle
    * anti-join per drop — the c05/d23 incremental economics applied to
    * ingest itself. */
  def idempotentIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashes.h60
    val drop = docs(spark, dir).filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("text"))
    val out = ScratchDirs.create("graft_idem")
    val tableDir = s"$out/table"
    val ledgerDir = s"$out/ledger"
    val dropCount = drop.count()
    def applyOnce(applyNo: Long): (Long, Long, Long, Long) = {
      val arrivals = drop.withColumn("fp",
        h60(concat(col("doc_id").cast("string"), lit(":"), col("text"))))
      val ledger =
        if (new java.io.File(ledgerDir).exists)
          spark.read.parquet(ledgerDir)
        else arrivals.select(col("fp")).limit(0)
      val fresh = arrivals.join(ledger, Seq("fp"), "left_anti")
        .localCheckpoint()
      fresh.select(col("doc_id"), col("text"))
        .write.mode("append").parquet(tableDir)
      fresh.select(col("fp")).write.mode("append").parquet(ledgerDir)
      // arrivals is the same drop on every apply; counting it re-ran
      // the scan + fingerprint projection once per apply (2 extra jobs
      // for a constant the first apply already knows).
      (applyNo, dropCount, fresh.count(),
        spark.read.parquet(tableDir).count())
    }
    val audit = Seq(applyOnce(1L), applyOnce(2L))
    import spark.implicits._
    audit.toDF("apply_no", "n_arrivals", "n_new", "n_total")
  }

  /** c18: clustered lake layout — the second physical-layout axis next
    * to c13's partitioning: the lake is range-repartitioned and sorted
    * on user_id ([[graft.ops.Lake.writeClustered]]), so every file
    * covers a disjoint user range and the point-user serving query
    * reaches the parquet reader as a pushed `EqualTo` that skips every
    * non-matching file via row-group statistics (PlanSpec pins the
    * pushdown; LakeSpec pins the disjoint-ranges layout property).
    * The oracle proves clustering never changes answers. */
  def clusteredLake(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val out = ScratchDirs.create("graft_clustered")
    Lake.writeClustered(ev, col("user_id"), s"$out/events", nFiles = 8)
    spark.read.parquet(s"$out/events")
      .filter(col("user_id") === 7)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("id_sum"),
        unix_micros(min(col("ts"))).as("first_us"),
        unix_micros(max(col("ts"))).as("last_us"))
  }

  /** c28: Bloom-sidecar secondary index on the lake — point lookups on
    * a NON-clustering key. The lake clusters by user_id (c18's
    * layout), so min/max stats are blind to event_id; the per-file
    * Bloom sidecar ([[Lake.buildBloomIndex]]) restores file skipping
    * for exactly that case: the serve path consults the index, reads
    * ONLY the candidate files (provably a superset — Bloom filters
    * have no false negatives), and re-applies the exact predicate.
    * The oracle proves the indexed read returns precisely the
    * full-scan answer; LakeSpec pins the file-level behavior (true
    * locations always candidates; most files skipped). */
  def bloomIndexedLake(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val out = ScratchDirs.create("graft_bloomlake")
    Lake.writeClustered(ev, col("user_id"), s"$out/events", nFiles = 8)
    val idx = Lake.buildBloomIndex(spark, s"$out/events", "event_id")
      .localCheckpoint()
    val probes = spark.read.parquet(s"$out/events")
      .filter(col("event_id") % 997 === 0).select(col("event_id"))
    val candFiles = Lake.bloomCandidates(idx, probes, "event_id")
      .select(col("file")).distinct().collect().map(_.getString(0))
    val pruned =
      if (candFiles.isEmpty) spark.read.parquet(s"$out/events")
        .filter(lit(false))
      else spark.read.parquet(candFiles.toIndexedSeq: _*)
    pruned.filter(col("event_id") % 997 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * 100.0d).cast("long").as("cents"))
  }

  /** c30: ZONE-MAP sidecar index + range-pruned read — the
    * range-predicate twin of c28's Bloom point lookup: the lake is
    * clustered on user_id, [[Lake.buildZoneMap]] collects per-file
    * min/max once, and a user-range report reads ONLY the files whose
    * [mn, mx] overlaps the predicate (driver-side prune over file-count
    * rows — exactly Iceberg/Delta manifest-stats pruning). The oracle
    * is the plain unpruned range aggregate over events: the hash match
    * proves the prune LOSSLESS; LakeSpec pins that it actually prunes
    * (candidates < total files on the clustered layout). */
  def zoneMapLake(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val out = ScratchDirs.create("graft_zonelake")
    Lake.writeClustered(ev, col("user_id"), s"$out/events", nFiles = 8)
    // data-derived range (10%..25% of the key domain) so the predicate
    // is meaningful at every SF — one tiny agg, mirrored by the oracle
    val mx = ev.agg(max(col("user_id"))).head().getLong(0)
    val (lo, hi) = (mx * 10 / 100, mx * 25 / 100)
    val candFiles = Lake.zoneCandidates(
        Lake.buildZoneMap(spark, s"$out/events", "user_id"), lo, hi)
      .collect().map(_.getString(0))
    val pruned =
      if (candFiles.isEmpty) spark.read.parquet(s"$out/events")
        .filter(lit(false))
      else spark.read.parquet(candFiles.toIndexedSeq: _*)
    pruned.filter(col("user_id").between(lo, hi))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(floor(col("value") * 100.0d).cast("long")).as("cents_sum"))
  }

  /** c32: COMPOSITE sidecar pruning — the Bloom point-key index (c28)
    * and the zone-map range index (c30) consulted TOGETHER on one
    * query (point-set predicate on event_id AND range predicate on
    * the clustering key): each sidecar independently yields a provable
    * candidate superset, so their INTERSECTION is still a superset —
    * the multi-index planning step every lakehouse runs when a query
    * carries predicates on differently-indexed columns. Both prunes
    * are driver-side folds over file-count rows; the oracle is the
    * unpruned query, so the hash match proves the composed prune
    * lossless. */
  def compositePrune(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val out = ScratchDirs.create("graft_composite")
    Lake.writeClustered(ev, col("user_id"), s"$out/events", nFiles = 8)
    val mx = ev.agg(max(col("user_id"))).head().getLong(0)
    val (lo, hi) = (mx * 10 / 100, mx * 25 / 100)
    val zFiles = Lake.zoneCandidates(
        Lake.buildZoneMap(spark, s"$out/events", "user_id"), lo, hi)
      .collect().map(_.getString(0)).toSet
    val probes = ev.filter(col("event_id") % 97 === 0)
      .select(col("event_id"))
    val bFiles = Lake.bloomCandidates(
        Lake.buildBloomIndex(spark, s"$out/events", "event_id"),
        probes, "event_id")
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet
    val candFiles = (zFiles intersect bFiles).toIndexedSeq
    val pruned =
      if (candFiles.isEmpty) spark.read.parquet(s"$out/events")
        .filter(lit(false))
      else spark.read.parquet(candFiles: _*)
    pruned.filter(col("event_id") % 97 === 0 &&
        col("user_id").between(lo, hi))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * 100.0d).cast("long").as("cents"))
  }

  /** c35: NOISY-COUNT RELEASE (Laplace mechanism, seeded) — the
    * privacy-style dataset-card release next to c11's k-anonymity
    * report: per-group counts published with additive Laplace noise
    * via the standard inverse-CDF construction
    * noise = −b·sgn(u−½)·ln(1−2|u−½|). Determinism (the oracle
    * requirement) comes from seeding u per group from the content-free
    * md5 fraction — a keyed PRNG, exactly how a reproducible release
    * pipeline seeds its noise — and EXACTNESS from doing the log in
    * [[graft.functions.PortableMath]] fixed-point base-2 (the ln is a
    * base-2 log times ln 2, absorbed into the scale parameter), so
    * the released value is an exact integer in milli-counts on any
    * engine. Note the seeding makes this a REPRODUCIBLE noise
    * artifact, not a formal DP guarantee (a true ε-DP release draws
    * fresh randomness); the mechanism, scale arithmetic and release
    * shape are the production ones. Map-side everything: one
    * aggregate, then per-row (≤ #groups) integer chains. */
  def dpNoisyCounts(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Hashes, PortableMath}
    val bMilli = 2000L // noise scale: b = 2.0 counts (base-2 log units)
    // The seed columns are md5-derived EXPRESSIONS; feeding them
    // straight into the 16-round log ladder lets projection collapse
    // inline the whole subtree into every squaring round — an
    // exponential optimizer blow-up. localCheckpoint the ≤#groups-row
    // frame so the ladder starts from plain attributes.
    val counts = table(spark, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("c"))
      .withColumn("u_ppm",
        pmod(Hashes.h60(concat(lit("dp_"), col("event_type"))),
          lit(1000000L)))
      .withColumn("t_ppm",
        greatest(lit(1000000L) - abs(col("u_ppm") * 2 - 1000000L),
          lit(1L)))
      .withColumn("sgn",
        when(col("u_ppm") >= 500000L, lit(1L)).otherwise(lit(-1L)))
      .localCheckpoint()
    val withT = PortableMath.withLog2Fixed(counts,
      col("t_ppm").cast("double"), "l2t")
    // log2fp(10^6) is a CONSTANT — evaluated once on the driver with
    // the bit-identical Scala mirror (a literal in the column ladder
    // would collapse into every squaring round and hang the
    // optimizer; the oracle runs its chain on the constant, which is
    // sequential CTE stages and safe there).
    val l2e6 = PortableMath.log2FixedLong(1000000.0d)
    withT.select(col("event_type"),
        lit(bMilli).as("b_milli"),
        (col("c") * 1000L + expr(
          s"sgn * ($bMilli * ($l2e6 - l2t)) div 65536"))
          .as("noisy_count_milli"))
  }

  /** c33: CSV INGEST with corrupt-record accounting — the messy-file
    * path of a real data-drop: the canonical events (integer
    * projection — CSV is lossless for longs and strings, so the
    * round-trip is exact by construction) are exported to a CSV lake,
    * two malformed lines are injected, and the PERMISSIVE read with a
    * `_corrupt_record` column lands clean rows while ACCOUNTING for
    * the rejects — c09's salvage discipline on the text-format
    * surface. The audit states parsed/rejected counts and the exact
    * cents sum of the clean rows; the oracle derives all three from
    * the canonical table (+ the deterministic inject count), so a
    * parser that silently dropped or mangled a row breaks the hash. */
  def csvIngest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ev = table(spark, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"),
      floor(col("value") * 100.0d).cast("long").as("cents"))
    val out = ScratchDirs.create("graft_csv")
    ev.write.option("header", "true").mode("overwrite")
      .csv(s"$out/drop")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/drop/zz_corrupt.csv"),
      ("event_id,user_id,event_type,ts_us,cents\n" +
        "not_a_number,5,click,oops,12\n" +
        "17,xx,view,1700000000000000,not_cents\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("ts_us", LongType), StructField("cents", LongType),
      StructField("_bad", StringType)))
    // Spark refuses to filter on ONLY the corrupt-record column of a
    // raw CSV scan (the parser may prune it away); materializing the
    // parse first is the documented contract.
    val parsed = spark.read.option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .schema(schema).csv(s"$out/drop")
      .localCheckpoint()
    parsed.filter(col("_bad").isNull)
      .agg(count(lit(1)).as("n_clean"),
        sum(col("cents")).as("cents_sum"),
        countDistinct(col("event_id")).as("n_ids"))
      .crossJoin(parsed.filter(col("_bad").isNotNull)
        .agg(count(lit(1)).as("n_rejected")))
      .select(col("n_clean"), col("n_rejected"), col("n_ids"),
        col("cents_sum"))
  }

  /** c34: ORC ROUND-TRIP with a content seal — the second columnar
    * sink format: the integer events projection lands as ORC, reads
    * back, and both the ORC copy and the parquet source are sealed
    * with the c31 order-independent (count, cents, bit_xor-digest)
    * triple against the oracle's from-the-raw-table values — format
    * breadth proven by content identity, not by "it didn't throw". */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashes.h60
    val ev = table(spark, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"),
      floor(col("value") * 100.0d).cast("long").as("cents"))
    val out = ScratchDirs.create("graft_orc")
    ev.write.mode("overwrite").orc(s"$out/events_orc")
    def seal(df: org.apache.spark.sql.DataFrame, pfx: String) =
      df.select(h60(concat_ws("|", col("event_id"), col("user_id"),
          col("event_type"), col("ts_us"), col("cents"))).as("d0"),
          col("cents"))
        .agg(count(lit(1)).as(s"n_$pfx"),
          sum(col("cents")).as(s"cents_$pfx"),
          expr("bit_xor(d0)").as(s"digest_$pfx"))
    seal(ev, "old").crossJoin(
      seal(spark.read.orc(s"$out/events_orc"), "new"))
  }

  /** c31: LAYOUT MIGRATION with a content seal — re-partition a lake
    * from hash-sharded-by-user to time-clustered IN FULL (the
    * migration every lake eventually runs when the query pattern
    * shifts from point-lookup to range-scan) and prove content
    * preservation against the ORIGINAL layout with c07's commutative
    * digest: row count, exact cents sum, and bit_xor of a per-row
    * content hash — order-independent, so the two layouts' completely
    * different file orders hash identically iff no row was lost,
    * duplicated or altered. The oracle computes the seal once from
    * the raw table and states it for BOTH sides: each layout is
    * independently checked against the source of truth, not merely
    * against each other. Scale: the migration is one
    * repartitionByRange pass; each seal is one scan folding to a
    * 1-row aggregate. */
  def repartitionMigrate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashes.h60
    val ev = table(spark, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"),
      floor(col("value") * 100.0d).cast("long").as("cents"))
    val out = ScratchDirs.create("graft_migrate")
    Lake.writeSharded(ev, col("user_id"), s"$out/by_user", nShards = 8)
    val old = spark.read.parquet(s"$out/by_user").drop("shard")
    Lake.writeClustered(old, col("ts_us"), s"$out/by_time", nFiles = 8)
    def seal(df: org.apache.spark.sql.DataFrame, pfx: String) =
      df.select(h60(concat_ws("|", col("event_id"), col("user_id"),
          col("event_type"), col("ts_us"), col("cents"))).as("d0"),
          col("cents"))
        .agg(count(lit(1)).as(s"n_$pfx"),
          sum(col("cents")).as(s"cents_$pfx"),
          expr("bit_xor(d0)").as(s"digest_$pfx"))
    seal(spark.read.parquet(s"$out/by_user").drop("shard"), "old")
      .crossJoin(seal(spark.read.parquet(s"$out/by_time"), "new"))
  }

  /** c27: lake BRANCH + three-way merge — the git model on the c19
    * versioned lake: the base snapshot forks into two branch lakes
    * (each its own copy-on-write chain), each branch applies its own
    * change set through the real `mergeVersioned` commit path, and
    * [[Lake.threeWayMerge]] reconciles the two against the base with
    * per-key conflict detection (changed-differently-on-both),
    * resolved ours-wins but AUDITED. Change sets are disjoint-keyed
    * within each branch, overlapping across branches by construction
    * (a doc modified on both sides, and a delete racing an update) so
    * every conflict class is exercised; the report is counts + the
    * c07-style commutative digest of the merged content. */
  def lakeBranchMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashes.h60
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val out = ScratchDirs.create("graft_branch")
    Lake.writeVersioned(d, "doc_id", s"$out/base", nShards = 8)
    val base = Lake.readVersioned(spark, s"$out/base")
    Lake.writeVersioned(base, "doc_id", s"$out/brA", nShards = 8)
    Lake.writeVersioned(base, "doc_id", s"$out/brB", nShards = 8)
    val k = col("doc_id")
    val chA = d.filter(k % 7 === 1)
      .select(k.as("doc_id"), concat(lit("A:"), col("text")).as("text"))
      .withColumn("op", lit("upsert"))
      .unionByName(d.filter(k % 13 === 2 && k % 7 =!= 1)
        .withColumn("op", lit("delete")))
    val chB = d.filter(k % 7 === 3)
      .select(k.as("doc_id"), concat(lit("B:"), col("text")).as("text"))
      .withColumn("op", lit("upsert"))
      .unionByName(d.filter(k % 7 === 1 && k % 5 === 0)
        .select(k.as("doc_id"),
          concat(lit("B2:"), col("text")).as("text"))
        .withColumn("op", lit("upsert")))
      .unionByName(d.filter(k % 11 === 5 && k % 7 =!= 3 &&
          !(k % 7 === 1 && k % 5 === 0))
        .withColumn("op", lit("delete")))
    Lake.mergeVersioned(spark, s"$out/brA", "doc_id", chA, nShards = 8)
    Lake.mergeVersioned(spark, s"$out/brB", "doc_id", chB, nShards = 8)
    val merged = Lake.threeWayMerge(
      Lake.readVersioned(spark, s"$out/base"),
      Lake.readVersioned(spark, s"$out/brA"),
      Lake.readVersioned(spark, s"$out/brB"), "doc_id", "text")
    merged
      .withColumn("dg", when(col("present"),
        h60(concat(col("doc_id").cast("string"), lit(":"), col("text"))))
        .otherwise(lit(0L)))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("present"), 1L).otherwise(0L)).as("n_merged"),
        sum(when(col("changed_a"), 1L).otherwise(0L)).as("n_changed_a"),
        sum(when(col("changed_b"), 1L).otherwise(0L)).as("n_changed_b"),
        sum(when(col("conflict"), 1L).otherwise(0L)).as("n_conflicts"),
        expr("bit_xor(dg)").as("digest"))
  }

  /** c26: Z-ORDERED lake — the two-dimensional physical-layout axis
    * c13 (directory partitioning) and c18 (1-D range clustering)
    * cannot give: events are Morton-interleaved on (user_id, day)
    * ([[graft.ops.Lake.writeZOrdered]]), so every file covers a
    * compact rectangle of the key space and BOTH the point-user
    * serving slice and the point-day serving slice skip most files
    * via parquet min/max stats — the layout a lake needs when two
    * independent access paths (per-user compliance reads, per-day
    * batch reads) hit the same 100 TB artifact. LakeSpec pins the
    * rectangle property against the 1-D layout's full-width second
    * dimension; the oracle proves layout never changes answers for
    * either slice. */
  def zorderLake(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .withColumn("event_date", to_date(col("ts")))
    val out = ScratchDirs.create("graft_zorder")
    Lake.writeZOrdered(ev, col("user_id"),
      expr("unix_micros(ts) div 86400000000"), s"$out/events",
      nFiles = 16)
    val lake = spark.read.parquet(s"$out/events")
    def slice(named: String,
        pred: org.apache.spark.sql.Column): DataFrame = lake
      .filter(pred)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("id_sum"))
      .select(lit(named).as("slice"), col("event_type"),
        col("n_events"), col("id_sum"))
    slice("user_7", col("user_id") === 7L)
      .unionByName(slice("day_2024-01-20",
        col("event_date") === lit("2024-01-20").cast("date")))
  }

  /** c17: retention sweep — the data-lifecycle pass every regulated or
    * cost-bounded lake runs: partitions older than the retention
    * cutoff are dropped at the DIRECTORY level (O(expired partitions),
    * zero data scanned or rewritten — the payoff of c13's
    * date-partitioned layout; a row-level retention delete would scan
    * and rewrite the whole lake), and the serving aggregate over the
    * swept lake proves surviving data is byte-untouched. The report
    * carries the sweep audit (partitions before/dropped) inline so the
    * oracle pins both the surviving CONTENT and the sweep's SHAPE. */
  def retentionSweep(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val out = ScratchDirs.create("graft_retention")
    val lake = s"$out/events"
    ev.withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(lake)
    val cutoff = "2024-01-15"
    val dirs = new java.io.File(lake).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
    val expired = dirs.filter(_.getName.stripPrefix("event_date=") < cutoff)
    expired.foreach { d =>
      d.listFiles().foreach(_.delete()); d.delete()
    }
    val audit = spark.range(1).select(
      lit(dirs.length.toLong).as("parts_before"),
      lit(expired.length.toLong).as("parts_dropped"))
    spark.read.parquet(lake)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("id_sum"),
        min(col("event_date").cast("string")).as("first_date"))
      .crossJoin(broadcast(audit))
  }

  /** c13: hive-partitioned lake layout + partition-pruned serving —
    * the storage-layout leg of the input-boundary story: events are
    * laid out as one directory per event DATE, and the 7-day serving
    * query then prunes 23 of the 30 partitions at the directory level
    * (`PartitionFilters` in the scan, PlanSpec-pinned) before a single
    * data file is opened. The oracle runs the same aggregation over
    * the unpartitioned fixture, proving layout never changes answers.
    *
    * At 100 TB this is the difference between a scan bounded by the
    * queried date range and a scan of the whole lake: date-partitioned
    * ingest is the first thing a production events lake does. */
  def partitionedLake(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val out = ScratchDirs.create("graft_lake")
    ev.withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date")
      .parquet(s"$out/events")
    spark.read.parquet(s"$out/events")
      .filter(col("event_date")
        .between(lit("2024-01-10"), lit("2024-01-16")))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("id_sum"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("event_date", col("event_date").cast("string"))
  }

  /** c14: right-to-be-forgotten propagation — the erasure request
    * (users ≡ 3 mod 7, the deterministic stand-in for an RTBF batch)
    * applied across BOTH lake artifacts derived from events (the raw
    * event lake and the per-user profile rollup), with the audit a
    * compliance gate records: rows before/after, shards rewritten,
    * residual erased-key rows remaining (pinned 0 by the oracle).
    * Both artifacts are hash-sharded on user_id, so the rewrite
    * touches only the shards containing erased keys
    * ([[graft.ops.Lake.eraseKeys]] — dynamic partition overwrite);
    * every other shard keeps its original files bit-for-bit
    * (spec-verified). The goka tombstone (g07) applied to the storage
    * layout: deletion as a targeted, audited, partition-local rewrite,
    * not a full-lake rewrite. */
  def forgetUser(spark: SparkSession, dir: String): DataFrame = {
    val nShards = 8
    val ev = table(spark, dir, "events")
    val out = ScratchDirs.create("graft_forget")
    val lakeDir = s"$out/events"
    val profDir = s"$out/profile"
    Lake.writeSharded(ev, col("user_id"), lakeDir, nShards)
    Lake.writeSharded(
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("id_sum")),
      col("user_id"), profDir, nShards)
    val erase = ev.select(col("user_id")).distinct()
      .filter(col("user_id") % 7 === 3)
    val audit = Seq("events" -> lakeDir, "user_profile" -> profDir).map {
      case (name, path) =>
        val a = Lake.eraseKeys(spark, path, "user_id", erase, nShards)
        (name, a.rowsBefore, a.rowsAfter, a.rowsBefore - a.rowsAfter,
          a.shardsRewritten, a.residual)
    }
    import spark.implicits._
    audit.toDF("artifact", "rows_before", "rows_after", "rows_erased",
      "shards_rewritten", "residual")
  }

  /** m08: media integrity gate ([[Multimodal.integrityGate]]) over a
    * synthesized damaged transfer: origin metadata (declared length +
    * md5) comes from the intact text; payloads arrive truncated to
    * half for ids ≡ 4 mod 13 (partial download) and with the first
    * char flipped for ids ≡ 5 mod 17 (bit-rot — length intact,
    * checksum broken). The gate must classify all three arms per
    * source; the oracle replays the same damage in SQL. */
  def mediaIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        length(col("text")).as("dl"), md5(col("text")).as("dm"))
      .withColumn("payload",
        when(col("doc_id") % 13 === 4,
          col("text").substr(lit(1), expr("dl div 2").cast("int")))
          .when(col("doc_id") % 17 === 5,
            concat(lit("X"), col("text").substr(lit(2), col("dl"))))
          .otherwise(col("text")))
    Multimodal.integrityGate(d, col("payload"), col("dl"), col("dm"),
      col("source"))
  }

  /** t35: per-source unigram JS divergence vs the rest of the corpus
    * in exact fixed point ([[TextAnalysis.jsDrift]]). */
  def jsDrift(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.jsDrift(docs(spark, dir), col("text"), col("source"))

  /** m09: container-invariant dedup over synthetic re-encodes — every
    * doc_id ≡ 2 (mod 7) carries the PAYLOAD of its ≡ 0 (mod 7) canon
    * inside a container chosen by doc_id mod 3, so payload-equal
    * groups exist at every SF while whole-file hashes all differ
    * ([[Multimodal.payloadDedup]] reports exactly that gap). */
  def containerDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val withSrc = d.withColumn("src_id",
      when(col("doc_id") % 7 === 2, col("doc_id") - 2)
        .otherwise(col("doc_id")))
    val payloads = withSrc.join(
      d.select(col("doc_id").as("src_id"), col("text").as("payload")),
      Seq("src_id"))
    val tagged = payloads.select(col("doc_id"),
      concat(element_at(
          array(lit("RIFF"), lit("FTYP"), lit("MKV$")),
          (col("doc_id") % 3 + 1).cast("int")),
        col("payload")).cast("binary").as("blob"))
    Multimodal.payloadDedup(tagged, col("doc_id"), col("blob"),
      headerLen = 4)
  }

  /** c25: subject-access report (the GDPR/CCPA "what do you hold
    * about me" read-side completing the privacy set: c14/st36 erase,
    * c11 re-identification risk, this one DISCLOSES): for each
    * requesting user (the ≡3 mod 7 cohort, as the erasure queries),
    * every fact held — event count, first/last event times, the
    * distinct activity kinds, exact value total. One pushdown-
    * filtered scan + one user rollup; request batches are
    * human-sized so the report is too. */
  def subjectAccessReport(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .filter(col("user_id") % 7 === 3)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        unix_micros(min(col("ts"))).as("first_us"),
        unix_micros(max(col("ts"))).as("last_us"),
        count_distinct(col("event_type")).as("n_kinds"),
        sum(col("value").cast("decimal(12,2)")).cast("double")
          .as("val_sum"))

  /** c24: referential-integrity audit — the cross-TABLE half of the
    * DQ contract c22 checks single-table: for every declared FK edge,
    * the child row count, the ORPHAN count (FK values with no parent
    * — broken ingest), and the UNREFERENCED parent count (dimension
    * rows no fact touches — the candidate-prune / miskey signal;
    * nonzero on this fixture, so both arms are witnessed). Each edge
    * is two anti-join counts; parents are dimension-sized and
    * broadcast, so the audit costs one pass over each fact table
    * regardless of edge count per parent. */
  def refIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val orders = table(spark, dir, "orders")
    val lineitem = table(spark, dir, "lineitem")
    val customer = table(spark, dir, "customer")
    val part = table(spark, dir, "part")
    val supplier = table(spark, dir, "supplier")
    // One LAZY plan: per edge, a probe pass over the child (count +
    // orphan sum in one aggregate; true dimensions broadcast, the
    // fact-parent orders edge left to Catalyst's stats) crossed with
    // the unreferenced-parent anti count; the 4 one-row plans union.
    // A single action executes the whole audit.
    def edge(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
      val p = parent.select(col(pk).as(fk), lit(1).as("hit"))
      val probe = child.select(col(fk))
        .join(if (bcast) broadcast(p) else p, Seq(fk), "left_outer")
        .agg(count(lit(1)).as("n_child_rows"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
      val unref = parent
        .join(child.select(col(fk).as(pk)).distinct(), Seq(pk),
          "left_anti")
        .agg(count(lit(1)).as("n_unreferenced"))
      probe.crossJoin(unref)
        .select(lit(name).as("fk_edge"), col("n_child_rows"),
          col("n_orphans"), col("n_unreferenced"))
    }
    Seq(
      edge("orders.o_custkey->customer", orders, "o_custkey",
        customer, "c_custkey", bcast = true),
      edge("lineitem.l_orderkey->orders", lineitem, "l_orderkey",
        orders, "o_orderkey", bcast = false),
      edge("lineitem.l_partkey->part", lineitem, "l_partkey",
        part, "p_partkey", bcast = true),
      edge("lineitem.l_suppkey->supplier", lineitem, "l_suppkey",
        supplier, "s_suppkey", bcast = true))
      .reduce(_ unionByName _)
  }

  /** c23: media INGEST CARD — the c04 dataset-card idea for the
    * multimodal path, as ONE Catalyst plan over one scan: m08's
    * integrity triage feeds a per-source card of admitted/quarantined
    * counts, admitted byte volume, and the admitted blobs' stub-decode
    * pixel total (the m01 dimension formula as Catalyst arithmetic —
    * the card needs the numbers, not the decoder trait). The report a
    * media ingest publishes alongside the lake commit. */
  def mediaCard(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        length(col("text")).as("dl"), md5(col("text")).as("dm"))
      .withColumn("payload",
        when(col("doc_id") % 13 === 4,
          col("text").substr(lit(1), expr("dl div 2").cast("int")))
          .when(col("doc_id") % 17 === 5,
            concat(lit("X"), col("text").substr(lit(2), col("dl"))))
          .otherwise(col("text")))
      .withColumn("al", length(col("payload")))
      .withColumn("status",
        when(col("al") < col("dl"), "truncated")
          .when(md5(col("payload")) =!= col("dm"), "corrupted")
          .otherwise("ok"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_blobs"),
        sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("status") === "truncated", 1L).otherwise(0L))
          .as("n_truncated"),
        sum(when(col("status") === "corrupted", 1L).otherwise(0L))
          .as("n_corrupted"),
        sum(when(col("status") === "ok", col("al")).otherwise(0L))
          .cast("long").as("ok_chars"),
        sum(when(col("status") === "ok",
          (col("al") % 640) * (col("al") % 480)).otherwise(0L))
          .cast("long").as("ok_stub_px"))
  }

  /** c22: data-quality expectations gate over `orders`
    * ([[graft.ops.Profiling.expectationsGate]]) — a five-rule
    * contract (range, domain, date horizon, non-null, key
    * uniqueness) checked in one scan; thresholds chosen so the
    * report witnesses BOTH arms (the price/date/status rules have
    * real violations in the fixture, null/uniqueness have none). */
  def expectations(spark: SparkSession, dir: String): DataFrame = {
    val orders = table(spark, dir, "orders")
    graft.ops.Profiling.expectationsGate(orders,
      Seq(
        "price_le_400k" -> (col("o_totalprice") > 400000.0),
        "status_known" -> !col("o_orderstatus").isin("O", "F"),
        "date_before_2000" -> (col("o_orderdate") >= lit("2000-01-01")),
        "custkey_not_null" -> col("o_custkey").isNull),
      uniqueKey = Some("orderkey_unique" -> col("o_orderkey")))
  }

  /** d26: content-defined chunking dedup ([[Dedup.cdcChunkStats]]) —
    * boundary-hash chunks, first-writer-keeps ownership. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    Dedup.cdcChunkStats(docs(spark, dir), col("text"), col("doc_id"))

  /** t33: integer-exact Flesch readability grading
    * ([[TextAnalysis.readability]]) — map-only scan stage. */
  def readabilityGrades(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.readability(docs(spark, dir), col("text"), col("doc_id"))

  /** The shared build for c19/c20: a snapshot-versioned per-user
    * profile lake. v1 = pre-cutoff aggregates; v2 = a MERGE of the
    * post-cutoff change batch — full-range re-aggregates UPSERTed for
    * users active after the cutoff (matched-update and
    * not-matched-insert are one arm: the payload is the full row),
    * erasure-requested users (id ≡ 3 mod 7 among them) DELETEd. */
  private def buildVersionedProfiles(spark: SparkSession, dir: String)
      : String = {
    val nShards = 8
    val cutoff = lit("2024-01-16").cast("timestamp")
    val ev = table(spark, dir, "events")
    def profiles(d: DataFrame) = d.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("val_sum"))
    val lakeDir = ScratchDirs.create("graft_versioned") + "/profiles"
    Lake.writeVersioned(profiles(ev.filter(col("ts") < cutoff)),
      "user_id", lakeDir, nShards)
    val postUsers = ev.filter(col("ts") >= cutoff)
      .select(col("user_id")).distinct()
    val dels = postUsers.filter(col("user_id") % 7 === 3)
      .select(col("user_id"), lit(null).cast("long").as("n_events"),
        lit(null).cast("decimal(22,2)").as("val_sum"),
        lit("delete").as("op"))
    val ups = profiles(ev)
      .join(postUsers.filter(col("user_id") % 7 =!= 3), Seq("user_id"))
      .withColumn("op", lit("upsert"))
    Lake.mergeVersioned(spark, lakeDir, "user_id",
      ups.unionByName(dels), nShards)
    lakeDir
  }

  /** c19: MERGE INTO a snapshot-versioned lake (upsert + delete,
    * copy-on-write). The served result is the post-merge snapshot;
    * the oracle recomputes the same state from the raw events, so
    * hash-equality proves merge ≡ recompute while the merge itself
    * only read and rewrote the shards the change batch touched
    * (directory-pruned base read, manifest-inherited cold shards —
    * LakeSpec pins the file-level behavior). */
  def lakeMerge(spark: SparkSession, dir: String): DataFrame =
    Lake.readVersioned(spark, buildVersionedProfiles(spark, dir))
      .select(col("user_id"), col("n_events"),
        col("val_sum").cast("double").as("val_sum"))

  /** c20: TIME TRAVEL — after c19's merge commits v2, reading v1
    * must return the pre-merge snapshot bit-for-bit: commits never
    * mutate or delete data files, a snapshot is its manifest. The
    * oracle recomputes the pre-cutoff state from raw events; c19's
    * oracle proves v2, this one proves v1 SURVIVED v2. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame =
    Lake.readVersioned(spark, buildVersionedProfiles(spark, dir),
      version = 1)
      .select(col("user_id"), col("n_events"),
        col("val_sum").cast("double").as("val_sum"))

  /** c21: VACUUM — c19's lake with v1 expired after the merge. The
    * serving read (latest snapshot) must be unaffected: the sweep
    * deletes only the superseded copies of rewritten shards, keeping
    * every v1 directory v2 still references. Shares c19's oracle;
    * LakeSpec pins the file-level reachability behavior and that
    * time travel to the expired version now fails loudly. */
  def lakeVacuum(spark: SparkSession, dir: String): DataFrame = {
    val lakeDir = buildVersionedProfiles(spark, dir)
    Lake.vacuum(lakeDir, keepFrom = 2)
    Lake.readVersioned(spark, lakeDir)
      .select(col("user_id"), col("n_events"),
        col("val_sum").cast("double").as("val_sum"))
  }

  /** c29: CHANGE DATA FEED between the two committed snapshots of the
    * c19 lake — the merge's effect read back as a keyed delta without
    * re-scanning either snapshot: manifest-identical shards are
    * provably unchanged and are never opened ([[Lake.versionDiff]];
    * LakeSpec pins the input-file set to the touched shards). The
    * oracle reconstructs the same delta from raw events (pre-cutoff
    * state vs final state per user), so the hash match proves the
    * diff reports exactly the merge's inserts/updates/deletes —
    * survivor rows copied into rewritten shards are suppressed by
    * the null-safe whole-row compare, never mis-reported. */
  def lakeVersionDiff(spark: SparkSession, dir: String): DataFrame =
    Lake.versionDiff(spark, buildVersionedProfiles(spark, dir),
        "user_id", 1, 2)
      .select(col("user_id"), col("change"),
        col("n_events_old"), col("n_events_new"),
        col("val_sum_old").cast("double").as("val_sum_old"),
        col("val_sum_new").cast("double").as("val_sum_new"))

  /** s31: ANN index DELETE — the FAISS remove_ids lifecycle completing
    * the s25 (store) / s26 (add) maintenance set: tombstoned vectors
    * (ids ≡ 3 mod 10) are dropped from the STORED inverted lists by a
    * broadcast anti-join (erase lists are request-sized), and serving
    * runs over the live lists with centroids untouched. The oracle
    * rebuilds the same-centroid index over the corpus minus the
    * deleted ids — hash-equality proves delete ≡ rebuild, which holds
    * because per-vector assignment depends only on the frozen
    * centroids. Deleted vectors may still QUERY (search-by-example);
    * they can never be returned. */
  def annIndexDelete(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val (cents, _) = Vectors.kmeansFit(e, col("vec_id"), col("embedding"),
      k = 16, iters = 2)
    val idxDir = ScratchDirs.create("graft_ivf_del")
    cents.write.mode("overwrite").parquet(s"$idxDir/centroids")
    Vectors.ivfInvertedLists(e, col("vec_id"), col("embedding"), cents)
      .write.mode("overwrite").parquet(s"$idxDir/lists")
    val storedCents = spark.read.parquet(s"$idxDir/centroids")
    val tombstones = e.select(col("vec_id").as("vid"))
      .filter(col("vid") % 10 === 3)
    val live = spark.read.parquet(s"$idxDir/lists")
      .join(broadcast(tombstones), Seq("vid"), "left_anti")
    Vectors.ivfServeTopK(live, storedCents,
      e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 10)
  }

  /** s32: contrastive-pair mining over the embedding corpus — per
    * anchor the hard negative (max-cos, different label) and hard
    * positive (min-cos, same label), [[graft.ops.Vectors.contrastivePairs]]. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    Vectors.contrastivePairs(embs(spark, dir), col("vec_id"),
      col("embedding"), col("label"))

  /** s33: quantizer drift after adds — s26 trains on the base slice
    * and appends arrivals against the frozen model; this reports the
    * exact per-cell quantization error split base-members vs arrivals
    * ([[graft.ops.Vectors.quantizationError]]) — the measured input to
    * the periodic-retrain decision the s26 scaladoc defers to. */
  def indexDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val base = e.filter(col("vec_id") % 10 =!= 7)
    val (cents, _) = Vectors.kmeansFit(base, col("vec_id"),
      col("embedding"), k = 16, iters = 2)
    Vectors.quantizationError(e, col("vec_id"), col("embedding"), cents,
      when(col("vid") % 10 === 7, "add").otherwise("base"))
  }

  /** s34: drift RESPONSE — the retrain s33's gate exists to trigger,
    * with the improvement MEASURED rather than assumed: the same
    * 16-cell/2-iter Lloyd recipe retrained over base+arrivals, then
    * the full corpus assigned under BOTH models and the exact int64
    * Σ‖v−c‖² reported per (cell, model). The before/after pair is the
    * retrain decision's cost-benefit evidence; at 100 TB both
    * assignment passes are one broadcast-model scan each, and the
    * retrain itself is the s08 training cost — nothing quadratic
    * appears. Oracle: the two Lloyd chains replayed with the training
    * filter as the only difference. */
  def retrainResponse(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val base = e.filter(col("vec_id") % 10 =!= 7)
    val (frozen, _) = Vectors.kmeansFit(base, col("vec_id"),
      col("embedding"), k = 16, iters = 2)
    val (retrained, _) = Vectors.kmeansFit(e, col("vec_id"),
      col("embedding"), k = 16, iters = 2)
    Vectors.quantizationError(e, col("vec_id"), col("embedding"),
        frozen, lit("frozen"))
      .unionByName(Vectors.quantizationError(e, col("vec_id"),
        col("embedding"), retrained, lit("retrained")))
  }

  /** s35: matryoshka truncation recall
    * ([[Vectors.truncationRecall]]) — recall@10 of prefix-truncated
    * vectors (8/16/32 of 64 dims) vs the full-dimension exact top-10,
    * per query. */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame =
    Vectors.truncationRecall(embs(spark, dir), col("vec_id"),
      col("embedding"))

  /** s36: OPQ-lite — PQ with a BALANCED-ENERGY dimension permutation:
    * dims ranked by exact integer energy (Σv² per dim) and dealt
    * round-robin into the m=4 subspaces, so no subspace hoards the
    * high-variance dims (the OPQ rotation's goal, reached by
    * permutation only — exact and oracle-replicable where a learned
    * rotation is not). Both the natural and permuted codings run the
    * SAME s06 codebook recipe; the output is the measured total
    * quantization error per variant — the evidence the permutation
    * step pays (or doesn't) on this corpus. The permutation is a
    * 64-entry model (driver-sized by construction, like any broadcast
    * codebook). */
  def opqLite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = embs(spark, dir)
    val energies = e
      .select(posexplode(Vectors.intScale(col("embedding")))
        .as(Seq("d", "v")))
      .groupBy(col("d")).agg(sum(col("v") * col("v")).as("en"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val ranked = energies.sortBy { case (d, en) => (-en, d) }.map(_._1)
    val perm: Seq[Int] =
      (0 until 4).flatMap(s => ranked.zipWithIndex.collect {
        case (d, i) if i % 4 == s => d
      })
    val permuted = e.withColumn("p_emb",
      array(perm.map(i => col("embedding").getItem(i)): _*))
    def total(codes: DataFrame, variant: String) =
      codes.agg(count(lit(1)).as("n_vectors"),
        sum(col("err2")).as("err2_total"))
        .select(lit(variant).as("variant"), col("n_vectors"),
          col("err2_total"))
    total(Vectors.pqEncode(e, col("vec_id"), col("embedding")), "natural")
      .unionByName(total(
        Vectors.pqEncode(permuted, col("vec_id"), col("p_emb")), "opq"))
  }

  /** d23: incremental near-dup via the stored LSH index — the corpus
    * is banded ONCE into a parquet artifact; arrivals (ids ≡ 7 mod 10,
    * the s26 carving) probe the stored bands and the exact verify
    * touches base text only for candidates. */
  def incrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val base = d.filter(col("doc_id") % 10 =!= 7)
    val arrivals = d.filter(col("doc_id") % 10 === 7)
    val idxDir = ScratchDirs.create("graft_lsh_index")
    Dedup.lshBandIndex(base, col("text"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$idxDir/bands")
    Dedup.probeNearDupIndex(arrivals, base, col("text"), col("doc_id"),
      spark.read.parquet(s"$idxDir/bands"))
  }

  /** d22: semantic medoid keep — the embedding-space
    * cluster-representative policy next to d18's length policy: per
    * d14-trained k-means cell, keep the integer-exact medoid
    * ([[graft.ops.Vectors.medoidPerCell]]). k pinned to 16 for the
    * fixture oracle, as d14. */
  def medoidKeep(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val (cents, _) = Vectors.kmeansFit(e, col("vec_id"), col("embedding"),
      k = 16, iters = 2)
    Vectors.medoidPerCell(e, col("vec_id"), col("embedding"), cents)
  }

  /** t25: deterministic mask corruption — the denoising-objective
    * example construction over every document (1-in-7 positions,
    * content-free hash selection). */
  def maskCorrupt(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.maskCorruption(docs(spark, dir), col("text"),
      col("doc_id"))

  /** c07: dataset seal — per-split doc/token counts + the
    * order-independent bit_xor content digest, the manifest a
    * reproducible training run pins. */
  def datasetSeal(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.datasetSeal(docs(spark, dir), col("text"), col("doc_id"))

  /** c06: profile drift between corpus snapshots — the data-quality
    * regression gate run before promoting a new drop
    * ([[graft.ops.Profiling.profileDrift]]). Snapshots are d21's
    * deterministic carving (old drops ids ≡ 0 mod 5; new drops ids ≡ 0
    * mod 7 and edits ids ≡ 0 mod 3), so removed rows, added rows and
    * edited text all leave visible drift signals. */
  def profileDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val old = d.filter(col("doc_id") % 5 =!= 0)
    val nw = d.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    graft.ops.Profiling.profileDrift(old, nw,
      Seq("doc_id", "text", "lang", "source", "n_chars"))
  }

  /** d24: corpus-frequency boilerplate excision — 10-word segments
    * appearing verbatim in >= 2 distinct documents are removed from
    * every document (the C4/RefinedWeb line-dedup stage; segments play
    * the role of lines in this newline-free corpus). */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateRemoval(docs(spark, dir), col("text"), col("doc_id"),
      segWords = 10, minDf = 2)

  /** t26: fair-share quota mix — per-source cap 15 (quality =
    * n_chars desc), then a round-robin global budget of 200. */
  def quotaMix(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.quotaMix(docs(spark, dir), col("doc_id"), col("source"),
      col("n_chars"), perSource = 15, budget = 200)

  /** t27: systematic PPS sampling — ~50 docs drawn with probability
    * proportional to n_chars, integer-exact (no RNG). */
  def ppsSample(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.ppsSample(docs(spark, dir), col("doc_id"),
      col("n_chars"), n = 50)

  /** m06: VAD-style segmentation of audio blobs (text codepoints stand
    * in for PCM frames; 64-codepoint frames, >= 2 voiced in a row). */
  def audioSegments(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioSegments(docs(spark, dir), col("text"), col("doc_id"))

  /** m12: per-clip loudness gain to the corpus mean, exact millis
    * ([[Multimodal.loudnessGain]]). */
  def loudnessGain(spark: SparkSession, dir: String): DataFrame =
    Multimodal.loudnessGain(docs(spark, dir), col("text"), col("doc_id"))

  /** m13: shot coverage per sampling stride
    * ([[Multimodal.sampleCoverage]]). */
  def sampleCoverage(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleCoverage(docs(spark, dir), col("text"),
      col("doc_id"))

  /** t28: the first 4 BPE merges induced from the corpus — distributed
    * tokenizer training ([[graft.ops.Tokenizer.bpeMerges]]). */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    Tokenizer.bpeMerges(docs(spark, dir), col("text"), k = 4)

  /** t31: the trained BPE segmentation applied corpus-wide — per-doc
    * token counts after the 4 merges (broadcast vocab lookup). */
  def bpeApply(spark: SparkSession, dir: String): DataFrame =
    Tokenizer.bpeTokenCounts(docs(spark, dir), col("text"),
      col("doc_id"), k = 4)

  /** t49: LOG₂ LENGTH HISTOGRAM — documents bucketed by
    * ⌊log₂ n_chars⌋, with token mass per bucket: the sequence-length
    * planning table behind max-length/packing choices (t12 packs
    * against a budget; this says where the mass IS). The bucket is
    * computed as length(bin(n)) − 1 — exact integer bit-length on
    * both engines, no float log anywhere. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).filter(col("n_chars") > 0)
      .select(expr("length(bin(n_chars)) - 1").cast("long")
          .as("log2_bucket"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy(col("log2_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))

  /** t48: per-language tokenizer fertility of the trained BPE
    * ([[graft.ops.Tokenizer.bpeFertility]]). */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame =
    Tokenizer.bpeFertility(docs(spark, dir), col("text"), col("lang"),
      k = 4)

  /** d25: cross-source shingle-overlap contamination matrix. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(docs(spark, dir), col("text"), col("source"))

  /** c10: curriculum phases — short docs first (n_chars as the
    * difficulty proxy), 4 token-budgeted phases. */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextAnalysis.curriculumPhases(d, col("doc_id"), col("n_chars"),
      size(split(col("text"), " ")), nPhases = 4)
  }

  /** s28: kNN classifier evaluation over the embedding fixture — 50
    * query vectors, 10 exact neighbors, majority label vs own label. */
  def knnClassify(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Vectors.knnClassify(embs(spark, dir), col("vec_id"),
      col("embedding"), col("label"))

  /** m07: shot-boundary detection over media blobs — cuts where a
    * frame's mean jumps > 1/16 of the blob mean vs its predecessor. */
  def shotBoundaries(spark: SparkSession, dir: String): DataFrame =
    Multimodal.shotBoundaries(docs(spark, dir), col("text"), col("doc_id"))

  /** t30: language-ID confusion matrix — the classifier-evaluation
    * audit for t01's detector: declared lang × predicted lang counts
    * (the off-diagonal shows which languages the stopword heuristic
    * confuses). One scan + one map-side-combined groupBy. */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("cnt"))

  /** s30: integer fixed-point PageRank over the exact degree-8 kNN
    * graph — 5 rounds. */
  def graphPageRank(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Vectors.graphPageRank(embs(spark, dir), col("vec_id"),
      col("embedding"))

  /** s29: ranked-retrieval MRR over the labeled embedding fixture. */
  def retrievalMrr(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Vectors.retrievalMrr(embs(spark, dir), col("vec_id"),
      col("embedding"), col("label"))

  /** c11: k-anonymity risk report per language — quasi-identifiers
    * (source, n_chars div 200), k = 3. */
  def kanonReport(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.kAnonymityReport(docs(spark, dir), col("lang"),
      Seq(col("source"), expr("n_chars div 200")), k = 3)

  /** c12: largest-remainder apportionment of a 10k-token training
    * budget across sources, proportional to token supply. */
  def mixAlloc(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.largestRemainderAlloc(docs(spark, dir),
      col("source"), size(split(col("text"), " ")), budget = 10000L)

  /** c41: split-balance audit of the t07 hash split — per
    * (split, source) composition with the ±1% cross-multiplied
    * deviation flag ([[TextAnalysis.splitBalance]]). */
  def splitBalance(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.splitBalance(docs(spark, dir), col("doc_id"),
      col("source"), size(split(col("text"), " ")))

  /** m14: per-video keyframe selection — the max-inter-frame-delta
    * thumbnail frame ([[Multimodal.keyframes]]). */
  def keyframes(spark: SparkSession, dir: String): DataFrame =
    Multimodal.keyframes(docs(spark, dir), col("text"), col("doc_id"))

  /** t50: per-document 3-gram novelty rate over documents
    * ([[TextAnalysis.ngramNovelty]]). */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramNovelty(docs(spark, dir), col("text"), col("doc_id"))

  /** d34: exact-fingerprint soft-dedup weights over documents
    * ([[Dedup.softDedupWeights]]). */
  def softDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.softDedupWeights(docs(spark, dir), col("text"), col("doc_id"))

  /** c42: LEGACY-MANIFEST MIGRATION — a versioned lake committed
    * BEFORE manifests carried the #nshards header must keep merging:
    * the table here is committed normally, its manifest then stripped
    * of header lines (the literal on-disk state of any pre-header
    * table), and the merge still runs because
    * [[Lake.readNShards]] falls back to the manifest's entry count —
    * writeManifest has always emitted exactly one line per shard. The
    * served result is the post-merge snapshot with the inferred shard
    * count riding along; the oracle recomputes the same final state
    * from raw events, so the hash proves the fallback infers the
    * SAME layout the table was committed with (a wrong count would
    * route change keys to wrong shards and corrupt the merge). */
  def legacyManifestMerge(spark: SparkSession, dir: String): DataFrame = {
    val nShards = 8
    val ev = table(spark, dir, "events")
    val out = ScratchDirs.create("graft_legacy")
    val lakeDir = s"$out/events"
    val profiles = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100.0d).cast("long")).as("val_cents"))
    Lake.writeVersioned(profiles, "user_id", lakeDir, nShards)
    // Simulate the pre-header era: strip every header line from the
    // committed manifest, leaving only the shard->dir entries.
    val mf = java.nio.file.Paths.get(lakeDir, "_manifests", "v1.manifest")
    val legacy = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(mf)).asScala
      .filterNot(_.startsWith("#")).mkString("\n")
    java.nio.file.Files.write(mf, legacy.getBytes("UTF-8"))
    val inferred = Lake.readNShards(lakeDir, 1)
    val dels = profiles.filter(col("user_id") % 9 === 4)
      .select(col("user_id"), lit(null).cast("long").as("n_events"),
        lit(null).cast("long").as("val_cents"), lit("delete").as("op"))
    val ups = profiles.filter(col("user_id") % 9 === 5)
      .select(col("user_id"), (col("n_events") + 1000L).as("n_events"),
        col("val_cents"), lit("upsert").as("op"))
    Lake.mergeVersioned(spark, lakeDir, "user_id",
      ups.unionByName(dels), inferred)
    Lake.readVersioned(spark, lakeDir)
      .select(col("user_id"), col("n_events"), col("val_cents"),
        lit(inferred.toLong).as("nshards_inferred"))
  }

  /** m15: transcript-to-frame alignment over documents
    * ([[Multimodal.transcriptFrames]]). */
  def transcriptAlign(spark: SparkSession, dir: String): DataFrame =
    Multimodal.transcriptFrames(docs(spark, dir), col("text"),
      col("doc_id"))

  /** q99 lives in Relational; t51 wrapper: */
  def repetitionGate(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionGate(docs(spark, dir), col("text"),
      col("doc_id"))

  /** d35: CLUSTER REPRESENTATIVE SELECTION — which copy of a near-dup
    * cluster survives curation: the LONGEST one (min doc_id breaks
    * ties), not the first-crawled — truncated mirrors and snippet
    * republications lose to the full text. Clusters are d07/d33's
    * label-propagation components; the keeper is one max_by per
    * cluster over (n_chars, -doc_id); singleton clusters keep
    * themselves and report zero dropped chars. */
  def clusterKeeper(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val cc = Dedup.connectedComponents(
      Dedup.minhashCandidates(d, col("text"), col("doc_id")),
      d, col("doc_id"))
    cc.join(d.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("b"),
        sum(col("n_chars")).as("chars_total"))
      .select(col("cluster"), col("n_members"),
        (-col("b.nid")).as("keep_id"),
        col("b.n_chars").as("chars_kept"),
        (col("chars_total") - col("b.n_chars")).as("chars_dropped"))
  }

  /** c43: SOURCE-INEQUALITY REPORT — how concentrated is the corpus's
    * token mass across sources? The mixture-health readout a curation
    * pipeline checks before training (one source owning most tokens
    * means the "diverse" corpus isn't): per source its document and
    * token counts and share (ppm, exact integer division), with the
    * corpus-level GINI (q95's sorted-index machinery over the
    * per-source totals — a bounded-domain frame, sources number in
    * the dozens at any corpus size) and THEIL index attached. Theil's
    * transcendental goes through [[graft.functions.PortableMath
    * .withLog2Fixed]] — the FMA-proof integer fixed-point log2, so
    * theil_num is an EXACT integer sum (T = ln2 * theil_num /
    * (65536 * S) with one literal multiply and one divide of
    * deterministic doubles at the end); the t42 discipline, evaluated
    * on the per-source frame only, never per row. */
  def sourceInequality(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableMath
    val perSource = docs(spark, dir)
      .select(col("source"),
        size(filter(split(col("text"), " "), w => w =!= ""))
          .cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
      .localCheckpoint() // three consumers: shares, gini, theil
    val tot = perSource.agg(sum(col("tokens")).as("s"),
      count(lit(1)).as("n"))
    // Corpus-level Gini needs a GLOBAL rank — per the repo's own
    // strict-guard discipline that goes through the bucketed Ranks
    // primitive, never a windowed sort (giniOver's per-flag window is
    // for genuinely partitioned frames; a literal flag constant-folds
    // into an unpartitioned window and the plan guard rightly rejects
    // it — it did, in this query's first draft).
    val ranked = graft.ops.Ranks.rankedCumsum(
      perSource.select(col("tokens").as("x"), col("source")),
      col("x"), col("source"), lit(1L), rankCol = "rn")
    val gini = ranked
      .agg(count(lit(1)).as("gn"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("rn")).as("six"))
      .select(
        (lit(2) * col("six") - (col("gn").cast("decimal(38,0)") + 1) *
          col("sx")).cast("long").as("gini_num"),
        (col("gn").cast("decimal(38,0)") * col("sx")).cast("long")
          .as("gini_den"))
      .withColumn("gini", col("gini_num").cast("double") /
        col("gini_den").cast("double"))
    val withRatio = perSource.crossJoin(broadcast(tot))
      .withColumn("r",
        (col("tokens") * col("n")).cast("double") /
          col("s").cast("double"))
    val theil = PortableMath.withLog2Fixed(withRatio, col("r"), "l2")
      .select((col("tokens").cast("decimal(38,0)") * col("l2"))
        .as("term"), col("s"))
      .groupBy(col("s"))
      .agg(sum(col("term")).cast("long").as("theil_num"))
      .select(col("theil_num"),
        (col("theil_num").cast("double") * lit(0.6931471805599453d) /
          (lit(65536.0d) * col("s").cast("double"))).as("theil"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"),
        expr("(tokens * 1000000) div s").as("share_ppm"))
      .crossJoin(broadcast(gini))
      .crossJoin(broadcast(theil))
  }

  /** d36: minhash-agreement vs exact containment calibration
    * ([[Dedup.containmentFidelity]]). */
  def containmentFidelity(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentFidelity(docs(spark, dir), col("text"),
      col("doc_id"))

  /** t52: Cohen's κ between the two independent quality gates the
    * suite already runs — the Gopher structural gate (t15's tuned
    * minStopHits=1) as rater A and the t08 repetition gate (top-word /
    * distinct-ratio / dup-bigram thresholds) as rater B, per source
    * ([[TextAnalysis.kappaAgreement]]). Rater flags join on doc_id;
    * everything downstream is a 2×2 per source. */
  def gateKappa(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val a = d.select(col("doc_id"), col("source"),
      TextAnalysis.gopherKeep(col("text"), minStopHits = 1).as("a_keep"))
    val b = TextAnalysis.repetitionMetrics(d, col("text"), col("doc_id"))
      .select(col("doc_id"), col("keep").as("b_keep"))
    TextAnalysis.kappaAgreement(a.join(b, Seq("doc_id")))
  }

  /** t53: reliability diagram + expected calibration error of a
    * model-free length prior — score = min(1, n_words/500) in milli
    * grain — as a predictor of the Gopher keep label, per source
    * ([[TextAnalysis.eceCollapsed]]). Fixed-width deciles of the
    * score (top edge clamped into bin 9, the standard ECE binning);
    * st74 folds the identical readout over streamed per-(source, bin,
    * label) state, sharing this oracle. */
  def eceReliability(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val nw = size(split(col("text"), " "))
    // min(1, nw/500) in milli grain = min(1000, nw*2): pure integers.
    // Bin via floor(score/100.0): exact for score <= 1000, equal to
    // the oracle's integer `// 100`.
    val scoreMilli = least(lit(1000L), nw.cast("long") * 2L)
    TextAnalysis.eceCollapsed(d.select(col("source"),
        least(lit(9L), floor(scoreMilli / lit(100.0d)).cast("long"))
          .as("bin"),
        when(TextAnalysis.gopherKeep(col("text"), minStopHits = 1), 1L)
          .otherwise(0L).as("pos"),
        scoreMilli.as("sum_milli"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("pos"),
        sum(col("sum_milli")).as("sum_milli")))
  }

  /** c44: COMPACTION PLANNER — the small-file bin-packing pass a lake
    * runs before c15's physical rewrite: given the per-partition file
    * inventory (here synthesized as 32 md5-sharded byte sums per
    * source), assign files to target-sized output bins by
    * next-fit-decreasing: sort by size descending and cut at
    * cumulative-offset boundaries (bin = floor(cum_before / target)).
    * NFD is the one-shuffle distributed plan (a true first-fit-
    * decreasing is inherently sequential per partition) with the
    * classic ≤2×-optimal bin-count bound — and at 100 TB the planner
    * runs over file METADATA (one row per file), never data, so the
    * whole plan is a per-partition window over a tiny frame. */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashes.h32
    compactionPlanFiles(docs(spark, dir)
      .select(col("source"),
        (h32(col("doc_id").cast("string")) % 32L).as("file_id"),
        length(col("text")).cast("long").as("b"))
      .groupBy(col("source"), col("file_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("b")).as("bytes")),
      target = 1L << 16)
  }

  /** t54: encoding-health audit over deterministically seeded
    * mojibake — docs with doc_id % 7 == 0 get classic
    * UTF-8-as-Latin-1 digraphs appended ("café" → "cafÃ©"), docs with
    * doc_id % 11 == 0 a U+FFFD replacement char (t16's seeding
    * pattern: plant the hazard, prove the detector); the rest pass
    * clean ([[TextAnalysis.encodingAudit]]). */
  def encodingAudit(spark: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 7L === 0L,
        concat(col("text"), lit(" cafÃ© rÃ©sumÃ©")))
      .when(col("doc_id") % 11L === 0L,
        concat(col("text"), lit(" bad�byte")))
      .otherwise(col("text"))
    TextAnalysis.encodingAudit(
      docs(spark, dir).withColumn("t54_text", planted),
      col("t54_text"), col("doc_id"))
  }

  /** t55: cross-source quantile normalization of the c45 quality
    * score — rank-within-source in ppm as the comparable signal
    * before mixing heterogeneous sources
    * ([[TextAnalysis.quantileNormalize]]). */
  def scoreQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val nw = size(split(col("text"), " "))
    val stops = size(array_distinct(filter(split(lower(col("text")), " "),
      w => w.isInCollection(TextAnalysis.gopherStops))))
    val score = stops.cast("long") * 1000L +
      least(lit(1000L), nw.cast("long") * 2L)
    TextAnalysis.quantileNormalize(
      docs(spark, dir).select(col("source"), score.as("score")))
  }

  /** c47: JSON-LINES ROUNDTRIP — the remaining ingest format next to
    * c33 (CSV) and c34 (ORC): events written as JSONL and read back
    * with an EXPLICIT schema (schema inference costs a full extra
    * scan — at 100 TB the schema is a contract, never a discovery),
    * sealed with c34's order-independent content digest so the
    * roundtrip is proven lossless. Timestamps travel as epoch-µs
    * longs: JSON has no timestamp type, and the µs-long convention is
    * the only representation that survives any JSON writer/parser
    * pair bit-exactly. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashes.h60
    val ev = table(spark, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"),
      floor(col("value") * 100.0d).cast("long").as("cents"))
    val out = ScratchDirs.create("graft_jsonl")
    ev.write.mode("overwrite").json(s"$out/events_jsonl")
    val back = spark.read.schema(ev.schema).json(s"$out/events_jsonl")
    def seal(df: org.apache.spark.sql.DataFrame, pfx: String) =
      df.select(h60(concat_ws("|", col("event_id"), col("user_id"),
          col("event_type"), col("ts_us"), col("cents"))).as("d0"),
          col("cents"))
        .agg(count(lit(1)).as(s"n_$pfx"),
          sum(col("cents")).as(s"cents_$pfx"),
          expr("bit_xor(d0)").as(s"digest_$pfx"))
    seal(ev, "old").crossJoin(seal(back, "new"))
  }

  /** c46: QUALITY-ABLATION LADDER — the planning table behind every
    * "train on the top X% by quality" decision: for each source and
    * each retention tier (top 25/50/75/100% by t55's within-source
    * score quantile), the surviving document and token counts. The
    * cut is `q_ppm > 1,000,000 − X·10,000` on the tie-collapsed
    * quantile frame — ties share a quantile, so a tier keeps whole
    * score-bands and the ladder is deterministic under any row order
    * (the same reason t26's quota machinery collapses first). One
    * corpus aggregation + a 4-row tier scaffold join; integers end to
    * end. */
  def ablationLadder(spark: SparkSession, dir: String): DataFrame = {
    val nw = size(split(col("text"), " "))
    val stops = size(array_distinct(filter(split(lower(col("text")), " "),
      w => w.isInCollection(TextAnalysis.gopherStops))))
    val score = stops.cast("long") * 1000L +
      least(lit(1000L), nw.cast("long") * 2L)
    val scored = docs(spark, dir)
      .select(col("source"), score.as("score"),
        nw.cast("long").as("toks"))
    val byScore = scored.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("cnt"), sum(col("toks")).as("toks"))
    val q = TextAnalysis.quantileNormalizeCollapsed(
      byScore.select(col("source"), col("score"), col("cnt")))
      .select(col("source"), col("score"), col("q_ppm"))
    val tiers = spark.range(1, 5)
      .select((col("id") * 25L).as("top_pct"))
    byScore.join(q, Seq("source", "score"))
      .crossJoin(broadcast(tiers))
      // the 100% tier keeps everything unconditionally: with integer
      // division a >1M-row source can floor its lowest band to
      // q_ppm = 0, and `q_ppm > 0` would silently drop it (r14 ADVICE)
      .filter(col("q_ppm") > lit(1000000L) - col("top_pct") * 10000L ||
        col("top_pct") === 100L)
      .groupBy(col("source"), col("top_pct"))
      .agg(sum(col("cnt")).cast("long").as("n_docs"),
        sum(col("toks")).cast("long").as("n_tokens"))
  }

  /** m16: PERCEPTUAL-HASH NEAR-DUP CLUSTERS — m04's banded pHash
    * pairs closed into transitive groups
    * ([[Dedup.connectedComponents]], per-round pinned min-label
    * propagation) with the smallest media id as keeper: the media-
    * side analogue of d07/d33, and the op that turns "these two look
    * alike" pairs into an actual keep/remove decision at crawl
    * scale. Output: multi-member clusters only (keeper, size,
    * removals). */
  def phashClusters(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val pairs = Multimodal.phashPairs(d, col("text"), col("doc_id"))
    Dedup.connectedComponents(pairs.select(col("da"), col("db")),
        d.select(col("doc_id")), col("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2L)
      .select(col("cluster").as("keeper_id"), col("n_members"),
        (col("n_members") - 1L).as("n_removed"))
  }

  /** d38: simhash-hamming vs exact token-set Jaccard calibration
    * ([[Dedup.simhashFidelity]] — the d32/d36 family's third table). */
  def simhashFidelity(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashFidelity(docs(spark, dir), col("text"), col("doc_id"))

  /** d37: CCNet-class block-level dedup — cross-document duplicated
    * 20-word blocks removed keeping the globally-first copy
    * ([[graft.ops.Dedup.blockDedup]]). */
  def blockDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.blockDedup(docs(spark, dir), col("text"), col("doc_id"))

  /** c45: PREFERENCE-PAIR MINING — the contrastive-data step of a
    * DPO/RLHF pipeline: within each (source, lang) stratum pick the
    * best- and worst-scoring document as a (chosen, rejected) pair
    * with its quality margin, dropping strata whose margin is too
    * small to teach anything. Score is an exact integer composite
    * (distinct essential-stopword hits in thousands + the capped
    * length prior), argmax/argmin break ties to the SMALLER doc_id via
    * min_by on a (score, doc_id) ordering key, so the pair is
    * deterministic under any row order — one keyed aggregation over
    * the corpus, no joins, no pair explosion. */
  def preferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val nw = size(split(col("text"), " "))
    val stops = size(array_distinct(filter(split(lower(col("text")), " "),
      w => w.isInCollection(TextAnalysis.gopherStops))))
    val score = stops.cast("long") * 1000L +
      least(lit(1000L), nw.cast("long") * 2L)
    // orderable integers: (score desc, doc_id asc) packed as
    // score * 2^40 ∓ doc_id (doc_id < 2^40 by fixture contract) —
    // kMax picks max score / smallest id, kMin min score / smallest id
    val kMax = score * lit(1L << 40) - col("doc_id")
    val kMin = score * lit(1L << 40) + col("doc_id")
    docs(spark, dir)
      .select(col("source"), col("lang"), col("doc_id"), score.as("s"),
        kMax.as("kmax"), kMin.as("kmin"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        max_by(col("doc_id"), col("kmax")).as("chosen_id"),
        max(col("s")).as("chosen_score"),
        min_by(col("doc_id"), col("kmin")).as("rejected_id"),
        min(col("s")).as("rejected_score"))
      .withColumn("margin", col("chosen_score") - col("rejected_score"))
      .filter(col("margin") >= 500L)
  }

  /** [[compactionPlan]]'s binning over any
    * (source, file_id, n_docs, bytes) inventory frame. */
  def compactionPlanFiles(files: DataFrame, target: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col("source"))
      .orderBy(col("bytes").desc, col("file_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cum", sum(col("bytes")).over(ord))
      .withColumn("bin", expr(s"(cum - bytes) div ${target}L"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_docs")).as("n_docs"),
        sum(col("bytes")).as("bin_bytes"))
      .withColumn("target_bytes", lit(target))
      .withColumn("over_target", col("bin_bytes") > lit(target))
  }
}
