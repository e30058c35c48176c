package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** The IVF serving split behind s25/st24: [[Vectors.ivfInvertedLists]]
  * (train side) + [[Vectors.ivfServeTopK]] (serve side) must compose to
  * exactly [[Vectors.annIvfTopKWith]], the serving plan fed from parquet
  * artifacts must contain no training stage, and serving a query set in
  * independent slices must union to serving it whole — the property
  * that makes per-micro-batch streaming serving (st24) equal its batch
  * oracle with no cross-batch state. */
class VectorServeSpec extends AnyFunSuite with SparkFixture with TempDirs {

  private def vecs = {
    import spark.implicits._
    (0L to 29L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13).toFloat / 13f))
    }.toDF("vec_id", "embedding")
  }

  private def cents =
    Vectors.kmeansFit(vecs, col("vec_id"), col("embedding"),
      k = 4, iters = 2)._1

  test("ivfInvertedLists + ivfServeTopK compose to annIvfTopKWith") {
    val c = cents
    val queries = vecs.filter(col("vec_id") < 6)
    val direct = Vectors.annIvfTopKWith(vecs, queries,
      col("vec_id"), col("embedding"), k = 3, c).collect().toSet
    val lists = Vectors.ivfInvertedLists(vecs, col("vec_id"),
      col("embedding"), c)
    val served = Vectors.ivfServeTopK(lists, c, queries,
      col("vec_id"), col("embedding"), k = 3).collect().toSet
    assert(direct === served)
    assert(direct.nonEmpty)
  }

  test("serving from parquet artifacts: no training stage, equi-join candidates") {
    val c = cents
    val dir = tempDir("graft_serve_spec").toString
    c.write.parquet(s"$dir/centroids")
    Vectors.ivfInvertedLists(vecs, col("vec_id"), col("embedding"), c)
      .write.parquet(s"$dir/lists")
    val served = Vectors.ivfServeTopK(
      spark.read.parquet(s"$dir/lists"),
      spark.read.parquet(s"$dir/centroids"),
      vecs.filter(col("vec_id") < 6),
      col("vec_id"), col("embedding"), k = 3)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("graft_serve_spec"),
      s"serving must scan the stored artifacts\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"no checkpointed training model may leak into the serving plan\n$p")
    assert(!p.contains("CartesianProduct"),
      s"inverted-list candidates must come from the cid equi-join\n$p")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(p).isDefined, s"expected the cell-id equi-join\n$p")
  }

  test("incremental add: appended lists serve identically to a rebuild (s26's invariant)") {
    val c = cents
    val base = vecs.filter(col("vec_id") % 5 =!= 2)
    val arrivals = vecs.filter(col("vec_id") % 5 === 2)
    val appended = Vectors.ivfInvertedLists(base, col("vec_id"),
        col("embedding"), c)
      .unionByName(Vectors.ivfInvertedLists(arrivals, col("vec_id"),
        col("embedding"), c))
    val rebuilt = Vectors.ivfInvertedLists(vecs, col("vec_id"),
      col("embedding"), c)
    def serve(lists: org.apache.spark.sql.DataFrame) =
      Vectors.ivfServeTopK(lists, c, vecs.filter(col("vec_id") < 6),
        col("vec_id"), col("embedding"), k = 3).collect().toSet
    assert(serve(appended) === serve(rebuilt))
  }

  test("slice-and-union serving equals whole-set serving (st24's micro-batch property)") {
    val c = cents
    val lists = Vectors.ivfInvertedLists(vecs, col("vec_id"),
      col("embedding"), c)
    def serve(qs: org.apache.spark.sql.DataFrame) =
      Vectors.ivfServeTopK(lists, c, qs, col("vec_id"), col("embedding"),
        k = 3).collect().toSet
    val whole = serve(vecs.filter(col("vec_id") < 6))
    val sliced = serve(vecs.filter(col("vec_id") < 3)) ++
      serve(vecs.filter(col("vec_id") >= 3 && col("vec_id") < 6))
    assert(whole === sliced)
  }

  test("graph ANN: full-connectivity graph + wide beam reduces to exact " +
      "top-k, served from the stored artifact (s27)") {
    val dir = tempDir("graft_graph_spec").toString
    Vectors.knnGraphEdges(vecs, col("vec_id"), col("embedding"),
        degree = 29)
      .write.parquet(s"$dir/graph")
    val g = spark.read.parquet(s"$dir/graph")
    val q = vecs.filter(col("vec_id") < 5)
    val served = Vectors.graphSearchTopK(vecs, q, col("vec_id"),
      col("embedding"), g, beam = 29, k = 3)
    val got = served.select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = Vectors.annTopK(vecs, q, col("vec_id"), col("embedding"), 3)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === exact)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("graft_graph_spec"),
      s"search must walk the stored graph artifact\n$p")
  }

  test("blocked kNN-graph build is edge-identical to the expression " +
      "path, at any blocking") {
    val a = Vectors.knnGraphEdges(vecs, col("vec_id"), col("embedding"),
      degree = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (rpb <- Seq(4, 7, 512)) {
      val b = Vectors.knnGraphEdgesBlocked(vecs, col("vec_id"),
          col("embedding"), degree = 4, rowsPerBlock = rpb)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a === b, s"rowsPerBlock=$rpb")
    }
  }

  test("s40: norm-bound pruned MIPS == brute MIPS on randomized " +
      "corpora (lossless bound), and the prune actually bites when " +
      "norms spread") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // Norm spread is the point: scale each vector by a random factor
    // so the Cauchy-Schwarz bound separates candidates.
    val df = (0L until 120L).map { i =>
      val s = 0.2f + rnd.nextFloat() * 3f
      (i, Array.fill(8)((rnd.nextFloat() - 0.5f) * s))
    }.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 5)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getInt(3))).toSet
    val brute = key(Vectors.mipsTopK(df, q, col("vec_id"),
      col("embedding"), k = 6))
    for (seedM <- Seq(8, 32, 200)) {
      val pruned = key(Vectors.mipsNormPruneTopK(df, q, col("vec_id"),
        col("embedding"), k = 6, seedM = seedM))
      assert(pruned === brute, s"seedM=$seedM")
    }
    // Survivor fraction — replicate the bound filter inline and count
    // the verified pairs: on a norm-spread corpus the bound must
    // strictly prune vs the 5·(N−1) brute pair count.
    val c = Vectors.prepared(df, col("vec_id"), col("embedding"))
    val nCorpus = c.count()
    val qp = Vectors.prepared(q, col("vec_id"), col("embedding"))
      .select(col("vid").as("qid"), col("iv").as("qiv"),
        col("n2").as("qn2"))
    val seed = c.orderBy(col("n2").desc, col("vid")).limit(32)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("dot").desc, col("nid"))
    val dks = qp.crossJoin(broadcast(seed))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("qn2"), col("vid").as("nid"),
        Vectors.idot(col("qiv"), col("iv")).as("dot"))
      .withColumn("r", row_number().over(w)).filter(col("r") === 6)
      .select(col("qid"), col("qn2"), col("dot").as("dk"))
    val d38 = (x: org.apache.spark.sql.Column) =>
      x.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val survivors = c.crossJoin(broadcast(dks))
      .filter(col("vid") =!= col("qid"))
      .filter(col("dk") < 0L ||
        d38(col("qn2")) * col("n2") >= d38(col("dk")) * col("dk"))
      .count()
    assert(survivors < 5L * (nCorpus - 1),
      s"norm bound never pruned: $survivors pairs")
  }

  test("graph ANN: narrow search visits only entry + adjacency + " +
      "beam-expansion nodes (s27's bounded-cost invariant)") {
    val g = Vectors.knnGraphEdges(vecs, col("vec_id"), col("embedding"),
      degree = 2).localCheckpoint()
    val adj = g.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val entry = 0L // min vec_id of the 0-29 fixture
    val q = vecs.filter(col("vec_id") === 7L)
    val res = Vectors.graphSearchTopK(vecs, q, col("vec_id"),
        col("embedding"), g, beam = 1, k = 10)
      .select("nid").collect().map(_.getLong(0)).toSet
    // reachable in <= 2 hops from the entry under ANY beam-1 choice
    val hop1 = adj(entry)
    val reachable = Set(entry) ++ hop1 ++ hop1.flatMap(adj.getOrElse(_, Set.empty[Long]))
    assert(res.subsetOf(reachable - 7L))
    assert(res.nonEmpty)
  }

  test("s42 mmr: distributed greedy == sequential greedy reference " +
      "on random corpora") {
    import spark.implicits._
    for (seed <- Seq(19, 83, 407)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0L until 40L).map { i =>
        (i, Array.fill(6)((rnd.nextInt(2000) - 1000) / 997f))
      }
      val got = Vectors.mmrRerank(rows.toDF("vec_id", "embedding"),
          col("vec_id"), col("embedding"),
          nQueries = 3, kCand = 6, kOut = 4)
        .collect()
        .map(r => (r.getLong(0), r.getInt(2).toLong) -> r.getLong(1))
        .toMap
      // reference: same int-scale, same cosine, same greedy tie rule
      val iv = rows.map { case (i, a) =>
        i -> a.map(x => math.floor(x.toDouble * 1000000.0).toLong)
      }.toMap
      def cos(a: Long, b: Long): Double = {
        val (va, vb) = (iv(a), iv(b))
        val dot = va.zip(vb).map { case (x, y) => x * y }.sum
        val n2 = (v: Array[Long]) => v.map(x => x * x).sum
        dot.toDouble /
          (math.sqrt(n2(va).toDouble) * math.sqrt(n2(vb).toDouble))
      }
      (0L until 3L).foreach { q =>
        val cand = (0L until 40L).filter(_ != q)
          .map(n => n -> cos(q, n))
          .sortBy { case (n, c) => (-c, n) }.take(6)
        var selected = Vector(cand.maxBy { case (n, c) => (c, -n) }._1)
        (2 to 4).foreach { r =>
          val rest = cand.filterNot(c => selected.contains(c._1))
          val pick = rest.map { case (n, rel) =>
            val msim = selected.map(s => cos(n, s)).max
            (n, 0.7d * rel - 0.3d * msim)
          }.maxBy { case (n, s) => (s, -n) }._1
          selected :+= pick
        }
        selected.zipWithIndex.foreach { case (n, i) =>
          assert(got((q, i + 1L)) == n,
            s"seed=$seed q=$q pick=${i + 1} got=${got((q, i + 1L))} " +
              s"want=$n")
        }
      }
    }
  }
}
