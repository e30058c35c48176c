package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkFixture, TempDirs}

/** Seeded randomized from-definition checks for the round-14 additions
  * (q95 Gini, q96/st64 chi-squared, q97 Benford, t50 novelty, d34
  * soft-dedup, c42 legacy-manifest fallback): the distributed
  * tie-collapsed / integer-division implementations are compared
  * against brute-force single-threaded references on inputs the
  * implementations' author did not pick — heavy ties included, the
  * case the collapse machinery exists for. */
class Round14StatsSpec extends AnyFunSuite with SparkFixture with TempDirs {

  private val rnd = new scala.util.Random(20260814L)

  test("q95 Gini: random tied data matches the row-wise sorted-index " +
      "formula computed by brute force (exact num/den integers)") {
    import spark.implicits._
    for (round <- 1 to 3) {
      // small value domain → heavy ties, the collapse case
      val rows = (1 to 500).map { _ =>
        ("F" + rnd.nextInt(3), (rnd.nextInt(40) + 1).toLong * 7L)
      }
      val got = Relational.giniOver(rows.toDF("flag", "x")).collect()
        .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      rows.groupBy(_._1).foreach { case (f, g) =>
        val xs = g.map(_._2).sorted
        val n = xs.length.toLong
        val six = xs.zipWithIndex
          .map { case (x, i) => BigInt(i + 1) * x }.sum
        val sx = xs.map(BigInt(_)).sum
        val num = (2 * six - BigInt(n + 1) * sx).toLong
        val den = (BigInt(n) * sx).toLong
        assert(got(f) == ((num, den)), s"round $round flag $f")
      }
    }
  }

  test("q96 chi-squared: random contingency cells match the exact " +
      "rational (O*N - r*c)^2 / (N*r*c) per cell and the per-type " +
      "integer-sum statistic") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val cells = (for {
        t <- 0 until 4; w <- 0 until 7
        o = rnd.nextInt(200) + 1
      } yield ("t" + t, w.toLong, o.toLong))
        .filter(_ => rnd.nextInt(10) > 0) // some absent cells
      val got = Relational.chiSquaredCells(
        cells.toDF("event_type", "weekday", "o")).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      val nn = BigInt(cells.map(_._3).sum)
      val rT = cells.groupBy(_._1).view.mapValues(g =>
        BigInt(g.map(_._3).sum)).toMap
      val cT = cells.groupBy(_._2).view.mapValues(g =>
        BigInt(g.map(_._3).sum)).toMap
      val dof = (cells.map(_._1).distinct.size - 1).toLong *
        (cells.map(_._2).distinct.size - 1)
      val contribs = cells.map { case (t, w, o) =>
        val d = BigInt(o) * nn - rT(t) * cT(w)
        (t, w) -> (d * d * 1000000 / (nn * rT(t) * cT(w))).toLong
      }.toMap
      val chi2 = contribs.toSeq.groupBy(_._1._1).view
        .mapValues(_.map(_._2).sum).toMap
      cells.foreach { case (t, w, _) =>
        assert(got((t, w)) == ((contribs((t, w)), chi2(t), dof)),
          s"round $round cell ($t,$w)")
      }
    }
  }

  test("q97 Benford: zero-observed digits still contribute n*p, and " +
      "contributions match the brute rational at micro grain") {
    import spark.implicits._
    val eMicro = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
      66946L, 57991L, 51152L, 45757L)
    // values constructed so digit 9 never appears for type t0 — the
    // zero-observed branch must still contribute n*p
    val rows = (1 to 300).map { _ =>
      val t = "t" + rnd.nextInt(2)
      val lead = if (t == "t0") rnd.nextInt(8) + 1 else rnd.nextInt(9) + 1
      (t, lead.toDouble + rnd.nextInt(900) / 1000.0)
    }
    val df = rows.toDF("event_type", "value")
    val got = Relational.benfordOver(df).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
    val byDigit = rows
      .map { case (t, v) =>
        (t, (math.floor(v * 1000.0).toLong).toString.take(1).toLong)
      }
      .filter(_._2 >= 1)
    val nT = byDigit.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    for (t <- byDigit.map(_._1).distinct; d <- 1 to 9) {
      val o = byDigit.count(p => p._1 == t && p._2 == d).toLong
      val n = nT(t)
      val diff = BigInt(o) * 1000000 - BigInt(n) * eMicro(d - 1)
      val contrib = (diff * diff / (BigInt(n) * eMicro(d - 1))).toLong
      assert(got((t, d.toLong)) == ((n, o, contrib)), s"type $t digit $d")
      assert(got.contains((t, 9L)), "digit domain must include 9")
    }
  }

  test("t50 novelty: first-owner attribution matches brute force on " +
      "random small docs") {
    import spark.implicits._
    val words = Vector("a", "b", "c", "d", "e")
    val docs = (0 until 40).map { i =>
      (i.toLong, (1 to (3 + rnd.nextInt(6)))
        .map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }
    val got = graft.ops.TextAnalysis.ngramNovelty(
      docs.toDF("doc_id", "text"), col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val firstOwner = scala.collection.mutable.Map.empty[String, Long]
    docs.sortBy(_._1).foreach { case (id, t) =>
      shingles(t).foreach(s =>
        if (!firstOwner.contains(s)) firstOwner(s) = id)
    }
    docs.foreach { case (id, t) =>
      val sh = shingles(t)
      if (sh.nonEmpty) {
        val novel = sh.count(s => firstOwner(s) == id).toLong
        assert(got(id) == ((sh.size.toLong, novel)), s"doc $id")
      } else assert(!got.contains(id), s"doc $id must emit nothing")
    }
  }

  test("d34 soft-dedup: weight_micro = 1000000 div multiplicity, " +
      "weights of a fingerprint group sum to ~1") {
    import spark.implicits._
    val docs = (0 until 30).map(i => (i.toLong, "text" + (i % 7)))
    val got = graft.ops.Dedup.softDedupWeights(
      docs.toDF("doc_id", "text"), col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    docs.foreach { case (id, t) =>
      val m = docs.count(_._2 == t).toLong
      assert(got(id) == ((m, 1000000L / m)), s"doc $id")
    }
  }

  test("q99 weighted median: the collapsed-frame pick matches the " +
      "brute row-expansion median on random tied, weighted data") {
    import spark.implicits._
    // drive the same collapsed pipeline weightedMedian builds, via a
    // synthetic lineitem-shaped frame written to parquet
    for (round <- 1 to 3) {
      val rows = (1 to 400).map { _ =>
        ("F" + rnd.nextInt(2), (rnd.nextInt(30) + 1).toLong,
          (rnd.nextInt(5) + 1).toLong)
      }
      val dir = tempDir(s"graft_wm_$round").toString
      rows.toDF("l_returnflag", "xc", "w")
        .select(col("l_returnflag"),
          (col("xc").cast("double") / 100.0d).as("l_extendedprice"),
          col("w").cast("double").as("l_quantity"))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val got = Relational.weightedMedian(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      rows.groupBy(_._1).foreach { case (f, g) =>
        // brute: expand each value w times, take the lower median
        val expanded = g.flatMap { case (_, x, w) =>
          Seq.fill(w.toInt)(x) }.sorted
        val total = expanded.length
        // lower weighted median: smallest x with 2*cumw >= total
        val lower = expanded(
          expanded.indices.find(i => 2 * (i + 1) >= total).get)
        assert(got(f) == lower, s"round $round flag $f")
      }
    }
  }

  test("t51 repetition gate: dup/top fractions match brute per-doc " +
      "n-gram occurrence counting") {
    import spark.implicits._
    val words = Vector("x", "y", "z")
    val docs = (0 until 30).map { i =>
      (i.toLong, (1 to (3 + rnd.nextInt(8)))
        .map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }
    val got = graft.ops.TextAnalysis.repetitionGate(
      docs.toDF("doc_id", "text"), col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(6))))
      .toMap
    docs.foreach { case (id, t) =>
      val occ = t.split(" ").sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSeq
      if (occ.nonEmpty) {
        val byS = occ.groupBy(identity).view.mapValues(_.size).toMap
        val (nOcc, nDis, topC) =
          (occ.size.toLong, byS.size.toLong, byS.values.max.toLong)
        val keep = (nOcc - nDis) * 1000L <= nOcc * 200L
        assert(got(id) == ((nOcc, nDis, topC, keep)), s"doc $id")
      } else assert(!got.contains(id), s"doc $id must emit nothing")
    }
  }

  test("d35 cluster keeper: longest doc (min id on ties) survives, " +
      "char accounting balances") {
    import spark.implicits._
    // two exact-dup families + singletons; n_chars varies inside one
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", 35L),
      (2L, "alpha beta gamma delta epsilon zeta", 40L),
      (3L, "alpha beta gamma delta epsilon zeta", 40L),
      (4L, "one two three four five six seven", 33L),
      (5L, "totally unrelated content here now", 34L))
      .toDF("doc_id", "text", "n_chars")
    val cc = graft.ops.Dedup.connectedComponents(
      graft.ops.Dedup.minhashCandidates(docs, col("text"), col("doc_id")),
      docs, col("doc_id"))
    val got = cc.join(docs.select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster"), col("n"), (-col("b.nid")).as("keep"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(1L) == ((3L, 2L)),
      "docs 1-3 cluster under label 1; doc 2 wins (40 chars, id < 3)")
    assert(got(4L) == ((1L, 4L)) && got(5L) == ((1L, 5L)))
  }

  test("c42 foundation: readNShards falls back to the manifest entry " +
      "count on a legacy (pre-header) manifest, and mergeVersioned " +
      "accepts the inferred count") {
    import spark.implicits._
    val out = tempDir("graft_legacy_spec").toString
    val base = (0L until 40L).map(k => (k, k * 10L))
      .toDF("user_id", "v")
    graft.ops.Lake.writeVersioned(base, "user_id", out, nShards = 8)
    val mf = java.nio.file.Paths.get(out, "_manifests", "v1.manifest")
    val legacy = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(mf)).asScala
      .filterNot(_.startsWith("#")).mkString("\n")
    java.nio.file.Files.write(mf, legacy.getBytes("UTF-8"))
    assert(graft.ops.Lake.readNShards(out, 1) == 8,
      "entry-count fallback must recover the committed shard count")
    val ch = Seq((3L, 999L, "upsert"), (4L, 0L, "delete"))
      .toDF("user_id", "v", "op")
    graft.ops.Lake.mergeVersioned(spark, out, "user_id", ch, 8)
    val m = graft.ops.Lake.readVersioned(spark, out).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(3L) == 999L && !m.contains(4L) && m(5L) == 50L)
  }

  test("q104 winsorized mean: random tied data matches the row-wise " +
      "clamp-at-rank-edges definition computed by brute force") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val rows = (1 to (if (round == 3) 7 else 400)).map { _ =>
        ("W" + rnd.nextInt(3), rnd.nextInt(25).toLong) // heavy ties
      }
      val got = Relational.winsorizedMeanCollapsed(
        rows.toDF("event_type", "vfx")
          .groupBy(col("event_type"), col("vfx"))
          .agg(count(lit(1)).as("cnt"))).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(6)))).toMap
      rows.groupBy(_._1).foreach { case (t, g) =>
        val xs = g.map(_._2).sorted
        val n = xs.length
        val k = n / 10
        val lo = xs(k)          // rank k+1, 0-indexed
        val hi = xs(n - k - 1)  // rank n-k
        val ws = xs.zipWithIndex.map { case (x, i) =>
          if (i < k) lo else if (i >= n - k) hi else x
        }.sum
        assert(got(t) == ((n.toLong, k.toLong, lo, hi, ws)),
          s"round $round type $t (n=$n k=$k)")
      }
    }
  }

  test("q103 PSI: random two-window value counts match the brute-force " +
      "reference-decile + add-one + fixed-point-log2 definition") {
    import spark.implicits._
    import graft.functions.PortableMath
    for (round <- 1 to 3) {
      val halves = (for {
        t <- 0 until 2; h <- 0 until 2
        _ <- 1 to (20 + rnd.nextInt(30))
      } yield ("p" + t, h.toLong, rnd.nextInt(40).toLong))
        .groupBy(identity).map { case ((t, h, v), g) =>
          (t, h, v, g.size.toLong) }.toSeq
      val got = Relational.psiCollapsed(
        halves.toDF("event_type", "half", "vfx", "cnt")).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(7))))
        .toMap
      halves.groupBy(_._1).foreach { case (t, g) =>
        val ref = g.filter(_._2 == 0L).flatMap(r =>
          Seq.fill(r._4.toInt)(r._3)).sorted
        val cur = g.filter(_._2 == 1L).flatMap(r =>
          Seq.fill(r._4.toInt)(r._3)).sorted
        val nRef = ref.size.toLong
        val nCur = cur.size.toLong
        val edges = (1 to 9).map { k =>
          // lower-rank decile pick: min v with cum*10 >= total*k
          ref(((nRef * k + 9) / 10 - 1).toInt)
        }
        def bin(v: Long): Int = edges.count(v >= _)
        val rB = (0 to 9).map(i => ref.count(bin(_) == i).toLong)
        val cB = (0 to 9).map(i => cur.count(bin(_) == i).toLong)
        val l2B = (0 to 9).map { i =>
          val cn = (cB(i) + 1) * (nRef + 10)
          val rn = (rB(i) + 1) * (nCur + 10)
          PortableMath.log2FixedLong(cn.toDouble / rn.toDouble)
        }
        val psiFx = (0 to 9).map { i =>
          val cn = (cB(i) + 1) * (nRef + 10)
          val rn = (rB(i) + 1) * (nCur + 10)
          BigInt(cn - rn) * l2B(i)
        }.sum.toLong
        (0 to 9).foreach { i =>
          val k = (t, i.toLong)
          assert(got(k) == ((rB(i), cB(i), l2B(i), psiFx)),
            s"round $round type $t bin $i: ${got(k)} vs " +
              s"(${rB(i)}, ${cB(i)}, ${l2B(i)}, $psiFx)")
        }
      }
    }
  }

  test("q105 Cramér's V: random contingency cells match the " +
      "sqrt(chi2/(n*min(r-1,c-1))) definition from the exact integer " +
      "micro-sum") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val cells = (for {
        t <- 0 until (2 + rnd.nextInt(4)); w <- 0 until 7
        o = rnd.nextInt(300) + 1
      } yield ("t" + t, w.toLong, o.toLong))
        .filter(_ => rnd.nextInt(8) > 0)
      val row = Relational.cramersVCells(
        cells.toDF("event_type", "weekday", "o")).collect().head
      val chiRows = Relational.chiSquaredCells(
        cells.toDF("event_type", "weekday", "o")).collect()
      val chi2 = chiRows.map(_.getLong(4)).sum
      val n = cells.map(_._3).sum
      val r = cells.map(_._1).distinct.size
      val c = cells.map(_._2).distinct.size
      val m = math.min(r - 1, c - 1).toLong
      assert(row.getLong(0) == n && row.getLong(4) == chi2)
      assert(row.getDouble(5) ==
        math.sqrt(chi2.toDouble / (n * m * 1000000L).toDouble),
        s"round $round")
    }
  }

  test("q106 Theil-Sen: random daily series matches the brute-force " +
      "lower-median of exact pairwise mean slopes") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val daily = (for {
        t <- 0 until 3; d <- 0 until (5 + rnd.nextInt(25))
      } yield ("t" + t, d.toLong,
        (rnd.nextInt(50) + 1).toLong, rnd.nextInt(2000).toLong - 500L))
      val got = Relational.theilSenDaily(
        daily.toDF("event_type", "d", "x", "y")).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      daily.groupBy(_._1).foreach { case (t, g) =>
        val slopes = (for {
          (_, d1, c1, s1) <- g; (_, d2, c2, s2) <- g
          if d1 < d2
        } yield (s2 * c1 - s1 * c2).toDouble /
            (c1 * c2 * (d2 - d1)).toDouble).sorted
        val med = slopes((slopes.length - 1) / 2)
        assert(got(t) == ((g.size.toLong, slopes.length.toLong, med)),
          s"round $round type $t")
      }
    }
  }

  test("t52 kappa: random rater flags match the brute-force 2x2 " +
      "chance-corrected agreement") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val flags = (1 to 600).map { _ =>
        ("s" + rnd.nextInt(3), rnd.nextInt(4) > 0, rnd.nextInt(3) > 0)
      }
      val got = graft.ops.TextAnalysis.kappaAgreement(
        flags.toDF("source", "a_keep", "b_keep")).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(7), r.getLong(8)))).toMap
      flags.groupBy(_._1).foreach { case (s, g) =>
        val n = g.size.toLong
        val both = g.count(x => x._2 && x._3).toLong
        val aOnly = g.count(x => x._2 && !x._3).toLong
        val bOnly = g.count(x => !x._2 && x._3).toLong
        val nei = g.count(x => !x._2 && !x._3).toLong
        val pe = (both + aOnly) * (both + bOnly) +
          (bOnly + nei) * (aOnly + nei)
        assert(got(s) == ((n, both, aOnly, bOnly, nei,
          n * (both + nei) - pe, n * n - pe)), s"round $round src $s")
      }
    }
  }

  test("t53 ECE: random reliability cells match the brute-force " +
      "integer |1000*pos - score_mass| fold") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val cells = (1 to 300).map { _ =>
        val n = rnd.nextInt(20) + 1L
        val pos = rnd.nextInt(n.toInt + 1).toLong
        ("s" + rnd.nextInt(2), rnd.nextInt(10).toLong, n, pos,
          n * rnd.nextInt(1000).toLong)
      }
      val got = graft.ops.TextAnalysis.eceCollapsed(
        cells.toDF("source", "bin", "n", "pos", "sum_milli")).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(7), r.getLong(8))))
        .toMap
      cells.groupBy(c => (c._1, c._2)).foreach { case ((s, b), g) =>
        val nB = g.map(_._3).sum
        val pos = g.map(_._4).sum
        val sm = g.map(_._5).sum
        val perSrc = cells.filter(_._1 == s)
          .groupBy(_._2).values.map { gg =>
            math.abs(gg.map(_._4).sum * 1000L - gg.map(_._5).sum) }.sum
        val nSrc = cells.filter(_._1 == s).map(_._3).sum
        assert(got((s, b)) == ((nB, pos, nSrc, perSrc)),
          s"round $round ($s, $b)")
      }
    }
  }

  test("c44 compaction plan: random inventories match the brute-force " +
      "next-fit-decreasing binning and respect the NF overfill bound") {
    import spark.implicits._
    val target = 1L << 16
    for (round <- 1 to 3) {
      val files = for {
        s <- Seq("a", "b"); i <- 0 until 32
      } yield (s, i.toLong, rnd.nextInt(5) + 1L,
        (rnd.nextInt(40000) + 100).toLong)
      val got = PipelineQueries.compactionPlanFiles(
        files.toDF("source", "file_id", "n_docs", "bytes"), target)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      files.groupBy(_._1).foreach { case (s, g) =>
        var cum = 0L
        val binned = g.sortBy { case (_, id, _, b) => (-b, id) }
          .map { case (_, _, nd, b) =>
            val bin = cum / target; cum += b; (bin, nd, b)
          }
        binned.groupBy(_._1).foreach { case (bin, bg) =>
          val expect = (bg.size.toLong, bg.map(_._2).sum, bg.map(_._3).sum)
          assert(got((s, bin)) == expect, s"round $round ($s, $bin)")
          // NF bound: a bin exceeds the target only by its last file
          assert(bg.map(_._3).sum <= target + bg.last._3,
            s"round $round bin $bin overfilled beyond the NF bound")
        }
      }
    }
  }

  test("q110 Mann-Kendall: random daily series match the brute-force " +
      "S statistic and tie-corrected Var*18") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val daily = (for {
        t <- 0 until 3; d <- 0 until (5 + rnd.nextInt(20))
      } yield ("t" + t, d.toLong,
        (rnd.nextInt(6) + 1).toLong, rnd.nextInt(30).toLong))
      val got = Relational.mannKendallDaily(
        daily.toDF("event_type", "d", "x", "y")).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(4), r.getDouble(5))))
        .toMap
      daily.groupBy(_._1).foreach { case (t, g) =>
        val pairs = for {
          (_, d1, c1, s1) <- g; (_, d2, c2, s2) <- g
          if d1 < d2
        } yield java.lang.Long.signum(s2 * c1 - s1 * c2).toLong
        val s = pairs.sum
        val n = g.size.toLong
        val tieTerm = g.groupBy(r => r._4.toDouble / r._3.toDouble)
          .values.map(_.size.toLong)
          .map(tt => tt * (tt - 1) * (2 * tt + 5)).sum
        val var18 = n * (n - 1) * (2 * n + 5) - tieTerm
        val z = (if (s > 0) (s - 1).toDouble
          else if (s < 0) (s + 1).toDouble else 0.0) /
          math.sqrt(var18.toDouble / 18.0)
        assert(got(t) == ((n, s, var18, z)), s"round $round $t")
      }
    }
  }

  test("d37 block dedup: cross-doc duplicated blocks are removed " +
      "keeping the globally-first copy; kept text fingerprint matches " +
      "brute force") {
    import spark.implicits._
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    // 4-word blocks on tiny docs so duplicates are guaranteed
    val docs = (0 until 25).map { i =>
      (i.toLong, (1 to (4 + 4 * rnd.nextInt(3)))
        .map(_ => words(rnd.nextInt(3))).mkString(" "))
    }
    val got = graft.ops.Dedup.blockDedup(
      docs.toDF("doc_id", "text"), col("text"), col("doc_id"),
      blockWords = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def blocks(t: String): Seq[String] =
      t.split(" ").grouped(4).map(_.mkString(" ")).toSeq
    // docs ascend by id and blocks by index, so first insertion IS the
    // global (doc_id, block_index) minimum
    val keeper = scala.collection.mutable.Map.empty[String, (Long, Int)]
    docs.sortBy(_._1).foreach { case (id, t) =>
      blocks(t).zipWithIndex.foreach { case (b, i) =>
        if (!keeper.contains(b)) keeper(b) = (id, i)
      }
    }
    docs.foreach { case (id, t) =>
      val bs = blocks(t)
      val kept = bs.zipWithIndex
        .filter { case (b, i) => keeper(b) == ((id, i)) }.map(_._1)
      val fp = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(got(id) == ((bs.size.toLong,
        (bs.size - kept.size).toLong, fp)), s"doc $id")
    }
  }

  test("d37 packed keeper key fails loudly out of range instead of " +
      "silently corrupting keeper selection (r14 advice)") {
    import spark.implicits._
    // in range: packs exactly
    val ok = Seq((5L, 3L)).toDF("d", "b")
      .select(graft.ops.Dedup.packedBlockKey(col("d"), col("b")))
      .head().getLong(0)
    assert(ok == 5L * (1L << 20) + 3L)
    // doc_id >= 2^40 and bid >= 2^20 both raise, naming the values
    def boom(d: Long, b: Long): String =
      intercept[Exception] {
        Seq((d, b)).toDF("d", "b")
          .select(graft.ops.Dedup.packedBlockKey(col("d"), col("b")))
          .head()
      }.getMessage
    assert(boom(1L << 40, 0L).contains("out of range"))
    assert(boom(1L, 1L << 20).contains("bid"))
    assert(boom(-1L, 0L).contains("out of range"))
  }

  test("q112 runs test: random daily series match brute-force run/" +
      "sign counts and the z statistic") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val daily = (for {
        t <- 0 until 3; d <- 0 until (8 + rnd.nextInt(20))
      } yield ("t" + t, d.toLong,
        (rnd.nextInt(5) + 1).toLong, rnd.nextInt(40).toLong))
      val got = Relational.runsTestDaily(
        daily.toDF("event_type", "d", "x", "y")).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
      daily.groupBy(_._1).foreach { case (t, g) =>
        val ms = g.sortBy(_._2).map(r => r._4.toDouble / r._3.toDouble)
        val sortedM = ms.sorted
        // lower median over the collapsed frame == element at
        // ceil(n/2) of the expanded sorted list
        val med = sortedM((sortedM.length - 1) / 2)
        val signs = ms.filter(_ != med).map(m => if (m > med) 1 else -1)
        val n1 = signs.count(_ == 1).toLong
        val n2 = signs.count(_ == -1).toLong
        val r = (1 +: signs.sliding(2).filter(_.length == 2)
          .map(p => if (p(0) != p(1)) 1 else 0).toSeq).sum.toLong
        val nn = n1 + n2
        val z = (r * nn - 2 * n1 * n2 - nn).toDouble /
          (nn.toDouble * math.sqrt(
            (2 * n1 * n2 * (2 * n1 * n2 - nn)).toDouble /
              (nn * nn * (nn - 1)).toDouble))
        assert(got(t) == ((n1, n2, r, z)), s"round $round $t")
      }
    }
  }

  test("t54 encoding audit: planted mojibake classes are counted " +
      "exactly and gate the keep flag") {
    import spark.implicits._
    val rows = Seq(
      (1L, "clean text with words"),
      (2L, "double encoded cafÃ© twice cafÃ©"),
      (3L, "lost byte he�e"),
      (4L, "control\u0001char"),
      (5L, "tab\tand\nnewline are fine"))
    val got = graft.ops.TextAnalysis.encodingAudit(
      rows.toDF("doc_id", "text"), col("text"), col("doc_id"),
      maxDigraphPerKiloChar = 2L).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(got(1L) == ((0L, 0L, 0L, true)))
    assert(got(2L)._2 == 2L && !got(2L)._4) // 2 digraphs, short doc
    assert(got(3L) == ((1L, 0L, 0L, false)))
    assert(got(4L) == ((0L, 0L, 1L, false)))
    assert(got(5L) == ((0L, 0L, 0L, true))) // tab/newline exempt
  }

  test("t55 quantile normalization: random tied scores match the " +
      "brute-force within-source empirical CDF in ppm") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val scored = (1 to 400).map { _ =>
        ("s" + rnd.nextInt(3), rnd.nextInt(15).toLong * 3L)
      }
      val got = graft.ops.TextAnalysis.quantileNormalize(
        scored.toDF("source", "score")).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
      scored.groupBy(_._1).foreach { case (s, g) =>
        val n = g.size.toLong
        g.map(_._2).distinct.foreach { v =>
          val cnt = g.count(_._2 == v).toLong
          val cum = g.count(_._2 <= v).toLong
          assert(got((s, v)) == ((cnt, cum, cum * 1000000L / n)),
            s"round $round ($s, $v)")
        }
      }
    }
  }

  test("q108 integer PageRank: random bipartite graphs match a " +
      "brute-force 3-iteration fixed-point reference") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val edges = (1 to 120).map { _ =>
        ("u:" + rnd.nextInt(15), "t:" + rnd.nextInt(4))
      }.distinct
      val got = Relational.pagerankBipartite(edges.toDF("u", "t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val dir2 = edges.map { case (u, t) => (u, t) } ++
        edges.map { case (u, t) => (t, u) }
      val deg = dir2.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val nodes = deg.keySet
      var pr = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to 3) {
        val s = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        dir2.foreach { case (src, dst) =>
          s(dst) += pr(src) / deg(src)
        }
        pr = nodes.map(n => n -> (150000L + 85L * s(n) / 100L)).toMap
      }
      nodes.foreach { n =>
        assert(got(n) == pr(n), s"round $round node $n")
      }
    }
  }

  test("q109 Hodges-Lehmann: random daily series matches the " +
      "brute-force lower median of pairwise Walsh averages") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val daily = (for {
        t <- 0 until 3; d <- 0 until (4 + rnd.nextInt(20))
      } yield ("t" + t, d.toLong,
        (rnd.nextInt(40) + 1).toLong, rnd.nextInt(3000).toLong - 800L))
      val got = Relational.hodgesLehmannDaily(
        daily.toDF("event_type", "d", "x", "y")).collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2))))
        .toMap
      daily.groupBy(_._1).foreach { case (t, g) =>
        val ws = (for {
          (_, d1, c1, s1) <- g; (_, d2, c2, s2) <- g
          if d1 <= d2
        } yield (s1 * c2 + s2 * c1).toDouble /
            (c1 * c2 * 2L).toDouble).sorted
        val med = ws((ws.length - 1) / 2)
        assert(got(t) == ((med, ws.length.toLong)), s"round $round $t")
      }
    }
  }

  test("q107 Kendall tau-b: random daily series matches brute-force " +
      "concordant/discordant/tie counts and the tie-corrected statistic") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val daily = (for {
        t <- 0 until 3; d <- 0 until (5 + rnd.nextInt(25))
      } yield ("t" + t, d.toLong,
        rnd.nextInt(6).toLong, rnd.nextInt(6).toLong)) // heavy ties
      val got = Relational.kendallTauDaily(
        daily.toDF("event_type", "d", "x", "y")).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getDouble(7)))).toMap
      daily.groupBy(_._1).foreach { case (t, g) =>
        val pairs = for {
          (_, d1, x1, y1) <- g; (_, d2, x2, y2) <- g
          if d1 < d2
        } yield (x2 - x1, y2 - y1)
        val cc = pairs.count(p => p._1 * p._2 > 0).toLong
        val dd = pairs.count(p => p._1 * p._2 < 0).toLong
        val tx = pairs.count(_._1 == 0).toLong
        val ty = pairs.count(_._2 == 0).toLong
        val n0 = pairs.size.toLong
        val tau = (cc - dd).toDouble /
          math.sqrt(((n0 - tx) * (n0 - ty)).toDouble)
        assert(got(t) == ((n0, cc, dd, tx, ty, tau)),
          s"round $round type $t")
      }
    }
  }
}
