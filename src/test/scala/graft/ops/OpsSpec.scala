package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkFixture, TempDirs}

class OpsSpec extends AnyFunSuite with SparkFixture with TempDirs {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat"), // near dup
      (4L, "completely different words entirely here now today friends"))
      .toDF("doc_id", "text")
  }

  test("exact dedup groups duplicates under one fingerprint") {
    val g = Dedup.exactGroups(docs, col("text"), col("doc_id")).collect()
    assert(g.length == 3)
    val dup = g.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 1L) // keeps min doc_id
  }

  test("minhash LSH pairs exact + near duplicates, not distinct docs") {
    val pairs = Dedup.minhashCandidates(docs, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical docs always collide
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccard: identical docs = 1.0; near dups high; distinct absent") {
    val j = Dedup.jaccardPairs(docs, col("text"), col("doc_id"),
      threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.5 && j((1L, 3L)) < 1.0)
    assert(!j.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("shingles on short/empty docs yield empty arrays, not errors") {
    import spark.implicits._
    val d = Seq((1L, "one two"), (2L, ""), (3L, "a"),
      (4L, "exactly three words"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(d, col("text"), col("doc_id"), 3).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(sh.toSeq == Seq((4L, "exactly three words")))
    // and the whole candidate pipeline stays alive on short docs
    assert(Dedup.minhashCandidates(d, col("text"), col("doc_id"))
      .collect().isEmpty)
  }

  test("simhash: identical docs share signature; pairs found at dist<=3") {
    val sims = Dedup.simhash(docs, col("text"), col("doc_id"))
    val m = sims.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(m(1L) == m(2L))
    val pairs = Dedup.simhashPairs(sims).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("cosine: identical vectors 1.0, orthogonal 0.0; topk excludes self") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Vectors.nearDupPairs(vecs, col("vec_id"), col("embedding"), 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
    val topk = Vectors.annTopK(vecs, vecs.filter($"vec_id" === 1L),
      col("vec_id"), col("embedding"), 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(topk.toSeq.sortBy(_._2) == Seq((2L, 1), (3L, 2)))
  }

  test("maxsim: aspect-covering bag beats a one-aspect bag that " +
    "single-vector search would rank first") {
    import spark.implicits._
    // Query = two orthogonal aspects. Doc 1 covers BOTH with different
    // vectors (maxsim 2.0-ish); doc 2 has the single globally-nearest
    // vector to aspect x but nothing for y (maxsim ~1.1).
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 1), (11L, Array(0.0f, 1.0f), 1),
      (20L, Array(1.1f, 0.0f), 2), (21L, Array(0.9f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Vectors.maxSimTopK(corpus, queries, col("vec_id"),
        col("embedding"), col("label"), 2)
      .collect().map(r => (r.getInt(0), r.getInt(2)))
    assert(got.toSeq.sortBy(_._2) == Seq((1, 1), (2, 2)))
  }

  test("snapshot diff: all four status classes from a fingerprint " +
    "full outer join") {
    import spark.implicits._
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("doc_id", "text")
    val nw = Seq((1L, "a"), (2L, "B2"), (4L, "d"))
      .toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(old, nw, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("filtered ann: neighbors share the query's label; pre-filter " +
    "finds in-label matches a post-filter of global topk would miss") {
    import spark.implicits._
    // Query 1 (label 0): globally its nearest are 2,3 (label 1, same
    // direction) — a top-2-then-filter returns NOTHING for label 0.
    // Pre-filtered search must still return 4 and 5 (label 0, farther).
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.1f), 1),
      (3L, Array(1.0f, -0.1f), 1), (4L, Array(0.5f, 0.5f), 0),
      (5L, Array(0.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Vectors.annTopKFiltered(vecs, vecs.filter($"vec_id" === 1L),
        col("vec_id"), col("embedding"), col("label"), 2)
      .collect().map(r => (r.getLong(2), r.getInt(4)))
    assert(got.toSeq.sortBy(_._2) == Seq((4L, 1), (5L, 2)))
    // every row carries the query's label
    val lbls = Vectors.annTopKFiltered(vecs, vecs, col("vec_id"),
        col("embedding"), col("label"), 2)
      .select(col("lbl")).distinct().collect().map(_.getInt(0)).toSet
    assert(lbls == Set(0, 1))
  }

  test("phash pairs: identical blobs pair at hamming 0") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog " * 4
    val df = Seq((1L, a), (2L, a),
      (3L, "completely different content with other words entirely " * 3))
      .toDF("doc_id", "text")
    val pairs = graft.ops.Multimodal.phashPairs(df, col("text"),
        col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)), pairs.toSeq)
  }

  test("ccnet buckets: per-language terciles are ordered and exhaustive") {
    import spark.implicits._
    // Per language: six docs from very repetitive (common bigrams →
    // high lm_score) to all-unique-bigrams (low). Exact scores don't
    // matter; the tercile INVARIANTS do.
    def corpus(lang: String, salt: String) = (1 to 6).map { i =>
      val common = Seq.fill(7 - i)(s"the$salt cat$salt").mkString(" ")
      val rare = (1 to i * 3).map(j => s"w$salt$i$j").mkString(" ")
      (s"$lang $common $rare".trim, lang)
    }
    val df = (corpus("en", "a") ++ corpus("de", "b")).zipWithIndex
      .map { case ((t, l), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.ccnetBuckets(df, col("text"), col("doc_id"),
        col("lang"))
      .collect().map(r => (r.getString(1), r.getString(3), r.getDouble(2)))
    for (lang <- Seq("en", "de")) {
      val byBucket = out.filter(_._1 == lang).groupBy(_._2)
        .view.mapValues(_.map(_._3)).toMap
      assert(byBucket.keySet == Set("tail", "middle", "head"), byBucket)
      // tail holds scores <= b1 and middle starts strictly above it
      assert(byBucket("tail").max <= byBucket("middle").min)
      assert(byBucket("middle").max <= byBucket("head").min)
    }
  }

  test("bigram LM fit/serve split: frozen-model slice scoring unions to " +
      "the whole-corpus answer (st26's invariant)") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the cat ran to the mat", "en"),
      (3L, "der hund und der ball", "de"),
      (4L, "completely novel words here", "en"))
      .toDF("doc_id", "text", "lang")
    val cb = TextAnalysis.bigramLmFit(df, col("text"))
    def score(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bigramLmScoreWith(d, col("text"), col("doc_id"), cb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val whole = score(df)
    val sliced = score(df.filter(col("doc_id") <= 2)) ++
      score(df.filter(col("doc_id") > 2))
    assert(whole === sliced)
    // and the one-shot API is exactly fit-then-serve
    val oneShot = TextAnalysis.bigramLmScore(df, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(oneShot === whole)
    // frozen-bounds bucketing is a pure function of (score, lang)
    val scored = TextAnalysis
      .bigramLmScoreWith(df, col("text"), col("doc_id"), cb)
      .join(df.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val bounds = TextAnalysis.ccnetBounds(scored)
    val batch = TextAnalysis.ccnetBucketed(scored, bounds).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet
    val perSlice = Seq(col("doc_id") <= 2, col("doc_id") > 2).map { f =>
      TextAnalysis.ccnetBucketed(scored.filter(f), bounds).collect()
        .map(r => (r.getLong(0), r.getString(3))).toSet
    }.reduce(_ ++ _)
    assert(batch === perSlice)
  }

  test("gopher gates: each rule trips on its own violation") {
    import spark.implicits._
    val good = Seq.fill(5)("the cat sat with the dog and that bird have fun")
      .mkString(" ") // 55 words, mean len ~3.4, stops galore
    val short = "the cat with dog" // 4 words < 50
    val tiny = Seq.fill(60)("a").mkString(" ") // mean len 1 < 3, no stops
    val nums = Seq.fill(60)("42").mkString(" ") // alpha ratio 0 < 0.8
    val out = TextAnalysis.gopherGates(
        Seq((1L, good), (2L, short), (3L, tiny), (4L, nums))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9))).toMap
    assert(out(1L) == ((true, true, true, true, true)))
    assert(out(2L)._1 == false && out(2L)._5 == false) // words gate
    assert(out(3L)._2 == false && out(3L)._4 == false) // mean-len + stops
    assert(out(4L)._3 == false)                        // alpha gate
  }

  test("MIPS ranks by raw inner product, not cosine; LSH path agrees") {
    import spark.implicits._
    // v3 points the same way as the query but is LONGER than v2:
    // cosine prefers neither (both 1.0, tie), MIPS must prefer v3.
    // v4 is orthogonal (dot 0) and must rank last.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),   // query
      (2L, Array(0.5f, 0.0f)),
      (3L, Array(0.9f, 0.0f)),
      (4L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 1L)
    val exact = Vectors.mipsTopK(vecs, q, col("vec_id"), col("embedding"), 3)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSeq.sortBy(_._2)
    assert(exact == Seq((3L, 1), (2L, 2), (4L, 3)))
    // Augmented-LSH path: candidate generation may prune, but whatever
    // it returns must rank in the same exact-dot order — and the
    // identical-direction longer vector must survive bucketing (its
    // augmented angle is closest to the augmented query).
    val lsh = Vectors.mipsLshTopK(vecs, q, col("vec_id"), col("embedding"),
        k = 3, nPlanes = 2, dims = 2)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSeq.sortBy(_._2)
    assert(lsh.nonEmpty && lsh.head._1 == 3L)
    assert(lsh.map(_._1) == exact.map(_._1).filter(lsh.map(_._1).contains))
  }

  test("IVF cells: identical vectors share a cell; topk finds the twin") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),     // centroids
      (5L, Array(0.9f, 0.1f)), (6L, Array(0.9f, 0.1f)))     // twins near c0
      .toDF("vec_id", "embedding")
    val topk = Vectors.annIvfTopK(vecs, vecs.filter($"vec_id" === 5L),
      col("vec_id"), col("embedding"), k = 2, nCells = 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    // rank 1 must be the identical twin (cos 1.0), from the same cell
    assert(topk.toSeq.sortBy(_._2).head == ((6L, 1)))
  }

  test("IVF multi-probe: nProbe=1 ≡ single-probe; probing ALL cells ≡ exact") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),   // centroids
      (5L, Array(0.9f, 0.1f)), (6L, Array(0.1f, 0.9f)),
      (7L, Array(0.6f, 0.5f)))                            // near the boundary
      .toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 7L)
    val p = Vectors.prepared(vecs, col("vec_id"), col("embedding"))
    val cents = p.orderBy(col("vid")).limit(2)
      .select(col("vid").as("cid"), col("iv").as("civ"), col("n2").as("cn2"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val single = rows(Vectors.annIvfTopKWith(vecs, q, col("vec_id"),
      col("embedding"), k = 4, cents))
    val probe1 = rows(Vectors.annIvfTopKProbed(vecs, q, col("vec_id"),
      col("embedding"), k = 4, cents, nProbe = 1))
    assert(probe1 == single)
    // all cells probed -> candidate set = whole corpus minus self = exact
    val all = rows(Vectors.annIvfTopKProbed(vecs, q, col("vec_id"),
      col("embedding"), k = 4, cents, nProbe = 2))
    val exact = rows(Vectors.annTopK(vecs, q, col("vec_id"),
      col("embedding"), k = 4))
    assert(all == exact)
    // and on this fixture the boundary query really does gain recall
    assert(all.size > single.size)
  }

  test("LSH ANN buckets identical vectors together") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array.fill(8)(0.5f)), (2L, Array.fill(8)(0.5f)),
      (3L, Array.fill(8)(-0.5f)))
      .toDF("vec_id", "embedding")
    val b = Vectors.annLshBuckets(vecs, col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(b(1L) == b(2L))
    assert(b(1L) != b(3L))
  }

  test("LSH near-dup: identical vectors pair within a bucket, orthogonal don't") {
    import spark.implicits._
    val d = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f)),
      (2L, Array(1.0f, 0.0f, 0.5f)),   // identical to 1 -> same bucket, cos 1
      (3L, Array(0.0f, 1.0f, 0.0f)))   // orthogonal to both
      .toDF("vec_id", "embedding")
    val pairs = Vectors.nearDupPairsLsh(d, col("vec_id"), col("embedding"),
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("int8 quantization: exact codes, zero-vector guard, geometry preserved") {
    import spark.implicits._
    val d = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f)),
      (2L, Array(0.0f, 0.0f, 0.0f)),       // amax=0 → all-zero codes
      (3L, Array(0.001f, 0.001f, 0.001f))) // uniform → codes equal
      .toDF("vec_id", "embedding")
    val q = Vectors.quantizeInt8(d, col("vec_id"), col("embedding"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    // v1: iv = (500000, -250000, 125000), amax = 500000
    // codes floor(iv*127/amax) = (127, -64, 31) → qsum 94, qnorm2 21314
    assert(q(1L).getAs[Long]("amax") == 500000L)
    assert(q(1L).getAs[Long]("qsum") == 94L)
    assert(q(1L).getAs[Long]("qnorm2") == 127L * 127 + 64L * 64 + 31L * 31)
    assert(q(1L).getAs[Double]("cos_qf") > 0.999)
    // zero vector: no NaN, null cosine, zero error
    assert(q(2L).getAs[Long]("qnorm2") == 0L)
    assert(q(2L).getAs[Long]("err2") == 0L)
    assert(q(2L).isNullAt(q(2L).fieldIndex("cos_qf")))
    // uniform vector quantizes exactly: all codes 127, zero error
    assert(q(3L).getAs[Long]("err2") == 0L)
    assert(q(3L).getAs[Double]("cos_qf") == 1.0)
  }

  test("language id votes stopwords; quality/token metrics sane") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "el gato que esta en la casa y el perro"))
      .toDF("doc_id", "text")
    val pred = d.select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(pred(1L) == "en" && pred(2L) == "es")
    val q = TextAnalysis.qualityMetrics(d, col("text"), col("doc_id"))
      .filter(col("doc_id") === 1L).head()
    assert(q.getAs[Long]("n_words") == 10L)
    val t = TextAnalysis.tokenStats(d, col("text"), col("doc_id"))
      .filter(col("doc_id") === 1L).head()
    assert(t.getAs[Long]("ws_tokens") == 10L)
    assert(t.getAs[Long]("bpeish_tokens") == 10L)
  }

  test("repetition metrics: known-frequency doc, degenerate docs, keep flag") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a a b"),          // top word 4/5, bigram "a a" 3/4
      (2L, "x"),                  // single word: no bigrams
      (3L, "a b c d e f g h i j k l m n o p q r s t")) // all distinct
      .toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(d, col("text"), col("doc_id"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Long]("n_words") == 5)
    assert(m(1L).getAs[Double]("top_word_frac") == 0.8)
    assert(m(1L).getAs[Double]("top_bigram_frac") == 0.75)
    assert(m(1L).getAs[Double]("dup_bigram_frac") == 0.5) // 4 bigrams, 2 distinct
    assert(!m(1L).getAs[Boolean]("keep"))
    assert(m(2L).getAs[Double]("top_bigram_frac") == 0.0) // guarded, not NaN
    assert(m(2L).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(m(3L).getAs[Double]("distinct_word_ratio") == 1.0)
    assert(m(3L).getAs[Double]("top_word_frac") == 0.05)
    assert(m(3L).getAs[Boolean]("keep"))
  }

  test("stratified sample: per-stratum rates, nested, deterministic") {
    import spark.implicits._
    val d = (1L to 400L).map(i =>
      (i, if (i % 2 == 0) "en" else "de")).toDF("doc_id", "lang")
    def ids(rates: Map[String, Int]) =
      TextAnalysis.stratifiedSample(d, col("doc_id"), col("lang"), rates)
        .select("doc_id").as[Long].collect().toSet
    val half = ids(Map("en" -> 5000))
    val threeQ = ids(Map("en" -> 7500))
    val all = ids(Map.empty)
    assert(all.size == 400) // default keeps everything
    // en is downsampled, de untouched
    val en = d.filter($"lang" === "en").select("doc_id").as[Long].collect().toSet
    assert((all -- en) subsetOf half)
    assert(half.intersect(en).size < en.size)
    // nested: raising the rate only ADDS docs — ablation reproducibility
    assert(half subsetOf threeQ)
    // deterministic across evaluations
    assert(ids(Map("en" -> 5000)) == half)
  }

  test("fingerprint is whitespace/case-insensitive") {
    import spark.implicits._
    val d = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(d, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("resize keeps aspect ratio; degenerate dims map to zero") {
    import spark.implicits._
    val d = Seq((1L, 640, 480), (2L, 100, 400), (3L, 0, 7), (4L, 224, 224))
      .toDF("id", "width", "height")
    val r = Multimodal.resizeStage(d, 224, 224).collect()
      .map(x => (x.getLong(0), (x.getInt(3), x.getInt(4)))).toMap
    assert(r(1L) == ((224, 168)))  // landscape: fit width
    assert(r(2L) == ((56, 224)))   // portrait: fit height
    assert(r(3L) == ((0, 0)))      // degenerate
    assert(r(4L) == ((224, 224)))  // exact fit
  }

  test("frame sampling: stride over fixed-size frames, short blobs empty") {
    import spark.implicits._
    val d = Seq((1L, Array.fill[Byte](300)('x')), (2L, Array.fill[Byte](10)('y')))
      .toDF("id", "blob")
    val f = Multimodal.frameSample(d, col("id"), col("blob"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // 300 bytes = 4 full 64-byte frames -> sampled 0, 2; 10 bytes -> none
    assert(f.toSeq.sorted == Seq((1L, 0L), (1L, 2L)))
  }

  test("batched decode: chunks reach the decoder whole, output matches row path") {
    import spark.implicits._
    val d = (1L to 10L).map(i => (i, s"blob$i".getBytes("UTF-8")))
      .toDF("doc_id", "blob")
    val seenBatches = spark.sparkContext.collectionAccumulator[Int]("batches")
    val batched = new Multimodal.BatchMediaDecoder {
      def decodeBatch(batch: Seq[Array[Byte]]): Seq[Multimodal.Decoded] = {
        seenBatches.add(batch.length)
        batch.map(Multimodal.StubDecoder.decode)
      }
    }
    val viaBatch = Multimodal.decodeBatched(
        d.repartition(2), col("doc_id"), col("blob"), batched, batchSize = 3)
      .collect().map(_.toString).sorted
    val viaRow = Multimodal.decodeBatch(d, col("doc_id"), col("blob"))
      .collect().map(_.toString).sorted
    assert(viaBatch.toSeq == viaRow.toSeq)
    import scala.jdk.CollectionConverters._
    val sizes = seenBatches.value.asScala
    assert(sizes.sum == 10 && sizes.forall(_ <= 3))
  }

  test("connected components: transitive clusters, singletons keep own id") {
    import spark.implicits._
    // a~b, b~c (a,c never paired) => one cluster {a,b,c}; d~e separate;
    // f untouched.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 42L).toDF("doc_id")
    val cc = Dedup.connectedComponents(pairs, ids, col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 42L -> 42L))
  }

  test("connected components: long chain converges within the round bound") {
    import spark.implicits._
    // a path graph 0-1-2-...-9 needs several min-propagation rounds
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("da", "db")
    val ids = (0L to 9L).toDF("doc_id")
    val cc = Dedup.connectedComponents(pairs, ids, col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.forall(_._2 == 0L) && cc.length == 10)
  }

  test("connected components: pointer jumping makes rounds logarithmic " +
      "— a 300-node path converges inside 12 rounds (one-hop needs 299)") {
    import spark.implicits._
    // Templated corpora chain at scale (A≈B≈C, one edit per hop): the
    // r15 sweep drove the plain one-hop loop past its cap at 30×.
    // label(label(v)) halves surviving label distance per round, so
    // diameter 299 must close in ~ceil(log2) + slack rounds.
    val n = 300L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("da", "db")
    val ids = (0L until n).toDF("doc_id")
    val cc = Dedup.connectedComponents(pairs, ids, col("doc_id"),
        maxIter = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.length == n.toInt && cc.forall(_._2 == 0L))
  }

  test("connected components: clique-of-chains — near-clique buckets " +
      "whose weak ties form a chain close within the log bound, and " +
      "the hop-only first 2 rounds don't delay it") {
    import spark.implicits._
    // The adversarial MIXED shape (r15 verdict ask): dedup bucket
    // graphs are near-cliques locally, but templated corpora thread
    // them into chains via weak pairwise ties. 20 cliques of 8 nodes;
    // clique k = ids [8k, 8k+8), fully wired; one weak tie links the
    // last node of clique k to the first of clique k+1. Contracted
    // diameter ≈ 20 × 2 hops: the one-hop loop needs ~40 rounds, while
    // hop-hop-then-pointer-jump must close in 2 (clique collapse —
    // hop-only, free) + ~ceil(log2(40)) + slack ⇒ 10 is the bound.
    // If a future edit stretched the hop-only phase (the iter <= 2
    // heuristic in Dedup.connectedComponents) this bound breaks.
    val cliques = 20
    val size = 8L
    val intra = for {
      k <- 0L until cliques.toLong
      i <- 0L until size; j <- (i + 1) until size
    } yield (k * size + i, k * size + j)
    val weak = (0L until (cliques - 1).toLong)
      .map(k => (k * size + size - 1, (k + 1) * size))
    val pairs = (intra ++ weak).toDF("da", "db")
    val ids = (0L until cliques * size).toDF("doc_id")
    val cc = Dedup.connectedComponents(pairs, ids, col("doc_id"),
        maxIter = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.length == (cliques * size).toInt && cc.forall(_._2 == 0L))
  }

  test("top terms rank by (tf desc, df asc, term asc), integer-exact") {
    import spark.implicits._
    val d = Seq(
      (1L, "apple apple banana cherry"),   // tf: apple 2; banana/cherry 1
      (2L, "banana banana cherry date")    // cherry appears in both docs
    ).toDF("doc_id", "text")
    val top = TextAnalysis.topTerms(d, col("text"), col("doc_id"), k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4), r.getString(1))).sorted
    // doc1: apple (tf 2) then banana (tf 1, df 2... wait banana df=2, cherry df=2, banana < cherry)
    assert(top.toSeq == Seq((1L, 1, "apple"), (1L, 2, "banana"),
      (2L, 1, "banana"), (2L, 2, "date")))
  }

  test("hash split is deterministic and content-free") {
    import spark.implicits._
    val d = (1L to 200L).toDF("doc_id")
    val s1 = TextAnalysis.hashSplit(d, col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val s2 = TextAnalysis.hashSplit(d.orderBy(rand(7)), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(s1.sorted.toSeq == s2.sorted.toSeq) // order/partitioning-free
    assert(s1.forall { case (_, b, s) =>
      (b < 90 && s == "train") || (b >= 90 && b < 95 && s == "val") ||
        (b >= 95 && s == "test") })
    // all three splits non-empty over 200 ids
    assert(s1.map(_._3).distinct.sorted.toSeq == Seq("test", "train", "val"))
  }

  test("ImageIO decoder: real PNG decodes to true dimensions through decodeBatched") {
    import spark.implicits._
    // A real 2x3 PNG rendered by the JDK itself — the decoder must
    // recover the true pixel dimensions, not a byte-length heuristic.
    val img = new java.awt.image.BufferedImage(
      2, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x123456)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val d = Seq((1L, png), (2L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "blob")
    val rows = Multimodal.decodeBatched(
        d, col("doc_id"), col("blob"), Multimodal.ImageIoDecoder)
      .collect()
      .map(r => (r.getLong(0),
        (r.getString(1), r.getInt(3), r.getInt(4), r.getLong(5))))
      .toMap
    assert(rows(1L) == (("png", 2, 3, 0xFF123456L)))
    assert(rows(2L) == (("raw", 0, 0, 0L)))
  }

  test("decontaminate: overlap counted against bench shingle set only") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e", true),   // bench: shingles {a b c, b c d, c d e}
      (2L, "a b c x y", false),  // shares exactly 1 of its 3 shingles
      (3L, "a b c d e", false),  // identical to bench: 3/3
      (4L, "p q r s t", false))  // disjoint: 0/3
      .toDF("doc_id", "text", "is_bench")
    val r = Dedup.decontaminate(d, col("text"), col("doc_id"),
        col("is_bench")).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getBoolean(4))))
      .toMap
    assert(!r.contains(1L)) // bench docs are not scored
    assert(r(2L) == ((3L, 1L, false)))
    assert(r(3L) == ((3L, 3L, true)))
    assert(r(4L) == ((3L, 0L, false)))
  }

  test("decontaminate: shuffle-join fallback matches the broadcast path") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e", true), (2L, "a b c x y", false),
      (3L, "a b c d e", false), (4L, "p q r s t", false))
      .toDF("doc_id", "text", "is_bench")
    def run(cap: Long) = Dedup.decontaminate(d, col("text"), col("doc_id"),
        col("is_bench"), maxBroadcastShingles = cap).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getBoolean(4))))
      .toSet
    // cap 0 forces the fallback (every bench set exceeds it)
    assert(run(0L) == run(10_000_000L))
  }

  test("dimStats: per-dimension min/max/count, no arithmetic drift") {
    import spark.implicits._
    val d = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f)),
      (2L, Array(-3.0f, 4.0f, 0.5f)),
      (3L, Array(2.0f, 0.0f, -0.5f)))
      .toDF("vec_id", "embedding")
    val r = Vectors.dimStats(d, col("embedding")).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getFloat(2), x.getFloat(3))))
      .toMap
    assert(r == Map(
      0L -> ((3L, -3.0f, 2.0f)),
      1L -> ((3L, -2.0f, 4.0f)),
      2L -> ((3L, -0.5f, 0.5f))))
  }

  test("window dedup: occurrences count, first writer keeps") {
    import spark.implicits._
    val eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    val d = Seq(
      (1L, s"$eight t1"),          // windows: [w1..w8], [w2..t1]
      (2L, s"$eight $eight"),      // repeats doc 1's passage twice + bridges
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8")) // unique, 1 window, 0 dups
      .toDF("doc_id", "text")
    val r = Dedup.windowDupStats(d, col("text"), col("doc_id")).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(r(1L) == ((2L, 0L)))     // doc 1 owns its grams
    // doc 2: 9 windows; the two full [w1..w8] occurrences are owned by
    // doc 1; the 7 bridge windows (w2..w1 etc.) are doc-2-only
    assert(r(2L) == ((9L, 2L)))
    assert(r(3L) == ((1L, 0L)))
  }

  test("dup spans: consecutive duplicated windows merge into maximal spans") {
    import spark.implicits._
    // doc 1 owns a 12-word passage; doc 2 embeds it verbatim between
    // unique prefix/suffix words → its 8-word windows at offsets 1..5
    // are duplicated (5 consecutive windows = one span of 12 words);
    // doc 3 repeats only doc 1's first 8 words → 1 window, below
    // minWindows, no span row.
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"
    val d = Seq(
      (1L, passage),
      (2L, s"u0 $passage u1"),
      (3L, "v0 p1 p2 p3 p4 p5 p6 p7 p8 v1"))
      .toDF("doc_id", "text")
    val r = Dedup.dupSpans(d, col("text"), col("doc_id")).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getLong(3))))
    assert(r.toSeq == Seq((2L, (1L, 12L, 5L))))
    // minWindows = 1 admits doc 3's single-window span of exactly 8 words
    val r1 = Dedup.dupSpans(d, col("text"), col("doc_id"), minWindows = 1)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2),
        x.getLong(3)))).sortBy(_._1)
    assert(r1.toSeq == Seq((2L, (1L, 12L, 5L)), (3L, (1L, 8L, 1L))))
  }

  test("ivfadc: one cell + full codebook degenerates to exact scaled L2 ranking") {
    import spark.implicits._
    // n <= k: every residual is its own codebook entry (dist 0), and
    // nCells = 1 puts everything in one cell — so ADC collapses to the
    // EXACT squared L2 of the 10^6-scaled vectors, a closed-form check
    // of the whole cell/residual/code/LUT plumbing.
    val z = Array.fill(6)(0f)
    val d = Seq(
      (0L, 0f +: 0f +: z), (1L, 1f +: 0f +: z),
      (2L, 2f +: 0f +: z), (3L, 0f +: 3f +: z))
      .toDF("vec_id", "embedding")
    val r = Vectors.ivfAdcTopK(d, d.filter(col("vec_id") === 0L),
      col("vec_id"), col("embedding"), kNeighbors = 3,
      nCells = 1, m = 4, k = 16, dims = 8).collect()
      .map(x => (x.getLong(1), (x.getLong(2), x.getInt(3)))).toMap
    val u = 1000000L * 1000000L // (10^6)² per unit of squared distance
    assert(r == Map(1L -> ((u, 1)), 2L -> ((4 * u, 2)), 3L -> ((9 * u, 3))))
  }

  test("dsir weights: target==raw gives exactly 1.0; target vocab scores above") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta alpha beta alpha beta", true),
      (2L, "alpha beta alpha beta", true),
      (3L, "gamma delta gamma delta gamma delta", false))
      .toDF("doc_id", "text", "tgt")
    // degenerate target: every doc in-target → ct == cr, st == sr →
    // every smoothed ratio is exactly 1.0, so the mean is bit-exactly 1.0
    val all = TextAnalysis.dsirWeights(d, col("text"), col("doc_id"),
      lit(true)).collect().map(x => (x.getLong(0), x.getLong(1),
        x.getDouble(2)))
    assert(all.forall(_._3 == 1.0))
    assert(all.map(x => x._1 -> x._2).toMap ==
      Map(1L -> 5L, 2L -> 3L, 3L -> 5L))
    // real target: docs built from target-only bigrams must outweigh
    // docs built from raw-only bigrams
    val r = TextAnalysis.dsirWeights(d, col("text"), col("doc_id"),
      col("tgt")).collect()
      .map(x => (x.getLong(0), x.getDouble(2))).toMap
    assert(r(1L) > r(3L) && r(2L) > r(3L))
  }

  test("pii redact: counts on raw text, fixed-order redaction, clean rows untouched") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail a@b.co and c.d@e.org ip 10.0.0.1 tel 555-123-4567"),
      (2L, "no pii here at all"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.piiRedact(d, col("text"), col("doc_id")).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getLong(3),
        x.getString(4), x.getBoolean(5)))).toMap
    val cleanFp = d.select(substring(md5(col("text")), 1, 16))
      .where(col("doc_id") === 2L).head().getString(0)
    val redactedFp = spark.range(1)
      .select(substring(md5(
        lit("mail <EMAIL> and <EMAIL> ip <IP> tel <PHONE>")), 1, 16))
      .head().getString(0)
    assert(r(1L) == ((2L, 1L, 1L, redactedFp, true)))
    assert(r(2L) == ((0L, 0L, 0L, cleanFp, false)))
  }

  test("rarity: corpus-unique words score 1.0; shared vocab scores lower") {
    import spark.implicits._
    val d = Seq(
      (1L, "shared common aa"), // aa unique (df 1), others df 3
      (2L, "shared common bb"),
      (3L, "shared common cc"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.rarityScore(d, col("text"), col("doc_id")).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getDouble(2)))).toMap
    // each doc: 3 distinct terms, fold = 1/3 + 1/3 + 1/1 over sorted
    // (aa|bb|cc, common, shared) order → (1.0 + 1/3 + 1/3) / 3
    val expect = ((1.0 + 1.0 / 3) + 1.0 / 3) / 3
    assert(r.values.forall(_ == ((3L, expect))))
  }

  test("shuffle shard: total, deterministic, contiguous positions per shard") {
    import spark.implicits._
    val d = (0L until 100L).map(i => Tuple1(i)).toDF("doc_id")
    val r1 = TextAnalysis.shuffleShard(d, col("doc_id")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r1.length == 100) // every doc lands in exactly one shard slot
    val byShard = r1.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    byShard.values.foreach { rows => // positions are 1..n, no gaps
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // content-free determinism: a second run (different partitioning)
    // produces the identical permutation
    val r2 = TextAnalysis.shuffleShard(d.repartition(7), col("doc_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r1.sortBy(_._1).toSeq == r2.sortBy(_._1).toSeq)
  }

  test("pack sequences: greedy fill, oversize isolation, per-shard reset") {
    import spark.implicits._
    // single shard so the walk order is fully controlled by the hash
    val d = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 999L), (5L, 10L))
      .toDF("doc_id", "toks")
    val r = TextAnalysis.packSequences(d, col("doc_id"), col("toks"),
        budget = 256, shards = 1).collect()
      .map(x => (x.getLong(0), (x.getLong(2), x.getLong(3)))).toMap
    // replay the greedy walk on the driver in the same md5 order
    val order = Seq(1L, 2L, 3L, 4L, 5L).sortBy(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    var bin = 0L; var fill = 0L
    val expect = order.map { i =>
      val n = Map(1L -> 100L, 2L -> 100L, 3L -> 100L, 4L -> 999L, 5L -> 10L)(i)
      if (fill > 0 && fill + n > 256) { bin += 1; fill = n } else fill += n
      i -> ((n, bin))
    }.toMap
    assert(r == expect)
    // the oversize doc (999 > 256) sits alone in its bin
    val binOf4 = r(4L)._2
    assert(r.count(_._2._2 == binOf4) == 1)
    // bins restart at 0 per shard when sharding is on
    val sharded = TextAnalysis.packSequences(d, col("doc_id"), col("toks"),
        budget = 256, shards = 4).collect()
      .map(x => (x.getLong(1), x.getLong(3)))
    assert(sharded.groupBy(_._1).values.forall(_.map(_._2).min == 0L))
  }

  test("bigram LM: exact add-one probabilities, common transitions score high") {
    import spark.implicits._
    // corpus: cb("a b")=3, cb("b a")=1, cb("c d")=1; c1(a)=3, c1(b)=1,
    // c1(c)=1; V=|{a,b,c}|=3 → p(a b)=4/6, p(b a)=2/4, p(c d)=2/4
    val d = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c d"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.bigramLmScore(d, col("text"), col("doc_id"))
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2))))
      .toMap
    assert(r(1L)._1 == 3L)
    assert(math.abs(r(1L)._2 - (4.0 / 6 + 2.0 / 4 + 4.0 / 6) / 3) < 1e-15)
    assert(math.abs(r(2L)._2 - 4.0 / 6) < 1e-15)
    assert(math.abs(r(3L)._2 - 2.0 / 4) < 1e-15)
    assert(r(2L)._2 > r(3L)._2) // the common transition outscores the rare one
  }

  test("LSH verify: exact jaccard on candidates only, dup flag at 0.8") {
    val r = Dedup.lshVerifiedPairs(docs, col("text"), col("doc_id"))
      .collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getDouble(2), x.getBoolean(3))))
      .toMap
    // identical docs 1,2: jaccard exactly 1.0, verified dup
    assert(r((1L, 2L)) == ((1.0, true)))
    // doc 4 shares no shingles with anything: never a candidate
    assert(!r.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // every exact jaccard is in [0,1]
    assert(r.values.forall(v => v._1 >= 0.0 && v._1 <= 1.0))
  }

  test("PQ encode: exact codes with deterministic tie-break, exact err2") {
    import spark.implicits._
    val d = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // centroid 0
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)), // centroid 1
      (2L, Array(1.0f, 0.0f, 0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Vectors.pqEncode(d, col("vec_id"), col("embedding"),
        m = 2, k = 2, dims = 4)
      .collect()
      .map(x => x.getAs[Long]("vec_id") ->
        ((x.getAs[Long]("code0"), x.getAs[Long]("code1"),
          x.getAs[Long]("err2"))))
      .toMap
    assert(r(0L) == ((0L, 0L, 0L)))     // centroids encode to themselves...
    assert(r(1L)._1 == 1L && r(1L)._3 == 0L) // (sub1 ties break to cid 0)
    // v2 sub0 = [1e6, 0] → c0 exactly (dist 0); sub1 = [1e5, 0] → both
    // centroids are [0,0] there → tie → smaller cid 0, dist = 1e10
    assert(r(2L) == ((0L, 0L, 10_000_000_000L)))
  }

  test("PQ ADC: codes-only search ranks the same-cell doc first") {
    import spark.implicits._
    val d = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Vectors.pqAdcTopK(d, d.filter($"vec_id" === 0L),
        col("vec_id"), col("embedding"), kNeighbors = 2, m = 2, k = 2,
        dims = 4)
      .collect().map(x => (x.getAs[Long]("nid"), x.getAs[Int]("rank"),
        x.getAs[Long]("adc")))
    // doc2's codes are (0,0) → adc(q0) = 0; doc1's (1,1) → 2e12 + 0
    assert(r.sortBy(_._2).map(n => (n._1, n._2)).toSeq ==
      Seq((2L, 1), (1L, 2)))
    assert(r.find(_._1 == 2L).get._3 == 0L)
    assert(!r.exists(_._1 == 0L)) // self excluded
  }

  test("kmeans: centroid moves to the exact floor-mean, cells partition") {
    import spark.implicits._
    // Two tight groups around the two seeds (vec 0, vec 1). With k=2 the
    // trained centroid of each cell is the per-dim floor-mean of its
    // members, hand-computable in int space (x scaled by 1e6).
    val d = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),   // seeds
      (2L, Array(0.8f, 0.2f)),                            // joins cell 0
      (3L, Array(0.1f, 0.9f)))                            // joins cell 1
      .toDF("vec_id", "embedding")
    val r = Vectors.kmeansCells(d, col("vec_id"), col("embedding"),
        k = 2, iters = 2)
      .collect().map(x => (x.getAs[Long]("cell_id"),
        (x.getAs[Long]("n_members"), x.getAs[Long]("csum"),
         x.getAs[Long]("cnorm2")))).toMap
    assert(r.keySet == Set(0L, 1L))
    assert(r(0L)._1 == 2L && r(1L)._1 == 2L)
    // Exact int arithmetic incl. the float32 artifacts: 0.8f scales to
    // 800000 (0.80000001..), but 0.9f scales to 899999 (0.89999997..).
    // cell 0 members {0,2}: iv sums (1800000, 200000) → floor-mean
    // (900000, 100000)
    assert(r(0L)._2 == 1000000L)
    assert(r(0L)._3 == 810000000000L + 10000000000L)
    // cell 1 members {1,3}: iv sums (100000, 1899999) → floor-mean
    // (50000, 949999) — the .5 floors down
    assert(r(1L)._2 == 999999L)
    assert(r(1L)._3 == 2500000000L + 902498100001L)
  }

  test("kmeans: cells that lose every member drop out") {
    import spark.implicits._
    // Seed 1 is strictly worse than seed 0 for EVERY vector (vec 1
    // equals vec 0, ties break to the smaller cid), so after round 1
    // cell 1 is empty and the model shrinks to one cell.
    val d = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val r = Vectors.kmeansCells(d, col("vec_id"), col("embedding"),
        k = 2, iters = 2).collect()
    assert(r.map(_.getAs[Long]("cell_id")).toSeq == Seq(0L))
    assert(r.head.getAs[Long]("n_members") == 3L)
  }

  test("semdedup: within-cell near-dup drops to the earliest id") {
    import spark.implicits._
    val d = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),   // centroids
      (2L, Array(0.99f, 0.01f)),  // cell 0, near-dup of 0
      (3L, Array(0.98f, 0.02f)),  // cell 0, near-dup of 0 and 2
      (4L, Array(0.01f, 0.99f)))  // cell 1, near-dup of 1
      .toDF("vec_id", "embedding")
    val r = Vectors.semDedup(d, col("vec_id"), col("embedding"),
        threshold = 0.9, nCells = 2)
      .collect().map(x => (x.getAs[Long]("vec_id"),
        (x.getAs[Boolean]("dropped"),
         Option(x.getAs[java.lang.Long]("dup_of")).map(_.toLong)))).toMap
    assert(r(0L) == ((false, None)))          // first writer keeps
    assert(r(1L) == ((false, None)))
    assert(r(2L) == ((true, Some(0L))))
    assert(r(3L) == ((true, Some(0L))))       // smallest neighbor, not 2
    assert(r(4L) == ((true, Some(1L))))
    // cross-cell near-misses are never compared: orthogonal cells here
    assert(r.values.count(_._1) == 3)
  }

  test("minhash estimate: identical docs agree on all 16 permutations") {
    val r = Dedup.minhashEstimatePairs(docs, col("text"), col("doc_id"))
      .collect().map(x => ((x.getAs[Long]("da"), x.getAs[Long]("db")),
        (x.getAs[Long]("n_eq"), x.getAs[Double]("est_jaccard"),
         x.getAs[Double]("jaccard")))).toMap
    val (nEq, est, exact) = r((1L, 2L))
    assert(nEq == 16L && est == 1.0 && exact == 1.0)
    // near-dup pair (if banded in): estimate stays a valid fraction and
    // the exact side matches jaccardPairs' value
    r.get((1L, 3L)).foreach { case (n, e, x) =>
      assert(n < 16L && e == n / 16.0 && x > 0.5 && x < 1.0)
    }
  }

  test("ann recall audit: identical-vector neighbor is found by every path") {
    import spark.implicits._
    // 2 centroids + a twin pair near c0: for query 5 the exact top-2 is
    // {6 (cos 1), then a centroid}; the twin lands in the same LSH
    // bucket AND the same IVF cell, so both hit counts are >= 1 and
    // recall is hits/k by construction.
    val d = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (5L, Array(0.9f, 0.1f)), (6L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val r = Vectors.annRecallAudit(d, d.filter($"vec_id" === 5L),
        col("vec_id"), col("embedding"), k = 2, nPlanes = 2, dims = 2,
        nCells = 2)
      .collect().map(x => (x.getAs[Long]("qid"),
        (x.getAs[Long]("n_exact"), x.getAs[Long]("lsh_hits"),
         x.getAs[Long]("ivf_hits"), x.getAs[Double]("lsh_recall")))).toMap
    val (n, lsh, ivf, lr) = r(5L)
    assert(n == 2L)
    assert(lsh >= 1L && ivf >= 1L)
    assert(lr == lsh / 2.0)
  }

  test("kmv sketch: exact below capacity, estimator above, deterministic") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c", "small"),                       // 3 distinct < k
      (2L, "a b c d e f g h i j k l", "big"),       // 12 distinct >= k
      (3L, "m n o p q r", "big"))                   // big: 18 distinct
      .toDF("doc_id", "text", "grp")
    val r = TextAnalysis.kmvDistinct(d, col("text"), col("grp"), k = 4)
      .collect().map(x => (x.getAs[String]("stratum"),
        (x.getAs[Long]("n_exact"), Option(x.getAs[java.lang.Long]("kth_hash")),
         x.getAs[Double]("est_distinct")))).toMap
    // below capacity: kth_hash null, estimate IS the exact count
    assert(r("small") == ((3L, None, 3.0)))
    // above capacity: estimate = 3*2^32 / kth, in a sane band around 18
    val (n, kth, est) = r("big")
    assert(n == 18L && kth.isDefined)
    assert(est == 3.0 * 4294967296.0 / kth.get.toDouble)
    assert(est > 4.0 && est < 100.0)
  }

  test("sq8 ann: positively-scaled copies share codes — cos exactly 1.0, rank 1") {
    import spark.implicits._
    // components exact in float32 (dyadic rationals) so 2x scaling is
    // exact end-to-end: iv doubles, amax doubles, codes are identical
    val vecs = Seq(
      (0L, Array(0.25f, 0.5f, 0.75f, 0.125f)),
      (1L, Array(0.5f, 1.0f, 1.5f, 0.25f)), // exactly 2x vec 0
      (2L, Array(0.5f, -0.25f, 0.125f, 0.75f)))
      .toDF("vec_id", "embedding")
    val r = Vectors.annSq8TopK(vecs, vecs.filter($"vec_id" === 0L),
      col("vec_id"), col("embedding"), k = 2)
      .collect().map(x => (x.getLong(1), x.getDouble(2), x.getInt(3)))
    assert(r.length == 2)
    val first = r.find(_._3 == 1).get
    assert(first._1 == 1L && first._2 == 1.0)
  }

  test("bloom decontam: bloom is a superset of exact; roomy filter has zero FPs") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps", true), // bench
      (2L, "the quick brown fox jumps", false), // fully contaminated
      (3L, "completely different words here now", false))
      .toDF("doc_id", "text", "bench")
    val r = Dedup.bloomDecontaminate(d, col("text"), col("doc_id"),
      col("bench"), shingleN = 3, mBits = 1 << 20, kHash = 3)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    // doc 2: 3 shingles, all in bench — bloom must agree exactly
    assert(r(2L) == ((3L, 3L, 3L, 0L)))
    // doc 3: nothing shared; 2^20 bits vs 9 set positions -> no FPs
    assert(r(3L) == ((3L, 0L, 0L, 0L)))
  }

  test("hamming ann: identical vectors at distance 0 rank first") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(0.25f, 0.5f, -0.75f, 0.125f)),
      (1L, Array(0.25f, 0.5f, -0.75f, 0.125f)), // identical -> dist 0
      (2L, Array(-0.5f, 0.25f, 0.125f, -0.75f)))
      .toDF("vec_id", "embedding")
    val r = Vectors.annHammingTopK(vecs, vecs.filter($"vec_id" === 0L),
      col("vec_id"), col("embedding"), k = 2, nBits = 16, dims = 4)
      .collect().map(x => (x.getLong(1), x.getInt(2), x.getInt(3)))
    val first = r.find(_._3 == 1).get
    assert(first._1 == 1L && first._2 == 0)
  }

  test("temperature sampling: rate caps at 1 (all kept), rate 0 keeps none") {
    import spark.implicits._
    val d = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "A"), (5L, "B"))
      .toDF("doc_id", "source")
    // target >= corpus: every rate = min(1, .) = 1 -> all docs survive
    val all = TextAnalysis.temperatureSample(d, col("doc_id"),
      col("source"), totalTarget = 1000L).collect()
    assert(all.length == 5)
    // target 0 -> rate 0 -> nothing survives
    val none = TextAnalysis.temperatureSample(d, col("doc_id"),
      col("source"), totalTarget = 0L).collect()
    assert(none.isEmpty)
  }

  test("vocab stats: exact counts, hapax tail, Zipf-head mass with k=1") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a b", "A"), (2L, "a c", "A"),
      (3L, "x y x y x", "B"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.vocabStats(d, col("text"), col("source"), topK = 1)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4)))).toMap
    // A: a=3 b=1 c=1 -> total 5, vocab 3, hapax 2, top1 mass 3/5
    // B: x=3 y=2     -> total 5, vocab 2, hapax 0, top1 mass 3/5
    assert(r("A") == ((5L, 3L, 2L, 0.6)))
    assert(r("B") == ((5L, 2L, 0L, 0.6)))
  }

  test("multimodal stub decode: magic sniffing + deterministic features") {
    import spark.implicits._
    val jpeg = Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0x00.toByte)
    val d = Seq((1L, jpeg), (2L, "plain".getBytes("UTF-8")))
      .toDF("doc_id", "blob")
    val rows = Multimodal.decodeBatch(d, col("doc_id"), col("blob"))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(5))))
      .toMap
    assert(rows(1L) == (("jpeg", 4L, 255L)))
    assert(rows(2L) == (("raw", 5L, 'p'.toLong)))
  }

  test("chunking: stride walk, overlap content, short-doc and exact-multiple edges") {
    import spark.implicits._
    // window=4, stride=3: doc 1 has 7 tokens -> starts 0,3,6; doc 2 has
    // 2 tokens (< window) -> one short chunk; doc 3 has 6 tokens (a
    // multiple of stride) -> starts 0,3 with the last chunk short.
    val d = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6"),
      (2L, "a b"),
      (3L, "x0 x1 x2 x3 x4 x5"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocs(d, col("text"), col("doc_id"),
        window = 4, stride = 3)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getString(3))))
      .toMap
    assert(got.size == 6)
    assert(got((1L, 0L)) == ((4L, "t0 t1 t2 t3")))
    assert(got((1L, 1L)) == ((4L, "t3 t4 t5 t6"))) // t3 shared: overlap 1
    assert(got((1L, 2L)) == ((1L, "t6")))          // trailing suffix
    assert(got((2L, 0L)) == ((2L, "a b")))         // doc shorter than window
    assert(got((3L, 0L)) == ((4L, "x0 x1 x2 x3")))
    assert(got((3L, 1L)) == ((3L, "x3 x4 x5")))    // no phantom start at 6
  }

  test("profile: exact ndv/min/max per column, nulls excluded from n_nonnull") {
    import spark.implicits._
    val d = Seq(
      (1L, Some("a"), 10.0),
      (2L, None, 20.0),
      (3L, Some("c"), 20.0))
      .toDF("id", "s", "v")
    val r = Profiling.profile(d, Seq("id", "s", "v"))
      .collect()
      .map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3), x.getString(4),
          x.getLong(5))))
      .toMap
    assert(r("id") == ((3L, 3L, "1", "3", 3L)))
    assert(r("s") == ((2L, 2L, "a", "c", 3L))) // null excluded, n_rows not
    assert(r("v") == ((3L, 2L, "10.0", "20.0", 3L)))
  }

  test("incremental near-dup: probing the stored index equals the " +
      "bipartite recompute (d23)") {
    val base = docs.filter(col("doc_id").isin(1L, 4L))
    val arrivals = docs.filter(col("doc_id").isin(2L, 3L))
    val dir = tempDir("graft_d23_spec").toString
    Dedup.lshBandIndex(base, col("text"), col("doc_id"))
      .write.parquet(s"$dir/bands")
    val probed = Dedup.probeNearDupIndex(arrivals, base, col("text"),
        col("doc_id"), spark.read.parquet(s"$dir/bands"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(probed(2L)._2, "exact dup of base doc 1 must match")
    assert(probed(3L)._2, "near dup of base doc 1 must match")
    // equivalence with the from-scratch bipartite pipeline
    val full = Dedup.fuzzyDecontaminate(docs, col("text"), col("doc_id"),
        isBench = col("doc_id").isin(1L, 4L))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(probed === full.filter(kv => Set(2L, 3L)(kv._1)))
  }

  test("permissive ingest: corrupt lines quarantine with their raw " +
      "payload, good lines round-trip exactly (c09)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_c09_spec").toString
    Seq(
      """{"doc_id": 1, "text": "hello \"quoted\" world"}""",
      """{"doc_id": 2, "text": "truncated""",
      """{"doc_id": 3, "text": "fine"}""")
      .toDF("value").coalesce(1).write.text(s"$dir/drop")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("_bad", StringType)))
    val r = spark.read.schema(schema).option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(s"$dir/drop").collect()
    val good = r.filter(_.isNullAt(2))
    val bad = r.filter(!_.isNullAt(2))
    assert(good.map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(good.find(_.getLong(0) == 1L).get.getString(1)
      == "hello \"quoted\" world") // JSON escaping round-trips
    assert(bad.length == 1 &&
      bad.head.getString(2).startsWith("""{"doc_id": 2"""),
      "the quarantined raw line stays queryable for repair")
  }

  test("schema merge: the evolved column unions in, pre-migration rows " +
      "null-fill, coverage report separates the drops (c08)") {
    import spark.implicits._
    val dir = tempDir("graft_c08_spec").toString
    Seq((1L, "a")).toDF("id", "t").withColumn("ver", lit(1L))
      .write.parquet(s"$dir/d1")
    Seq((2L, "b", "en")).toDF("id", "t", "lang")
      .withColumn("ver", lit(2L)).write.parquet(s"$dir/d2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/d1", s"$dir/d2")
    assert(merged.columns.contains("lang"),
      "schema union must surface the evolved column")
    val byVer = merged.collect()
      .map(r => r.getLong(r.fieldIndex("ver")) ->
        Option(r.getAs[String]("lang"))).toMap
    assert(byVer(1L).isEmpty && byVer(2L).contains("en"))
  }

  test("probe-then-append: a later batch matches an earlier batch's " +
      "arrival through the appended bands (st31's cross-batch arm)") {
    import spark.implicits._
    val all = Seq(
      (4L, "completely different words entirely here now today friends"),
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (20L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val base = all.filter(col("doc_id") === 4L)
    val b1 = all.filter(col("doc_id") === 10L)
    val b2 = all.filter(col("doc_id") === 20L)
    val dir = tempDir("graft_st31_spec").toString
    Dedup.lshBandIndex(base, col("text"), col("doc_id"))
      .write.parquet(s"$dir/bands")
    def probe(b: org.apache.spark.sql.DataFrame) =
      Dedup.probeNearDupIndex(b, all, col("text"), col("doc_id"),
          spark.read.parquet(s"$dir/bands"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val r1 = probe(b1)
    assert(!r1(10L), "first arrival matches nothing in base")
    Dedup.lshBandIndex(b1, col("text"), col("doc_id"))
      .write.mode("append").parquet(s"$dir/bands")
    val r2 = probe(b2)
    assert(r2(20L),
      "second batch must find the first batch's arrival via the index append")
  }

  test("medoid keep: the geometrically central member wins its cell; " +
      "a singleton cell keeps itself (d22)") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),   // centroid seeds: cells around x / y
      (1L, Array(0.0f, 1.0f)),
      (5L, Array(0.8f, 0.0f)),   // cell x: 5 sits between 0 and 6
      (6L, Array(0.6f, 0.0f)),
      (9L, Array(0.0f, 0.9f)))   // cell y: 1 and 9 -> 1 is medoid by id?
      .toDF("vec_id", "embedding")
    val p = Vectors.prepared(vecs, col("vec_id"), col("embedding"))
    val cents = p.orderBy(col("vid")).limit(2)
      .select(col("vid").as("cid"), col("iv").as("civ"),
        col("n2").as("cn2"))
    val m = Vectors.medoidPerCell(vecs, col("vec_id"), col("embedding"),
        cents)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // cell x members {0, 5, 6} on a line: 5 (0.8) minimizes total d2
    assert(m(0L)._1 == 5L && m(0L)._2 == 3L)
    // cell y members {1, 9}: equal pair distance both ways -> smaller id
    assert(m(1L)._1 == 1L && m(1L)._2 == 2L && m(1L)._3 > 0L)
    val one = Vectors.medoidPerCell(
      vecs.filter(col("vec_id") === 0L), col("vec_id"), col("embedding"),
      cents).collect()
    assert(one.length == 1 && one.head.getLong(1) == 0L &&
      one.head.getLong(3) == 0L) // singleton: itself, total 0
  }

  test("equi-depth histogram: buckets partition every row, boundaries " +
      "non-decreasing (q38)") {
    val dir = "/root/testdata/sf0.001"
    val h = graft.queries.Relational.histogram(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val totals = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((flag, n) <- totals) {
      val bs = h.filter(_._1 == flag).sortBy(_._2)
      assert(bs.map(_._4).sum == n, s"$flag rows must all land in a bucket")
      assert(bs.map(_._3).toSeq == bs.map(_._3).sorted.toSeq)
      assert(bs.forall(b => b._2 >= 1 && b._2 <= 4))
    }
  }

  test("graft_phash kernel is bit-identical to the declarative " +
      "block-mean stages on the fixture corpus") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    graft.plans.GraftExtensions.register(spark)
    val kernel = d.filter(length(col("text")) > 0)
      .select(col("doc_id").cast("long").as("mid"),
        call_function("graft_phash", col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val decl = Multimodal.phashDeclarative(d, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kernel === decl)
    assert(kernel.nonEmpty)
  }

  test("mask corruption: deterministic, reconstructible, ~1/modulo rate") {
    import spark.implicits._
    val d = Seq((1L, (1 to 200).map(i => s"w$i").mkString(" ")),
      (2L, "a b c"), (3L, "solo"))
      .toDF("doc_id", "text")
    def run() = TextAnalysis.maskCorruption(d, col("text"), col("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getString(4)))
    val r1 = run()
    assert(r1.toSet == run().toSet)  // content-free hash = reproducible
    val big = r1.find(_._1 == 1L).get
    assert(big._2 == 200L)
    assert(big._3 > 10 && big._3 < 60)  // ~1/7 of 200, loose band
    // masked positions in input align 1:1 with target tokens, in order
    val inToks = big._4.split(" ")
    val masked = inToks.zipWithIndex.filter(_._1 == "<mask>").map(_._2)
    val orig = (1 to 200).map(i => s"w$i")
    assert(big._5.split(" ").toSeq == masked.map(orig(_)).toSeq)
    assert(inToks.zipWithIndex.filter(_._1 != "<mask>")
      .forall { case (t, i) => t == orig(i) })
  }

  test("dataset seal: digest is order-independent and flips on any edit") {
    import spark.implicits._
    val d = (1 to 30).map(i => (i.toLong, s"doc $i body")).toDF("id", "t")
    def seal(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.datasetSeal(df, col("t"), col("id"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val a = seal(d)
    val b = seal(d.repartition(7).sortWithinPartitions(col("t").desc))
    assert(a == b)  // partitioning/order cannot change the manifest
    assert(a.values.map(_._1).sum == 30)
    val edited = seal(d.withColumn("t",
      when(col("id") === 17L, lit("doc 17 EDITED")).otherwise(col("t"))))
    val editedSplit = a.keys.find(s => a(s) != edited(s))
    assert(editedSplit.isDefined)  // exactly the edited doc's split flips
    assert(a.count { case (k, v) => edited(k) != v } == 1)
  }

  test("misra-gries heavy hitters: exact regime matches groupBy counts; " +
      "over capacity the flag drops and counts stay lower bounds") {
    import spark.implicits._
    val keys = (1 to 50).flatMap(i => Seq.fill(i)(s"u$i"))
    val d = keys.toDF("k2").repartition(4)
    val wide = Profiling.heavyHittersTopK(
      Profiling.heavyHittersPartial(d, col("k2"), m = 1000), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        r.getInt(3)))
    assert(wide.forall(_._3), "m >= ndv must stay exact")
    assert(wide.sortBy(_._4).map(x => (x._1, x._2)).toSeq ==
      Seq(("u50", 50L), ("u49", 49L), ("u48", 48L), ("u47", 47L),
        ("u46", 46L)))
    val tight = Profiling.heavyHittersTopK(
      Profiling.heavyHittersPartial(d, col("k2"), m = 8), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(tight.forall(!_._3), "decrement must clear the exact flag")
    val trueCounts = keys.groupBy(identity).view.mapValues(_.size.toLong)
    assert(tight.forall(x => x._2 <= trueCounts(x._1)),
      "MG counts are lower bounds")
  }

  test("clip-score filter: id-paired only, bounded scores, keep flag " +
      "consistent, deterministic stub") {
    import spark.implicits._
    val media = Seq((1L, "a cat photo"), (2L, "a dog photo"), (9L, "orphan"))
      .toDF("doc_id", "text")
      .withColumn("blob", col("text").cast("binary"))
    val caps = Seq(
      (1L, Array.tabulate(64)(d => ((d * 7 + 3) % 13 - 6).toFloat / 7f)),
      (2L, Array.tabulate(64)(d => ((d * 5 + 1) % 11 - 5).toFloat / 6f)),
      (7L, Array.tabulate(64)(_ => 0.5f)))
      .toDF("vec_id", "embedding")
    def run() = Multimodal.clipScoreFilter(media, caps, col("doc_id"),
        col("blob"), col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    val r1 = run()
    assert(r1.map(_._1).toSet == Set(1L, 2L)) // equi-join: both sides only
    assert(r1.forall(x => x._2 >= -1.0 && x._2 <= 1.0))
    assert(r1.forall(x => x._3 == (x._2 >= 0.0)))
    assert(r1.toSet == run().toSet) // stub encoder is deterministic
  }

  test("profile drift: removed rows, ndv collapse and range shift all " +
      "surface as signals") {
    import spark.implicits._
    val old = Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "z", 30.0))
      .toDF("id", "s", "v")
    val nw = Seq((1L, "x", 10.0), (2L, "x", 10.0))
      .toDF("id", "s", "v")
    val r = Profiling.profileDrift(old, nw, Seq("id", "s", "v"))
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("id").getLong(1) == 3L && r("id").getLong(2) == 2L)
    assert(r("id").getDouble(8) == 2.0 / 3.0)   // rowcount_ratio
    assert(!r("id").getBoolean(9))              // min id unchanged
    assert(r("id").getBoolean(10))              // max id shifted
    assert(r("s").getLong(5) == 3L && r("s").getLong(6) == 1L)
    assert(r("s").getDouble(7) == 1.0 / 3.0)    // ndv collapse
    assert(r("v").getBoolean(10))               // max 30.0 -> 10.0
  }

  test("kmv profile: sliced partials merge to the whole-table profile " +
      "(st27's invariant), saturation engages the estimator") {
    import spark.implicits._
    val d = (1 to 40).map(i => (i.toLong, s"u${i % 7}"))
      .toDF("id", "tag")
    val k = 8
    def partial(df: org.apache.spark.sql.DataFrame) =
      Profiling.kmvProfilePartial(df, Seq("id"), Seq("tag"), k)
    val whole = Profiling.kmvProfileMerge(partial(d), k)
      .collect().map(r => r.getString(0) -> r).toMap
    val sliced = Profiling.kmvProfileMerge(
      partial(d.filter(col("id") <= 13))
        .unionByName(partial(d.filter(col("id") > 13 && col("id") <= 29)))
        .unionByName(partial(d.filter(col("id") > 29))), k)
      .collect().map(r => r.getString(0) -> r).toMap
    for (c <- Seq("id", "tag"); i <- 1 to 6)
      assert(whole(c).get(i) == sliced(c).get(i),
        s"$c field $i: ${whole(c)} vs ${sliced(c)}")
    assert(whole("id").getLong(1) == 40L)              // n_rows
    assert(whole("id").getString(3) == "1" &&
      whole("id").getString(4) == "40")                // typed min/max
    assert(whole("id").getLong(5) == k)                // saturated
    assert(whole("id").getDouble(6) != k.toDouble)     // estimator engaged
    assert(whole("tag").getLong(5) == 7L &&
      whole("tag").getDouble(6) == 7.0)                // exact below k
  }

  test("kmv set algebra: unsaturated sketches are exact; estimates " +
      "match the known overlap") {
    import spark.implicits._
    val d = (Seq("A" -> 1, "A" -> 2, "A" -> 3, "A" -> 4) ++
      Seq("B" -> 3, "B" -> 4, "B" -> 5) ++ Seq("C" -> 9))
      .map { case (s, e) => (s, e.toLong) }.toDF("seg", "uid")
    val r = Profiling.kmvSetOps(d, col("seg"), col("uid"), k = 64)
      .collect().map(x => (x.getString(0), x.getString(1)) -> x).toMap
    val ab = r(("A", "B"))
    assert(ab.getLong(2) == 4L && ab.getLong(3) == 3L) // exact cards
    assert(ab.getLong(4) == 2L)                        // exact overlap
    assert(ab.getLong(5) == 4294967296L)               // unsaturated theta
    assert(ab.getDouble(9) == 4.0 && ab.getDouble(10) == 3.0)
    assert(ab.getDouble(11) == 2.0)  // est_inter exact below capacity
    assert(ab.getDouble(12) == 5.0)  // est_union
    assert(ab.getDouble(13) == 2.0)  // est_diff_ab
    val ac = r(("A", "C"))
    assert(ac.getLong(4) == 0L && ac.getDouble(11) == 0.0) // disjoint
  }

  test("kmv set algebra: saturated sketches obey the theta invariants") {
    import spark.implicits._
    val d = ((1 to 100).map("A" -> _) ++ (50 to 150).map("B" -> _))
      .map { case (s, e) => (s, e.toLong) }.toDF("seg", "uid")
    val k = 8
    val r = Profiling.kmvSetOps(d, col("seg"), col("uid"), k = k)
      .collect()
    assert(r.length == 1)
    val ab = r.head
    assert(ab.getLong(5) < 4294967296L) // both sides saturated
    val (aS, bS, iS) = (ab.getLong(6), ab.getLong(7), ab.getLong(8))
    assert(aS <= k - 1 && bS <= k - 1) // only hashes strictly below theta
    assert(iS <= math.min(aS, bS))
    // the side whose kth IS theta contributes exactly k-1 samples
    assert(aS == k - 1 || bS == k - 1)
    assert(ab.getDouble(11) >= 0.0 &&
      ab.getDouble(12) >= math.max(ab.getDouble(9), ab.getDouble(10)))
  }
}
