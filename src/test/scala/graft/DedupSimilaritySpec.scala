package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, IndexGen, MicroBatches, Similarity, TextOps}

/** Dedup / similarity / text-op unit tests. */
class DedupSimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  test("shingles: 3-grams in order; short docs yield empty") {
    val got = Seq("a b c d", "a b", "").toDF("text")
      .select(Dedup.shingles($"text", 3)).as[Seq[String]].collect().toSeq
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq.empty)
  }

  test("exact dedup groups identical texts") {
    val docs = Seq((1L, "same text here"), (2L, "same text here"), (3L, "other"))
      .toDF("doc_id", "text")
    val got = Dedup.exactDupGroups(docs)
      .select($"doc_id", $"dup_count", $"canonical_id", $"is_canonical")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 2L, 1L, true), (2L, 2L, 1L, false), (3L, 1L, 3L, true)))
  }

  test("fingerprint dedup is insensitive to punctuation/whitespace/case") {
    val docs = Seq((1L, "Hello,   World!"), (2L, "hello world"), (3L, "different"))
      .toDF("doc_id", "text")
    val got = Dedup.fingerprintDupGroups(docs)
      .select($"doc_id", $"dup_count").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (2L, 2L), (3L, 1L)))
  }

  test("minhash near-dups finds a perturbed copy, not unrelated docs") {
    val text = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 to 160).map(i => s"zed$i").mkString(" ")
    val docs = Seq((1L, text), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val got = Dedup.minhashNearDups(docs, threshold = 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("jaccardNearDups: identical docs jaccard=1, disjoint absent") {
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = (1 to 40).map(i => s"w$i").mkString(" ")  // identical
    val c = (50 to 90).map(i => s"w$i").mkString(" ") // same lenb, diff tok1
    val got = Dedup.jaccardNearDups(
      Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0)))
  }

  test("clusterMembership: transitive closure, min-id canonical, linear output") {
    // two components: a 20-long chain (exercises pointer jumping over
    // many rounds) and a triangle; ids deliberately interleaved
    val chain = (1L until 20L).map(i => (i, i + 1))
    val tri = Seq((100L, 103L), (103L, 107L), (100L, 107L))
    val pairs = (chain ++ tri).toDF("doc_a", "doc_b")
    val got = Dedup.clusterMembership(pairs)
      .as[(Long, Long, Long)].collect().toSeq
    val expected = (1L to 20L).map(i => (i, 1L, 20L)) ++
      Seq((100L, 100L, 3L), (103L, 100L, 3L), (107L, 100L, 3L))
    assert(got == expected)
    // output is linear in cluster size: 23 membership rows for a graph
    // whose full pair closure would be C(20,2) + C(3,2) = 193 pairs
    assert(got.size == 23)
  }

  test("jaccardClusters: chains merge via transitivity; pairs stay quadratic") {
    // A~B and B~C are near-dups but A~C falls below the threshold —
    // the cluster mode must still place all three in one cluster
    // J(a,b) = 18/38 ≈ 0.47, J(b,c) = 18/38 ≈ 0.47, J(a,c) = 8/48 ≈ 0.17
    val base = (1 to 30).map(i => s"w$i")
    val a = base.mkString(" ")
    val b = (base.drop(10) ++ (100 to 109).map(i => s"x$i")).mkString(" ")
    val c = (base.drop(20) ++ (100 to 119).map(i => s"x$i")).mkString(" ")
    val clique = (1 to 4).map(k => (10L + k, (1 to 25).map(i => s"q$i").mkString(" ")))
    val docs = (Seq((1L, a), (2L, b), (3L, c), (7L, "solitary unique doc entirely")) ++
      clique).toDF("doc_id", "text")
    val pairSet = Dedup.jaccardNearDups(docs, minJaccard = 0.3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairSet.contains((1L, 2L)) && pairSet.contains((2L, 3L)))
    assert(!pairSet.contains((1L, 3L)), "fixture must rely on transitivity")
    val got = Dedup.jaccardClusters(docs, minJaccard = 0.3)
      .as[(Long, Long, Long)].collect().toSeq
    val chainRows = got.filter(_._2 == 1L)
    assert(chainRows == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L)))
    // identical 4-doc clique: 4 membership rows vs 6 pairs
    assert(got.filter(_._2 == 11L).map(_._1) == Seq(11L, 12L, 13L, 14L))
    assert(pairSet.count { case (x, y) => x >= 11L && y <= 14L } == 6)
    // the singleton never appears
    assert(!got.exists(_._1 == 7L))
    // apply step: one canonical per cluster, singleton untouched
    val kept = Dedup.dedupByClusters(docs, Dedup.jaccardClusters(docs,
        minJaccard = 0.3)).select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 7L, 11L))
  }

  test("simhash: identical text → identical sketch; hamming near for near-dups") {
    val t1 = (1 to 50).map(i => s"tok$i").mkString(" ")
    val t2 = (1 to 50).map(i => if (i % 25 == 0) "x" else s"tok$i").mkString(" ")
    val other = (1 to 50).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, t1), (2L, t1), (3L, t2), (4L, other)).toDF("doc_id", "text")
      .select($"doc_id", Dedup.simhash($"text").as("sh"))
    val m = df.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(3L)) < ham(m(1L), m(4L)))
  }

  test("simhash64 is callable from SQL after extension registration") {
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT simhash64(array('a','b','c')) AS s").collect()(0).getLong(0)
    val viaColumn = Seq(Tuple1(Seq("a", "b", "c"))).toDF("toks")
      .select(graft.functions.SimHash64.simhash64($"toks")).collect()(0).getLong(0)
    assert(viaSql == viaColumn)
  }

  test("dot_exact is callable from SQL after extension registration") {
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      """SELECT dot_exact(array(CAST(1.5 AS FLOAT), CAST(-2.0 AS FLOAT)),
        array(CAST(4.0 AS FLOAT), CAST(0.25 AS FLOAT))) AS d""")
      .collect()(0).getDouble(0)
    assert(viaSql == 1.5 * 4.0 + -2.0 * 0.25)
  }

  test("native SimHash64 expression matches the compositional formulation") {
    val texts = Seq("a b c d e f", "the quick brown fox", "x",
      (1 to 80).map(i => s"tok$i").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select($"doc_id",
        Dedup.simhash($"text").as("native"),
        Dedup.simhashComposed($"text").as("composed"))
    df.collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}")
    }
  }

  test("native SimHash64 matches fixed known-vector hashes") {
    // The doc_simhash oracle row is an agreement check between the two
    // in-engine formulations; these constants pin the native expression
    // to ground truth computed independently (xxhash64 seed-42 per
    // token, ±1 vote per bit, bit set iff vote sum ≥ 0), so a mistake
    // shared by both formulations cannot pass silently.
    def sh(toks: Seq[String]): Long =
      Seq(Tuple1(toks)).toDF("toks")
        .select(graft.functions.SimHash64.simhash64($"toks"))
        .collect()(0).getLong(0)
    // single token: every bit's vote is the hash bit itself, so the
    // sketch IS xxhash64("a")
    assert(sh(Seq("a")) == -8582455328737087284L)
    assert(sh(Seq("a", "b", "c")) == -9192903946783104038L)
    assert(sh(Seq("the", "quick", "brown", "fox", "jumps")) ==
      -7497926397918215972L)
    // empty array: all 64 vote sums are 0 → every bit set
    assert(sh(Seq.empty) == -1L)
  }

  test("cosine top-k: self excluded, ranks by similarity") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(0.9f, 0.1f, 0f), 0),
      (2L, Array(0f, 1f, 0f), 1),
      (3L, Array(-1f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.bruteForceTopK(vecs, Seq(0L), k = 3)
      .select($"vec_id", $"rank").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("lsh ann returns a subset of brute-force candidates with same scores") {
    val vecs = (0L until 50L).map { i =>
      (i, Array.tabulate(8)(j => ((i * 7 + j * 13) % 17 - 8).toFloat / 8f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val brute = Similarity.bruteForceTopK(vecs, Seq(0L), k = 49)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect().toMap
    val ann = Similarity.lshTopK(vecs, Seq(0L), k = 10, planes = 4)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    assert(ann.nonEmpty)
    ann.foreach { case (id, sim) => assert(brute(id) == sim) }
  }

  test("native DotExact equals exact BigDecimal ground truth") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val arrays = (0L until 30L).map { i =>
      i -> Array.tabulate(16)(j => (((i * 13 + j * 3) % 19) - 9).toFloat / 9f)
    }
    val vecs = arrays.toDF("vec_id", "embedding")
    val q = arrays.head._2
    def expected(a: Array[Float]): Double =
      a.zip(q).foldLeft(JBD.ZERO) { case (acc, (x, y)) =>
        acc.add(new JBD(java.lang.Double.toString(x.toDouble * y.toDouble))
          .setScale(15, RoundingMode.HALF_UP))
      }.doubleValue()
    val got = vecs.crossJoin(
        vecs.filter($"vec_id" === 0L).select($"embedding".as("qvec")))
      .select($"vec_id", Similarity.dot($"embedding", $"qvec"))
      .as[(Long, Double)].collect().toMap
    arrays.foreach { case (id, arr) =>
      assert(got(id) == expected(arr), s"vec $id")
    }
    // the compositional decimal-aggregate form rounds each
    // accumulation step at scale 14 (decimal(38,15)+decimal(30,15)
    // exceeds precision 38) — document that it agrees to ~1e-13
    val composed = vecs.crossJoin(
        vecs.filter($"vec_id" === 0L).select($"embedding".as("qvec")))
      .select($"vec_id", Similarity.dotComposed($"embedding", $"qvec"))
      .as[(Long, Double)].collect().toMap
    arrays.foreach { case (id, _) =>
      assert(math.abs(got(id) - composed(id)) < 1e-12, s"vec $id drift")
    }
  }

  test("native Md5Seeded60 equals the conv/substring/md5 formulation") {
    val fixtures = Seq("", "a", "hello world", "naïve café — ünïcode ✓",
      "0123456789" * 40, "line\nbreak\ttab")
    val df = fixtures.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "s")
    for (seed <- Seq(0, 1, 7, 15)) {
      val rows = df.select(
        Dedup.md5Seeded(seed, $"s"),
        Dedup.md5SeededComposed(seed, $"s")).collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"seed=$seed mismatch: ${r.getLong(0)} vs ${r.getLong(1)}"))
      // always in the 60-bit non-negative range
      rows.foreach(r => assert(r.getLong(0) >= 0 && r.getLong(0) < (1L << 60)))
    }
  }

  test("Md5Seeded60 survives codegen with fallback disabled") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = Seq("x").toDF("s")
        .select(Dedup.md5Seeded(0, $"s"), Dedup.md5SeededComposed(0, $"s"))
        .collect()(0)
      assert(got.getLong(0) == got.getLong(1))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("DotExact survives codegen with fallback disabled") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = Seq((1L, Array(1f, 2f), Array(3f, 4f))).toDF("id", "a", "b")
        .select(Similarity.dot($"a", $"b")).collect()(0).getDouble(0)
      assert(got == 11.0)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("ivf ann: scores match brute force; top-1 recalled with wide probe") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => (((i * 11 + j * 5) % 13) - 6).toFloat / 6f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val brute = Similarity.bruteForceTopK(vecs, Seq(0L), k = 59)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect().toMap
    val ivf = Similarity.ivfTopK(vecs, Seq(0L), k = 10, nlist = 4, nprobe = 4)
      .select($"vec_id", $"cos_sim", $"rank").as[(Long, Double, Long)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, sim, _) => assert(brute(id) == sim) }
    // probing ALL lists ⇒ exhaustive ⇒ exact top-1
    val bruteTop = brute.toSeq.sortBy { case (id, s) => (-s, id) }.head._1
    assert(ivf.find(_._3 == 1L).get._1 == bruteTop)
  }

  test("pq: codebooks per subspace, wide candidate cut converges to exact top-k") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => (((i * 11 + j * 5) % 13) - 6).toFloat / 6f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val books = Similarity.pqCodebooks(vecs, m = 2, ksub = 4, iters = 2)
    assert(books.length == 2 && books.forall(_.length == 4) &&
      books.forall(_.forall(_.length == 4)))
    // cand ≥ corpus → every row survives the ADC funnel, so the exact
    // re-rank must reproduce brute force verbatim (scores AND order)
    val exact = Similarity.bruteForceTopK(vecs, Seq(0L), k = 5)
      .select($"vec_id", $"cos_sim", $"rank").as[(Long, Double, Long)]
      .collect().toSeq
    val pq = Similarity.pqTopK(vecs, Seq(0L), k = 5, m = 2, ksub = 4,
      iters = 2, cand = 100)
      .select($"vec_id", $"cos_sim", $"rank").as[(Long, Double, Long)]
      .collect().toSeq
    assert(pq == exact)
    // tight candidate budget: results are a subset of the corpus with
    // exact scores (re-rank never invents similarity)
    val brute = Similarity.bruteForceTopK(vecs, Seq(0L), k = 59)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect().toMap
    val narrow = Similarity.pqTopK(vecs, Seq(0L), k = 5, m = 2, ksub = 4,
      iters = 2, cand = 8)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    assert(narrow.length == 5)
    narrow.foreach { case (id, sim) => assert(brute(id) == sim) }
  }

  test("sq8: wide candidate cut converges to exact; narrow cut stays exact-scored; codes bounded") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => (((i * 11 + j * 5) % 13) - 6).toFloat / 6f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    // cand ≥ corpus → every row survives the approximate funnel, so
    // the exact re-rank must reproduce brute force verbatim
    val exact = Similarity.bruteForceTopK(vecs, Seq(0L), k = 5)
      .select($"vec_id", $"cos_sim", $"rank").as[(Long, Double, Long)]
      .collect().toSeq
    val wide = Similarity.sq8TopK(vecs, Seq(0L), k = 5, cand = 100)
      .select($"vec_id", $"cos_sim", $"rank").as[(Long, Double, Long)]
      .collect().toSeq
    assert(wide == exact)
    // tight candidate budget: exact scores on whatever survives
    val brute = Similarity.bruteForceTopK(vecs, Seq(0L), k = 59)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect().toMap
    val narrow = Similarity.sq8TopK(vecs, Seq(0L), k = 5, cand = 8)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    assert(narrow.length == 5)
    narrow.foreach { case (id, sim) => assert(brute(id) == sim) }
    // quantization round-trip: codes stay in [-127, 127] and the
    // dequantized corpus is within one scale step of the original
    val q8 = Similarity.quantizeInt8(vecs)
      .select($"vec_id", $"scale", $"codes").as[(Long, Double, Array[Int])]
      .collect()
    q8.foreach { case (_, scale, codes) =>
      assert(codes.forall(c => c >= -127 && c <= 127))
      assert(scale >= 0.0)
    }
  }

  test("bq: wide candidate cut converges to exact; narrow cut stays exact-scored; packed hamming = sign mismatches") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => (((i * 11 + j * 5) % 13) - 6).toFloat / 6f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val exact = Similarity.bruteForceTopK(vecs, Seq(0L), k = 5)
      .select($"vec_id", $"cos_sim", $"rank").as[(Long, Double, Long)]
      .collect().toSeq
    // rescoring every corpus row = brute force exactly
    val wide = Similarity.bqTopK(vecs, Seq(0L), k = 5, cand = 100)
      .select($"vec_id", $"cos_sim", $"rank").as[(Long, Double, Long)]
      .collect().toSeq
    assert(wide == exact)
    // tight candidate budget: survivors still carry exact scores
    val brute = Similarity.bruteForceTopK(vecs, Seq(0L), k = 59)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect().toMap
    val narrow = Similarity.bqTopK(vecs, Seq(0L), k = 5, cand = 8)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    assert(narrow.length == 5)
    narrow.foreach { case (id, sim) => assert(brute(id) == sim) }
    // packed-word XOR+popcount Hamming ≡ per-dim sign-mismatch count,
    // across a word boundary (dim 70 → 2 longs per vector)
    val dim = 70
    val wvecs = (0L until 9L).map { i =>
      (i, Array.tabulate(dim)(j =>
        (((i * 17 + j * 7) % 11) - 5).toFloat / 5f))
    }
    val wdf = wvecs.toDF("vec_id", "embedding")
    val packed = wdf.select($"vec_id",
      Similarity.signPackWords($"embedding", dim).as("bits"))
      .as[(Long, Array[Long])].collect().toMap
    assert(packed.values.forall(_.length == 2))
    for (a <- wvecs; b <- wvecs if a._1 < b._1) {
      val viaWords = packed(a._1).zip(packed(b._1))
        .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      val viaSigns = a._2.zip(b._2)
        .count { case (x, y) => (x > 0f) != (y > 0f) }
      assert(viaWords == viaSigns)
    }
    // a positively-scaled clone has identical signs (hamming 0), so it
    // must survive any candidate cut and re-rank at cosine 1.0
    val clone = Seq((999L,
      wvecs(3)._2.map(_ * 2f))).toDF("vec_id", "embedding")
    val top = Similarity.bqTopK(wdf.union(clone), Seq(3L), k = 1, cand = 2)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].head()
    assert(top == ((999L, 1.0)))
  }

  test("sq8 index: stored-codes probe equals the one-shot verbatim") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => (((i * 11 + j * 5) % 13) - 6).toFloat / 6f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("sq8idx").toString
    Similarity.writeSq8Index(vecs, dir)
    // the sidecar stores ONLY (vec_id, codes, scale)
    assert(spark.read.parquet(s"${iroot(dir)}/codes").columns.toSeq
      == Seq("vec_id", "codes", "scale"))
    val qvecs = vecs.filter($"vec_id".isin(0L, 1L))
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    val viaIndex = Similarity.sq8SearchIndexed(spark, dir, vecs, qvecs,
        k = 5, cand = 12)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val oneShot = Similarity.sq8TopK(vecs, Seq(0L, 1L), k = 5, cand = 12)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaIndex == oneShot && viaIndex.nonEmpty)
  }

  test("knn join: returned scores are exact; a disjoint query table finds sign-identical originals at rank 1") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => (((i * 11 + j * 5) % 13) - 6).toFloat / 6f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    // self-join: every returned (query, vec) carries the exact brute
    // cosine — the candidate blocker restricts, never rescores
    val got = Similarity.knnJoin(vecs.filter($"vec_id" < 5L), vecs,
        k = 5, planes = 4, bands = 2)
      .select($"query_id", $"vec_id", $"cos_sim")
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    val bruteAll = (0L until 5L).flatMap { q =>
      Similarity.bruteForceTopK(vecs, Seq(q), k = 59)
        .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
        .map { case (v, c) => ((q, v), c) }
    }.toMap
    got.foreach { case (q, v, c) => assert(bruteAll((q, v)) == c) }
    // disjoint query table (ids 1000+): a positively-scaled clone has
    // identical signs — it collides in EVERY band, so its original is
    // always a candidate and ranks first at exact cosine 1.0
    val queries = (0L until 6L)
      .map(i => (1000L + i, Array.tabulate(8)(j =>
        (((i * 11 + j * 5) % 13) - 6).toFloat / 6f * 3f)))
      .toDF("vec_id", "embedding")
    val top1 = Similarity.knnJoin(queries, vecs, k = 1,
        planes = 4, bands = 2)
      .select($"query_id", $"vec_id", $"cos_sim")
      .as[(Long, Long, Double)].collect()
      .map { case (q, v, c) => (q, (v, c)) }.toMap
    for (i <- 0L until 6L)
      assert(top1(1000L + i) == ((i, 1.0)),
        s"query ${1000 + i}: got ${top1(1000L + i)}")
  }

  test("bq index: stored-bits probe equals the one-shot verbatim; dim mismatch fails fast") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => (((i * 11 + j * 5) % 13) - 6).toFloat / 6f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("bqidx").toString
    Similarity.writeBqIndex(vecs, dir)
    // the sidecar stores ONLY (vec_id, bits) — the float column never
    // reaches the index
    assert(spark.read.parquet(s"${iroot(dir)}/bits").columns.toSeq
      == Seq("vec_id", "bits"))
    assert(spark.read.parquet(s"${iroot(dir)}/meta").head().getInt(0) == 8)
    val qvecs = vecs.filter($"vec_id".isin(0L, 1L))
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    val viaIndex = Similarity.bqSearchIndexed(spark, dir, vecs, qvecs,
        k = 5, cand = 12)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val oneShot = Similarity.bqTopK(vecs, Seq(0L, 1L), k = 5, cand = 12)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaIndex == oneShot && viaIndex.nonEmpty)
    // a query of the wrong dimension is refused, not silently scored
    val ex = intercept[IllegalArgumentException] {
      Similarity.bqSearchIndexed(spark, dir, vecs,
        Seq((7L, Array.fill(9)(0.5f))))
    }
    assert(ex.getMessage.contains("dimension"))
  }

  test("ivf-pq: exhaustive probe + wide candidates converge to exact; narrow probe stays exact-scored") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => (((i * 11 + j * 5) % 13) - 6).toFloat / 6f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val exact = Similarity.bruteForceTopK(vecs, Seq(0L), k = 5)
      .select($"vec_id", $"cos_sim", $"rank").as[(Long, Double, Long)]
      .collect().toSeq
    // probing every list with the full corpus as candidates = brute force
    val wide = Similarity.ivfPqTopK(vecs, Seq(0L), k = 5, nlist = 4,
      nprobe = 4, itersIvf = 2, m = 2, ksub = 4, itersPq = 2, cand = 100)
      .select($"vec_id", $"cos_sim", $"rank").as[(Long, Double, Long)]
      .collect().toSeq
    assert(wide == exact)
    // narrow probe: a restriction, so scores must still be exact ones
    val brute = Similarity.bruteForceTopK(vecs, Seq(0L), k = 59)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect().toMap
    val narrow = Similarity.ivfPqTopK(vecs, Seq(0L), k = 5, nlist = 4,
      nprobe = 1, itersIvf = 2, m = 2, ksub = 4, itersPq = 2, cand = 8)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    assert(narrow.nonEmpty)
    narrow.foreach { case (id, sim) => assert(brute(id) == sim) }
  }

  test("residual ivf-pq: exhaustive probe + wide candidates converge to exact; residual ADC beats raw coding") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => (((i * 11 + j * 5) % 13) - 6).toFloat / 6f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val exact = Similarity.bruteForceTopK(vecs, Seq(0L), k = 5)
      .select($"vec_id", $"cos_sim", $"rank").as[(Long, Double, Long)]
      .collect().toSeq
    // probing every list with the full corpus as candidates = brute force
    val wide = Similarity.ivfPqTopK(vecs, Seq(0L), k = 5, nlist = 4,
      nprobe = 4, itersIvf = 2, m = 2, ksub = 4, itersPq = 2, cand = 100,
      residual = true)
      .select($"vec_id", $"cos_sim", $"rank").as[(Long, Double, Long)]
      .collect().toSeq
    assert(wide == exact)
    // narrow probe: a restriction, so scores must still be exact ones
    val brute = Similarity.bruteForceTopK(vecs, Seq(0L), k = 59)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect().toMap
    val narrow = Similarity.ivfPqTopK(vecs, Seq(0L), k = 5, nlist = 4,
      nprobe = 1, itersIvf = 2, m = 2, ksub = 4, itersPq = 2, cand = 8,
      residual = true)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    assert(narrow.nonEmpty)
    narrow.foreach { case (id, sim) => assert(brute(id) == sim) }
    // the point of residual coding: at the same tiny code budget, the
    // residual ADC funnel recalls at least as much of the exact top-k
    // as raw coding on this structured corpus (both probe all lists,
    // equal cand — only the coding differs)
    val ids = Seq(0L, 1L, 2L)
    def recallSum(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(df, Similarity.bruteForceTopK(vecs, ids, k = 5))
        .select(sum($"recall")).as[Double].head()
    val res = recallSum(Similarity.ivfPqTopK(vecs, ids, k = 5,
      nlist = 4, nprobe = 4, itersIvf = 2, m = 2, ksub = 4, itersPq = 2,
      cand = 10, residual = true))
    val raw = recallSum(Similarity.ivfPqTopK(vecs, ids, k = 5,
      nlist = 4, nprobe = 4, itersIvf = 2, m = 2, ksub = 4, itersPq = 2,
      cand = 10))
    assert(res >= raw, s"residual recall $res < raw recall $raw")
  }

  test("dotExactLocal mirrors the native DotExact expression bit-for-bit") {
    val a = Array.tabulate(16)(i => math.sin(i * 1.7) * 3)
    val b = Array.tabulate(16)(i => math.cos(i * 0.9) / 7)
    val viaExpr = Seq((a.map(_.toFloat), b.map(_.toFloat)))
      .toDF("a", "b")
      .select(graft.functions.DotExact.dot_exact($"a", $"b"))
      .as[Double].head()
    val local = Similarity.dotExactLocal(
      a.map(x => x.toFloat.toDouble), b.map(x => x.toFloat.toDouble))
    assert(java.lang.Double.doubleToLongBits(viaExpr) ==
      java.lang.Double.doubleToLongBits(local))
  }

  test("kmeans training is deterministic across partitionings") {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => (((i * 7 + j) % 11) - 5).toFloat / 5f), 0)
    }.toDF("vec_id", "embedding", "label")
    val c1 = Similarity.trainCentroids(vecs, k = 4, iters = 2)
    val c2 = Similarity.trainCentroids(vecs.repartition(13), k = 4, iters = 2)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
  }

  test("topKPerQuery: k larger than candidates returns all, ranked") {
    val scored = Seq(
      (0L, 10L, 0.9), (0L, 11L, 0.9), (0L, 12L, 0.5),
      (1L, 10L, 0.3))
      .toDF("query_id", "vec_id", "cos_sim")
    val got = Similarity.bruteForceTopK(
      graft.sources.Tables.embeddings(spark, sf("sf0.001")), Seq(0L), k = 3)
    assert(got.count() == 3)
    // direct helper path: ties break by ascending vec_id; short groups
    // return what exists
    val ranked = Similarity.topKPerQuery(scored, 10)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Long)].collect().toSeq
    assert(ranked == Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L),
      (1L, 10L, 1L)))
  }

  test("prefix-filtered jaccard equals brute force on a random corpus") {
    // small vocabulary → dense overlap → the prefix/size/positional
    // filters all get exercised near their bounds; brute force is the
    // ground truth the lossless-filter claims must match exactly
    val rng = new scala.util.Random(7)
    val vocab = (0 until 25).map(i => s"w$i")
    val bases = (0 until 15).map { _ =>
      Seq.fill(10 + rng.nextInt(12))(vocab(rng.nextInt(vocab.length)))
    }
    // each base plus a one-token-mutated variant (true near-dup) plus
    // independent random docs (true negatives)
    val texts = bases.flatMap { b =>
      val mutated = b.updated(rng.nextInt(b.length), vocab(rng.nextInt(vocab.length)))
      Seq(b.mkString(" "), mutated.mkString(" "))
    } ++ (0 until 10).map(_ =>
      Seq.fill(12)(vocab(rng.nextInt(vocab.length))).mkString(" "))
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val docs = rows.toDF("doc_id", "text")
    val fast = Dedup.jaccardNearDups(docs, minJaccard = 0.3)
      .select($"doc_a", $"doc_b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // Scala-side brute force over the same 3-gram shingle definition
    def shinglesOf(t: String): Set[String] = {
      val toks = t.trim.split("\\s+").toSeq
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = rows.map { case (id, t) => id -> shinglesOf(t) }
    val brute = (for {
      (a, sa) <- sets
      (b, sb) <- sets
      if a < b
      inter = (sa & sb).size.toDouble
      j = BigDecimal(inter / math.max((sa | sb).size.toDouble, 1.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.3
    } yield (a, b, j)).toSet
    assert(fast == brute, s"fast=${fast.size} brute=${brute.size}")
    assert(brute.nonEmpty, "fixture produced no near-dup pairs — weak test")
  }

  test("simhash banding finds EVERY pair within the hamming radius (pigeonhole)") {
    val rng = new scala.util.Random(11)
    val vocab = (0 until 25).map(i => s"t$i")
    // exact duplicates guarantee hamming-0 ground truth; appended-token
    // variants sit at small positive distances; the rest are random
    val texts = (0 until 8).flatMap { _ =>
      val b = Seq.fill(12 + rng.nextInt(15))(vocab(rng.nextInt(vocab.length)))
      Seq(b.mkString(" "), b.mkString(" "),
        (b :+ vocab(rng.nextInt(vocab.length))).mkString(" "))
    } ++ (0 until 6).map(_ =>
      Seq.fill(15)(vocab(rng.nextInt(vocab.length))).mkString(" "))
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val docs = rows.toDF("doc_id", "text")
    val banded = Dedup.simhashNearDups(docs, maxHamming = 3)
      .select($"doc_a", $"doc_b", $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    val sk = Dedup.simhashPortable(docs)
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sk.keys; b <- sk.keys
      if a < b
      h = java.lang.Long.bitCount(sk(a) ^ sk(b)).toLong
      if h <= 3
    } yield (a, b, h)).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty, "fixture produced no close sketches — weak test")
  }

  test("simhash near-dups: identical docs pair at hamming 0, unrelated absent") {
    val base = (0 until 40).map(j => s"w$j").mkString(" ")
    val docs = Seq(
      (0L, base),
      (1L, base), // identical → hamming 0 via every band
      (2L, base + " extra"), // near — MAY pair, depending on bit flips
      (3L, (100 until 140).map(j => s"z$j").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val got = Dedup.simhashNearDups(docs)
      .select($"doc_a", $"doc_b", $"hamming")
      .as[(Long, Long, Long)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((0L, 1L)))
    assert(got.find(r => r._1 == 0L && r._2 == 1L).get._3 == 0L)
    assert(pairs.subsetOf(Set((0L, 1L), (0L, 2L), (1L, 2L))))
    assert(got.forall(_._3 <= 3L))
  }

  test("jaccard prefix filtering: a hot shared first token forms no candidates") {
    // 60 docs share the first token but are otherwise disjoint — the
    // round-2 (first token, length bucket) blocking put all of them in
    // ONE block (C(60,2) = 1770 candidate pairs); with prefix filtering
    // every 3-gram shingle is unique (df = 1), so no candidates at all
    val docs = (0 until 60).map { i =>
      (i.toLong, "common " + (0 until 12).map(j => s"w${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    assert(Dedup.jaccardCandidates(docs, 3, 0.3).count() == 0)
    assert(Dedup.jaccardNearDups(docs).count() == 0)
    // ...while a true near-dup still joins through its shared (rare)
    // prefix shingles: candidate volume tracks near-dup density
    val nd = docs.union(Seq(
      (1000L, "common " + (0 until 12).map(j => s"w0_$j").mkString(" ")))
      .toDF("doc_id", "text"))
    val pairs = Dedup.jaccardNearDups(nd)
      .select($"doc_a", $"doc_b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set((0L, 1000L, 1.0)))
  }

  test("dedupedCorpus: no loss to a near-dup the fingerprint stage removed") {
    // doc 1 is a normalized-fingerprint dup of doc 0 (case-only diff →
    // raw shingles disjoint); doc 2 is a raw near-dup of doc 1 ONLY.
    // Greedy dedup over the SURVIVORS {0, 2} keeps both — the round-2
    // full-corpus loser pass dropped 2 for losing to the already-removed 1
    val t = (0 until 30).map(j => s"tok$j").mkString(" ")
    val docs = Seq(
      (0L, t.toUpperCase),
      (1L, t),
      (2L, t + " extra"))
      .toDF("doc_id", "text")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
    val kept = Dedup.dedupedCorpus(docs, threshold = 0.3)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L))
  }

  test("topKPerQuery drops NaN scores instead of letting them evict real rows") {
    // zero-norm embeddings score NaN; under the old per-partition heap
    // Double.compare ranked NaN best, evicting legitimate rows
    val scored = Seq((0L, 10L, Double.NaN), (0L, 11L, 0.9), (0L, 12L, 0.5))
      .toDF("query_id", "vec_id", "cos_sim")
    val ranked = Similarity.topKPerQuery(scored, 2)
      .select($"vec_id", $"rank").as[(Long, Long)].collect().toSeq
    assert(ranked == Seq((11L, 1L), (12L, 2L)))
  }

  test("int8 quantization: codes bounded, zero vectors safe, error within half-step") {
    val vecs = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f, 0.003f), 0),
      (1L, Array(0f, 0f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val q = Similarity.quantizeInt8(vecs)
      .select($"vec_id", $"scale", $"codes")
      .as[(Long, Double, Seq[Int])].collect().map(r => r._1 -> r).toMap
    assert(q(0L)._3.forall(c => c >= -127 && c <= 127))
    assert(q(0L)._3(1) == -127) // the max-magnitude component saturates
    assert(q(1L)._2 == 0.0 && q(1L)._3.forall(_ == 0)) // zero vector
    val e = Similarity.quantizationError(vecs)
      .select($"vec_id", $"scale", $"max_abs_err", $"mse")
      .as[(Long, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    // symmetric rounding: reconstruction error ≤ scale/2 per component
    assert(e(0L)._3 <= e(0L)._2 / 2 + 1e-9)
    assert(e(1L)._3 == 0.0 && e(1L)._4 == 0.0)
  }

  test("durable IVF-PQ index: stored-code probe equals one-shot ivfPqTopK; layout superset") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqidx").toString
    val emb = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    Similarity.writeIvfPqIndex(emb, dir)
    val qvecs = emb.filter($"vec_id".isin(0L, 1L, 2L))
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    val viaIndex = Similarity.ivfPqSearchIndexed(spark, dir, qvecs)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val oneShot = Similarity.ivfPqTopK(emb, Seq(0L, 1L, 2L))
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(viaIndex == oneShot && viaIndex.nonEmpty)
    // the ADC scan reads codes, never the float embedding column
    val adcSchema = spark.read.parquet(s"${iroot(dir)}/lists")
      .select($"vec_id", $"cid", $"codes")
    assert(adcSchema.columns.toSet == Set("vec_id", "cid", "codes"))
    // superset layout: the plain IVF probe reads the same index
    val ivf = Similarity.ivfSearchIndexed(spark, dir, qvecs,
      k = 10, nprobe = 2)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val ivfOneShot = Similarity
      .ivfTopK(emb, Seq(0L, 1L, 2L), k = 10, nlist = 16, nprobe = 2,
        iters = 3)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(ivf == ivfOneShot && ivf.nonEmpty)
    // residual-coded index: the probe auto-detects the coding from
    // the marker column inside pq_books and must equal the one-shot
    // residual path
    val rdir = java.nio.file.Files.createTempDirectory("ivfpqridx").toString
    Similarity.writeIvfPqIndex(emb, rdir, residual = true)
    assert(spark.read.parquet(s"${iroot(rdir)}/pq_books")
      .select($"coding").as[String].head() == "residual")
    val viaResIndex = Similarity.ivfPqSearchIndexed(spark, rdir, qvecs)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val resOneShot = Similarity.ivfPqTopK(emb, Seq(0L, 1L, 2L), residual = true)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(viaResIndex == resOneShot && viaResIndex.nonEmpty)
  }

  test("materialized IVF index: pruned probes, same results as one-shot ivf") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val emb = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    Similarity.writeIvfIndex(emb, dir, nlist = 16, iters = 3)
    // the list layout partition-prunes: a single-list read touches a
    // strict subset of the index files
    val lists = spark.read.parquet(s"${iroot(dir)}/lists")
    val one = lists.filter($"cid" === 0)
    one.collect()
    val scans = one.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    assert(filesRead > 0 && filesRead < lists.inputFiles.length,
      s"pruning read $filesRead of ${lists.inputFiles.length} files")
    // probe results are identical to the in-memory ivfTopK (same
    // deterministic training, same probe + ranking semantics); query
    // vectors are caller-supplied — fetched from the BASE table, never
    // by scanning the index lists
    val qvecs = emb.filter($"vec_id".isin(0L, 1L, 2L))
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    val viaIndex = Similarity
      .ivfSearchIndexed(spark, dir, qvecs, k = 10, nprobe = 2)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val oneShot = Similarity
      .ivfTopK(emb, Seq(0L, 1L, 2L), k = 10, nlist = 16, nprobe = 2, iters = 3)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaIndex == oneShot && viaIndex.nonEmpty)
  }

  test("writeIvfIndexSampled: quantizer trains on the vec_id % mod sample, full corpus assigned and counted") {
    val emb = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val n = emb.count()
    // mod=1: the sample IS the corpus — layout must equal writeIvfIndex
    val full = java.nio.file.Files.createTempDirectory("ivfs1").toString
    Similarity.writeIvfIndexSampled(emb, full, sampleMod = 1,
      nlist = 8, iters = 2)
    val plain = java.nio.file.Files.createTempDirectory("ivfp").toString
    Similarity.writeIvfIndex(emb, plain, nlist = 8, iters = 2)
    assert(Similarity.readCentroids(spark, iroot(full)).map(_.toSeq).toSeq ==
      Similarity.readCentroids(spark, iroot(plain)).map(_.toSeq).toSeq)
    // mod=4: stored centroids = trainCentroids over exactly the sample
    // (the train-on-sample / assign-all split contract), stats count
    // the FULL corpus (the drift guard measures what the index holds)
    val dir = java.nio.file.Files.createTempDirectory("ivfs4").toString
    Similarity.writeIvfIndexSampled(emb, dir, sampleMod = 4,
      nlist = 8, iters = 2)
    val wantCents = Similarity.trainCentroids(
      emb.filter($"vec_id" % 4 === 0), k = 8, iters = 2)
    assert(Similarity.readCentroids(spark, iroot(dir)).map(_.toSeq).toSeq ==
      wantCents.map(_.toSeq).toSeq)
    assert(spark.read.parquet(s"${iroot(dir)}/lists").count() == n)
    assert(Similarity.indexedCorpusCount(spark, dir) == n)
    // the probe is the standard pruned read; every corpus vector is
    // findable (assignment covered the non-sampled rows too)
    val qvecs = emb.filter($"vec_id".isin(0L, 1L, 2L))
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    val got = Similarity.ivfSearchIndexed(spark, dir, qvecs, k = 10,
      nprobe = 2)
    assert(got.count() == 30)
  }

  test("recallAtK: intersection over exact size; missing queries recall 0") {
    val exact = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L))
      .toDF("query_id", "vec_id")
    val approx = Seq((0L, 1L), (0L, 3L), (0L, 9L), (1L, 4L))
      .toDF("query_id", "vec_id")
    val got = Similarity.recallAtK(approx, exact)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 2L, 3L, 0.6667), (1L, 1L, 1L, 1.0)))
    val none = Similarity.recallAtK(
      Seq((0L, 9L)).toDF("query_id", "vec_id"), exact)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(none == Seq((0L, 0L, 3L, 0.0), (1L, 0L, 1L, 0.0)))
  }

  test("ensureIvfIndex: warehouse-rooted default, custom root, build-once guard") {
    val emb = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val src = sf("sf0.001") + "/embeddings.parquet"
    // default root: under the session warehouse, never java.io.tmpdir
    val byDefault = Similarity.ensureIvfIndex(spark, src, emb)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    assert(byDefault.stripPrefix("file:").startsWith(wh),
      s"index $byDefault not under warehouse $wh")
    assert(byDefault.contains("graft-ivf-index"))
    // explicit root is honored
    val root = java.nio.file.Files.createTempDirectory("ivfroot").toString
    val dir = Similarity.ensureIvfIndex(spark, src, emb,
      indexRoot = Some(root))
    assert(dir.startsWith(root))
    val marker = new java.io.File(dir, "_source_fingerprint")
    assert(marker.exists())
    // unchanged source fingerprint → second call must NOT rebuild
    val stamp = marker.lastModified()
    val again = Similarity.ensureIvfIndex(spark, src, emb,
      indexRoot = Some(root))
    assert(again == dir && marker.lastModified() == stamp)
    // the relocated index serves probes
    val qvecs = emb.filter($"vec_id" === 0L)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq
    assert(Similarity.ivfSearchIndexed(spark, dir, qvecs).count() > 0)
  }

  test("repetitionSignals: periodic text scores high, unique text 0, short text 0") {
    val periodic = Seq.fill(5)("spam spam spam wow").mkString(" ") // 20 toks, 18 grams, 4 distinct
    val unique = (1 to 20).map(i => s"u$i").mkString(" ")
    val got = TextOps.repetitionSignals(
      Seq((1L, periodic), (2L, unique), (3L, "a b")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 18L, 4L, 0.7778),
      (2L, 18L, 18L, 0.0),
      (3L, 0L, 0L, 0.0)))
  }

  test("contamination flags training docs sharing an n-gram with the benchmark") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    // 11 tokens → four 8-grams, exactly one copied from the benchmark
    val leaked = "pre1 pre2 pre3 alpha beta gamma delta epsilon zeta eta theta"
    val clean = (1 to 12).map(i => s"clean$i").mkString(" ")
    val training = Seq((1L, leaked), (2L, clean)).toDF("doc_id", "text")
    val got = TextOps.contamination(training, bench, n = 8)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1L, 4L, 0.25)))
    // a shorter overlap (7 shared tokens) must NOT flag at n=8
    val sub = "alpha beta gamma delta epsilon zeta eta other tail words here"
    val got2 = TextOps.contamination(
      Seq((3L, sub)).toDF("doc_id", "text"), bench, n = 8)
    assert(got2.isEmpty)
  }

  test("hot-bucket cap bounds banded sketch candidates; verified output unchanged") {
    // 30 "boilerplate" sketches share band 0 (low 16 bits = 0xAAAA)
    // but sit pairwise Hamming >= 6 apart (bands 1-3 carry an
    // even-weight code value, XOR weight >= 2, replicated 3x), so the
    // hub bucket emits C(30,2) = 435 candidates and ZERO verified
    // pairs at radius 3 — pure wasted join work. One true pair lives
    // in cold buckets (shared bands with occupancy 2).
    def evenCode(k: Long): Long =
      (k << 1) | (java.lang.Long.bitCount(k) & 1L)
    val hub = (0 until 30).map { i =>
      val v = evenCode(i + 1L)
      (i.toLong, 0xAAAAL | (v << 16) | (v << 32) | (v << 48))
    }
    val base = 0x5555L | (0xBEEFL << 16) | (0xCAFEL << 32) | (0x1234L << 48)
    val pair = Seq((100L, base), (101L, base ^ (1L << 20)))
    val sk = (hub ++ pair).toDF("doc_id", "simhash")
    def candidates(cap: Long): Long =
      Dedup.bandedSketchCandidates(sk, "simhash", bands = 4, bits = 64,
        maxBandDf = cap).select($"doc_a", $"doc_b").distinct().count()
    assert(candidates(0L) == 436L)  // 435 hub + 1 true
    assert(candidates(10L) == 1L)   // hub bucket dropped, true pair kept
    def verified(cap: Long): Set[(Long, Long, Long)] =
      Dedup.bandedHammingPairs(sk, "simhash", maxHamming = 3, bands = 4,
        bits = 64, maxBandDf = cap)
        .as[(Long, Long, Long)].collect().toSet
    val expect = Set((100L, 101L, 1L))
    assert(verified(0L) == expect)
    assert(verified(10L) == expect)
  }

  test("duplicateSpans: corpus-wide duplicated 10-token windows per doc") {
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, ten + " k1"),                            // w1 = t1..t10 (shared), w2 unique
      (2L, ten + " z9"),                            // w1 = t1..t10 (shared), w2 unique
      (3L, (1 to 12).map(i => s"u$i").mkString(" ")), // 3 windows, all unique
      (4L, ten + " " + ten),                        // t1..t10 at pos 1 AND 11 (within-doc repeat)
      (5L, (1 to 9).map(i => s"s$i").mkString(" ")) // < 10 tokens: no windows, excluded
    ).toDF("doc_id", "text")
    val expect = Seq(
      (1L, 1L, 2L, 0.5),
      (2L, 1L, 2L, 0.5),
      (3L, 0L, 3L, 0.0),
      (4L, 2L, 11L, 0.1818)) // rotations at pos 2..10 are unique
    val got = TextOps.duplicateSpans(docs, n = 10)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == expect)
    // hash-family independence: the portable md5 family (the oracle
    // path) must count identically to the xxhash64 engine path
    val gotMd5 = TextOps.duplicateSpans(docs, n = 10,
      hashFn = Dedup.md5Seeded).as[(Long, Long, Long, Double)].collect().toSeq
    assert(gotMd5 == expect)
  }

  test("prefixTopK: prefix-dim ranking diverges from full-dim truth; recallAtK prices the truncation") {
    import graft.operators.Similarity
    val emb = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f), 0),
      (1L, Array(1.0f, 0.1f, 0f, 0f), 0),   // full cos .995 (best)
      (2L, Array(1.0f, 0f, 1f, 0f), 0),     // prefix cos 1.0, full .7071
      (3L, Array(0.9f, 0.1f, 0f, 0f), 0)    // full cos .9939 (2nd)
    ).toDF("vec_id", "embedding", "label")
    val pre = Similarity.prefixTopK(emb, Seq(0L), prefixDim = 2, k = 2)
      .select($"vec_id", $"cos_sim", $"rank")
      .as[(Long, Double, Long)].collect().toSeq
    assert(pre == Seq((2L, 1.0, 1L), (1L, 0.995, 2L)), s"got $pre")
    val rec = Similarity.recallAtK(
      Similarity.prefixTopK(emb, Seq(0L), prefixDim = 2, k = 2),
      Similarity.bruteForceTopK(emb, Seq(0L), k = 2))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(rec == Seq((0L, 1L, 2L, 0.5)), s"got $rec")
  }

  test("prefixRerankTopK: full-dim rerank repairs the truncation; candidate width is the dial") {
    import graft.operators.Similarity
    val emb = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f), 0),
      (1L, Array(1.0f, 0.1f, 0f, 0f), 0),
      (2L, Array(1.0f, 0f, 1f, 0f), 0),
      (3L, Array(0.9f, 0.1f, 0f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    // cand = 3 readmits everything the prefix pass misranked —
    // the rerank output IS the brute-force truth
    val rr = Similarity.prefixRerankTopK(emb, Seq(0L), prefixDim = 2,
        cand = 3, k = 2)
      .select($"vec_id", $"cos_sim", $"rank")
      .as[(Long, Double, Long)].collect().toSeq
    val bf = Similarity.bruteForceTopK(emb, Seq(0L), k = 2)
      .select($"vec_id", $"cos_sim", $"rank")
      .as[(Long, Double, Long)].collect().toSeq
    assert(rr == bf, s"got $rr vs $bf")
    // cand = 1: only the prefix winner survives into the rerank
    val narrow = Similarity.prefixRerankTopK(emb, Seq(0L), prefixDim = 2,
        cand = 1, k = 2)
      .select($"vec_id").as[Long].collect().toSeq
    assert(narrow == Seq(2L), s"got $narrow")
  }

  test("bigramDrift: exact rational L1 between per-source bigram distributions; one-sided sources report NULL") {
    val base = Seq((1L, "ab", "s"), (2L, "abb", "s"))
      .toDF("doc_id", "text", "source")
    val batch = Seq((10L, "ab", "s"), (11L, "xy", "t"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.bigramDrift(base, batch)
      .as[(String, Long, Long, Option[Double])].collect().toSeq
    // source s: base {ab:2, bb:1} n=3 vs batch {ab:1} n=1 →
    // (|2·1 − 1·3| + |1·1 − 0·3|) / (3·1) = 2/3
    assert(got == Seq(("s", 3L, 1L, Some(0.666667)),
      ("t", 0L, 1L, None)), s"got $got")
    // identical snapshots → zero drift
    val same = TextOps.bigramDrift(base, base)
      .as[(String, Long, Long, Option[Double])].collect().toSeq
    assert(same == Seq(("s", 3L, 3L, Some(0.0))), s"got $same")
  }

  test("durable BM25 index: probe equals the one-shot ranking; build-once under the source fingerprint") {
    val docs = Seq(
      (0L, "apple banana cherry", "s"),
      (1L, "apple apple durian", "s"),
      (2L, "elderberry fig grape", "s"),
      (3L, "apple banana durian elderberry", "s"),
      (4L, "banana banana cherry fig", "s")
    ).toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files
      .createTempDirectory("bm25-idx").toString
    TextOps.writeBm25Index(docs, dir, nBuckets = 8)
    def q01 = docs.filter($"doc_id".isin(0L, 1L))
      .select($"doc_id".as("query_id"), $"text")
    val probe = TextOps.bm25SearchIndexed(spark, dir, q01, k = 3)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val oneShot = TextOps.bm25TopK(docs, Seq(0L, 1L), k = 3)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(probe == oneShot && probe.nonEmpty, s"probe $probe vs $oneShot")
    // build-once: ensure over a parquet source, second call is a no-op
    val srcDir = java.nio.file.Files
      .createTempDirectory("bm25-src").toString + "/documents.parquet"
    docs.write.parquet(srcDir)
    val root = java.nio.file.Files
      .createTempDirectory("bm25-root").toString
    val idx = TextOps.ensureBm25Index(spark, srcDir,
      spark.read.parquet(srcDir), nBuckets = 8, indexRoot = Some(root))
    val marker = new java.io.File(idx, "_source_fingerprint")
    assert(marker.exists())
    val stamp = marker.lastModified()
    val again = TextOps.ensureBm25Index(spark, srcDir,
      spark.read.parquet(srcDir), nBuckets = 8, indexRoot = Some(root))
    assert(again == idx && marker.lastModified() == stamp)
    val viaEnsure = TextOps.bm25SearchIndexed(spark, idx, q01, k = 3)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(viaEnsure == oneShot)
  }

  test("hybridRrfIndexed: the at-rest retrieval stack equals the one-shot fusion when the probe is exact") {
    import graft.operators.Similarity
    val corpus = Seq(
      (0L, "apple banana cherry", "s"),
      (1L, "apple apple durian", "s"),
      (2L, "elderberry fig grape", "s"),
      (3L, "apple banana durian elderberry", "s"),
      (4L, "banana banana cherry fig", "s"),
      (5L, "grape honeydew apple fig", "s")
    ).toDF("doc_id", "text", "source")
    val bmDir = java.nio.file.Files
      .createTempDirectory("hyb-bm").toString
    TextOps.writeBm25Index(corpus, bmDir, nBuckets = 8)
    val annDir = java.nio.file.Files
      .createTempDirectory("hyb-ann").toString
    Similarity.writeIvfIndex(
      TextOps.hashEmbedVectors(corpus).select($"vec_id", $"embedding"),
      annDir, nlist = 2, iters = 2)
    // nprobe = nlist → the IVF probe scans every list → exact
    val indexed = TextOps.hybridRrfIndexed(spark, bmDir, annDir,
      corpus.filter($"doc_id".isin(0L, 1L))
        .select($"doc_id".as("query_id"), $"text"),
      k = 3, nprobe = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val oneShot = TextOps.hybridRrfTopK(corpus, Seq(0L, 1L), k = 3)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(indexed == oneShot && indexed.nonEmpty,
      s"indexed $indexed vs one-shot $oneShot")
    // the featurization width comes from the index's stored centroid
    // length — no caller constant needed (the call above omits dim)
    // — and a query side of the WRONG width fails at the seam with
    // both dims named, not as a length require deep in the probe
    val e = intercept[IllegalArgumentException] {
      Similarity.knnJoinIndexed(spark, annDir,
        TextOps.hashEmbedVectors(corpus, dim = 16)
          .select($"vec_id", $"embedding"), k = 3, nprobe = 2)
    }
    assert(e.getMessage.contains("query embedding dim 16") &&
      e.getMessage.contains("index dim 64"), e.getMessage)
  }

  test("streaming BM25 serving: batches match the indexed batch face; replay overwrites; appends visible without restart") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (0L, "apple banana cherry", "s"),
      (1L, "apple apple durian", "s"),
      (2L, "elderberry fig grape", "s"),
      (3L, "apple banana durian elderberry", "s")
    ).toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files
      .createTempDirectory("bm25-serve").toString
    TextOps.writeBm25Index(corpus, dir, nBuckets = 8)
    val outDir = java.nio.file.Files
      .createTempDirectory("bm25-serve-out").toString + "/results"
    val ckpt = java.nio.file.Files
      .createTempDirectory("bm25-serve-ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = MicroBatches.serve(mem.toDF().toDF("query_id", "text"), ckpt,
        outDir, 50L)(b => TextOps.bm25SearchIndexed(b.sparkSession, dir, b, k = 3))
    try {
      mem.addData((900L, "apple banana"), (901L, "elderberry fig"))
      q.processAllAvailable()
      mem.addData((902L, "durian"))
      q.processAllAvailable()
      def snap() = spark.read.parquet(outDir)
        .select($"query_id", $"rank", $"doc_id", $"matched_terms",
          $"score")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      val face = TextOps.bm25SearchIndexed(spark, dir,
        Seq((900L, "apple banana"), (901L, "elderberry fig"),
          (902L, "durian")).toDF("query_id", "text"), k = 3)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(snap() == face, s"got ${snap()} vs $face")
      // crash replay of a landed batch: MicroBatchReplaySpec
      // an appended doc is retrievable by the NEXT batch, no restart
      TextOps.appendToBm25IndexCommitted(spark, dir,
        Seq((4L, "honeydew honeydew honeydew", "s"))
          .toDF("doc_id", "text", "source"), batchId = 76L)
      mem.addData((903L, "honeydew"))
      q.processAllAvailable()
      val hit = spark.read.parquet(outDir)
        .filter($"query_id" === 903L && $"rank" === 1L)
        .select($"doc_id").as[Long].head()
      assert(hit == 4L, s"appended doc not served: $hit")
      // a second append composes with the LIVE stream too — appends
      // never rewrite the base dims, so there is no swap window at all
      TextOps.appendToBm25IndexCommitted(spark, dir,
        Seq((5L, "kiwi kiwi lime", "s")).toDF("doc_id", "text", "source"),
        batchId = 77L)
      mem.addData((904L, "kiwi lime"))
      q.processAllAvailable()
      val hit2 = spark.read.parquet(outDir)
        .filter($"query_id" === 904L && $"rank" === 1L)
        .select($"doc_id").as[Long].head()
      assert(hit2 == 5L, s"committed-appended doc not served: $hit2")
    } finally { if (q.isActive) q.stop() }
  }

  test("BM25 committed append equals a full rebuild exactly") {
    val base = Seq(
      (0L, "apple banana cherry", "s"),
      (1L, "apple apple durian", "s"),
      (2L, "elderberry fig grape", "s"),
      (3L, "apple banana durian elderberry", "s")
    ).toDF("doc_id", "text", "source")
    val batch = Seq(
      (4L, "banana banana cherry fig", "s"),
      (5L, "apple cherry cherry honeydew", "s")
    ).toDF("doc_id", "text", "source")
    def q01(d: org.apache.spark.sql.DataFrame) =
      d.filter($"doc_id".isin(0L, 1L))
        .select($"doc_id".as("query_id"), $"text")
    val dirA = java.nio.file.Files
      .createTempDirectory("bm25-app").toString
    TextOps.writeBm25Index(base, dirA, nBuckets = 8)
    TextOps.appendToBm25IndexCommitted(spark, dirA, batch, batchId = 1L)
    val dirB = java.nio.file.Files
      .createTempDirectory("bm25-reb").toString
    val union = base.union(batch)
    TextOps.writeBm25Index(union, dirB, nBuckets = 8)
    def probe(dir: String) =
      TextOps.bm25SearchIndexed(spark, dir, q01(union), k = 4)
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val appended = probe(dirA)
    assert(appended == probe(dirB), "append diverged from rebuild")
    assert(TextOps.readBm25Stats(spark, dirA) ==
      TextOps.readBm25Stats(spark, dirB), "stats diverged from rebuild")
    assert(appended == TextOps.bm25TopK(union, Seq(0L, 1L), k = 4)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq,
      "append diverged from the one-shot")
    // appended doc is retrievable (doc 5 shares apple/cherry with 0)
    assert(appended.filter(_._1 == 0L).map(_._3).contains(5L))
    // fingerprint leg: append to the SOURCE, then the committed append
    // with sourcePath advances the marker, so ensure does NOT rebuild
    val srcDir = java.nio.file.Files
      .createTempDirectory("bm25-app-src").toString + "/documents.parquet"
    base.write.parquet(srcDir)
    val root = java.nio.file.Files
      .createTempDirectory("bm25-app-root").toString
    val idx = TextOps.ensureBm25Index(spark, srcDir,
      spark.read.parquet(srcDir), nBuckets = 8, indexRoot = Some(root))
    batch.write.mode("append").parquet(srcDir)
    TextOps.appendToBm25IndexCommitted(spark, idx, batch, 1L, Some(srcDir))
    val marker = new java.io.File(idx, "_source_fingerprint")
    val stamp = marker.lastModified()
    val again = TextOps.ensureBm25Index(spark, srcDir,
      spark.read.parquet(srcDir), nBuckets = 8, indexRoot = Some(root))
    assert(again == idx && marker.lastModified() == stamp,
      "ensure after a marker-advancing append must not rebuild")
    assert(probe(idx) == appended)
  }

  test("appendToBm25IndexCommitted + compactBm25Index: exactly-once replay, half-landed sweep, probe identical across compaction") {
    val base = Seq(
      (0L, "apple banana cherry", "s"),
      (1L, "apple apple durian", "s"),
      (2L, "elderberry fig grape", "s"),
      (3L, "apple banana durian elderberry", "s")
    ).toDF("doc_id", "text", "source")
    val b1 = Seq((4L, "banana banana cherry fig", "s"))
      .toDF("doc_id", "text", "source")
    val b2 = Seq((5L, "apple cherry cherry honeydew", "s"))
      .toDF("doc_id", "text", "source")
    val union = base.union(b1).union(b2)
    val dir = java.nio.file.Files
      .createTempDirectory("bm25-cmt").toString
    TextOps.writeBm25Index(base, dir, nBuckets = 8)
    TextOps.appendToBm25IndexCommitted(spark, dir, b1, batchId = 1L)
    TextOps.appendToBm25IndexCommitted(spark, dir, b2, batchId = 2L)
    def probe() = TextOps.bm25SearchIndexed(spark, dir,
      union.filter($"doc_id".isin(0L, 1L))
        .select($"doc_id".as("query_id"), $"text"), k = 4)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val oneShot = TextOps.bm25TopK(union, Seq(0L, 1L), k = 4)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val committed = probe()
    assert(committed == oneShot && committed.nonEmpty,
      s"committed appends diverged from the one-shot: $committed")
    // composite stats = base file + marker contributions
    assert(TextOps.readBm25Stats(spark, dir) == ((6L, 21L, 8L)))
    def files(sub: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      val root = new java.io.File(iroot(dir), sub)
      if (root.exists) walk(root) else Nil
    }
    // REPLAY of a committed batch is a marker-detected no-op: same
    // probe, not one more file
    val nBefore = (files("postings").size, files("df_deltas").size)
    TextOps.appendToBm25IndexCommitted(spark, dir, b1, batchId = 1L)
    assert((files("postings").size, files("df_deltas").size) == nBefore,
      "replaying a committed batch must not land files")
    assert(probe() == oneShot)
    // HALF-LANDED replay: plant a stale b3-* file (a crashed prior
    // attempt's half-move — a copy of a real postings file, so the
    // index stays readable but holds duplicated rows), then replay —
    // the sweep must remove it and land batch 3 exactly once
    val victim = files("postings").head
    val planted = new java.io.File(victim.getParentFile, "b3-p99.parquet")
    java.nio.file.Files.copy(victim.toPath, planted.toPath)
    val b3 = Seq((6L, "grape grape banana", "s"))
      .toDF("doc_id", "text", "source")
    TextOps.appendToBm25IndexCommitted(spark, dir, b3, batchId = 3L)
    assert(!planted.exists, "sweep must remove the half-moved file")
    val union3 = union.union(b3)
    def probe3() = TextOps.bm25SearchIndexed(spark, dir,
      union3.filter($"doc_id".isin(0L, 1L))
        .select($"doc_id".as("query_id"), $"text"), k = 5)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val oneShot3 = TextOps.bm25TopK(union3, Seq(0L, 1L), k = 5)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(probe3() == oneShot3, "half-landed replay diverged")
    // COMPACTION: probe identical, df deltas folded away, postings
    // down to one file per bucket, markers RETAINED as replay guards
    val postingsBefore = files("postings").size
    TextOps.compactBm25Index(spark, dir)
    assert(probe3() == oneShot3, "compaction changed probe results")
    assert(files("df_deltas").isEmpty, "df deltas must fold into base")
    val buckets = new java.io.File(iroot(dir), "postings").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(files("postings").size <= buckets &&
      files("postings").size < postingsBefore,
      s"compaction must shrink the file count below $postingsBefore")
    assert(TextOps.readBm25Stats(spark, dir) == ((7L, 24L, 8L)),
      "markers must survive compaction (stats contributions)")
    // post-compaction replay of a committed batch: still a no-op
    val nAfter = files("postings").size
    TextOps.appendToBm25IndexCommitted(spark, dir, b2, batchId = 2L)
    assert(files("postings").size == nAfter && probe3() == oneShot3,
      "a replayed batch must short-circuit on its retained marker")
  }

  test("bm25SearchIndexed: the maxQueryTerms guard bounds the DISTINCT TERM cardinality, not the bucket list") {
    val docs = Seq((0L, "apple banana cherry", "s"))
      .toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files
      .createTempDirectory("bm25-guard").toString
    TextOps.writeBm25Index(docs, dir, nBuckets = 2)
    val q = Seq((9L, "apple banana cherry durian elderberry"))
      .toDF("query_id", "text")
    // 5 distinct terms hash into ≤2 buckets: the old bucket-list cap
    // could never trip here; the term-count guard must
    val e = intercept[IllegalArgumentException] {
      TextOps.bm25SearchIndexed(spark, dir, q, k = 1, maxQueryTerms = 4)
    }
    assert(e.getMessage.contains("distinct query terms"), e.getMessage)
    // at the cap it serves fine
    assert(TextOps.bm25SearchIndexed(spark, dir, q, k = 1,
      maxQueryTerms = 5).count() == 1L)
  }

  test("sourceBigramDim merges exactly; streaming drift monitor lands per-batch rows against the persisted baseline, replay overwrites") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val a = Seq((1L, "abab", "s"), (2L, "xy", "t"))
      .toDF("doc_id", "text", "source")
    // the dim contract: dim(a ∪ b) = count-sum merge of the dims
    val b = Seq((3L, "ab", "s")).toDF("doc_id", "text", "source")
    val whole = TextOps.sourceBigramDim(a.union(b))
      .as[(String, String, Long)].collect().toSet
    val merged = TextOps.sourceBigramDim(a).union(TextOps.sourceBigramDim(b))
      .groupBy($"source", $"b").agg(sum($"c").as("c"))
      .as[(String, String, Long)].collect().toSet
    assert(whole == merged)
    // streaming monitor: baseline dim persisted ONCE, each batch is
    // one scan compared against it
    val dimPath = java.nio.file.Files
      .createTempDirectory("drift-dim").toString + "/dim"
    TextOps.sourceBigramDim(a).write.parquet(dimPath)
    val outDir = java.nio.file.Files
      .createTempDirectory("drift-out").toString + "/rows"
    val ckpt = java.nio.file.Files
      .createTempDirectory("drift-ckpt").toString
    val mem = MemoryStream[(Long, String, String)]
    val q = MicroBatches.serve(mem.toDF().toDF("doc_id", "text", "source"),
        ckpt, outDir, 50L)(b => TextOps.bigramDriftDims(
      b.sparkSession.read.parquet(dimPath), TextOps.sourceBigramDim(b)))
    try {
      mem.addData((10L, "ab", "s"))
      q.processAllAvailable()
      mem.addData((11L, "zz", "s"))
      q.processAllAvailable()
      def snap() = spark.read.parquet(outDir)
        .select($"batch_id", $"source", $"n_base", $"n_batch", $"l1_dist")
        .as[(Long, String, Long, Long, Option[Double])].collect().toSet
      val ids = snap().map(_._1).toSeq.sorted
      assert(ids.size == 2, s"got batch ids $ids")
      // batch faces: "ab" drifts 2/3 from the baseline, "zz" maxes at 2
      def face(doc: (Long, String, String), bid: Long) =
        TextOps.bigramDrift(a, Seq(doc).toDF("doc_id", "text", "source"))
          .as[(String, Long, Long, Option[Double])].collect()
          .map { case (src, nb, nt, l1) => (bid, src, nb, nt, l1) }.toSet
      val expect = face((10L, "ab", "s"), ids.head) ++
        face((11L, "zz", "s"), ids.last)
      assert(snap() == expect, s"got ${snap()}")
      assert(snap().find(r => r._1 == ids.head && r._2 == "s")
        .flatMap(_._5).contains(0.666667))
      assert(snap().find(r => r._1 == ids.last && r._2 == "s")
        .flatMap(_._5).contains(2.0))
      // crash replay of a landed batch: MicroBatchReplaySpec
    } finally { if (q.isActive) q.stop() }
  }

  test("embeddingDrift: per-label centroid cosine and mean norms; one-sided labels surface with n=0, not errors") {
    import graft.operators.Similarity
    val base = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(2.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val batch = Seq(
      (10L, Array(1.0f, 0.0f), 0),
      (11L, Array(0.0f, 3.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingDrift(base, batch, dim = 2)
      .as[(Int, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    // label 0: base centroid (0.5, 0.5) vs batch (1, 0) →
    // cos = 0.5 / (√0.5 · 1) = 0.707107
    assert(got == Seq(
      (0, 2L, 1L, Some(0.707107), Some(1.0), Some(1.0)),
      (1, 1L, 0L, None, Some(2.0), None),
      (2, 0L, 1L, None, None, Some(3.0))), s"got $got")
  }

  test("splitLeakageWithSplits: holdout windows counted only vs train; multiplicity kept; short docs and within-holdout shares don't leak") {
    val t = (1 to 11).map(i => s"w$i").mkString(" ")  // train: 2 windows
    val a = (1 to 10).map(i => s"w$i").mkString(" ")  // test: 1 window, leaked
    val b = (1 to 10).map(i => s"x$i").mkString(" ")  // test: 1 window, clean
    val sharedHold = (1 to 10).map(i => s"y$i").mkString(" ")
    val docs = Seq(
      (1L, t, "train"), (2L, a, "test"), (3L, b, "test"),
      (4L, "short doc", "val"),                 // <10 tokens: absent
      (5L, sharedHold, "test"), (6L, sharedHold, "val")
    ).toDF("doc_id", "text", "split")
    val got = TextOps.splitLeakageWithSplits(docs)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    val exp = Seq(
      (2L, "test", 1L, 1L, 1.0),
      (3L, "test", 0L, 1L, 0.0),
      (5L, "test", 0L, 1L, 0.0),   // shared only within the holdout
      (6L, "val", 0L, 1L, 0.0))
    assert(got == exp, s"got $got")
    // a holdout doc repeating a train window reports the multiplicity
    val rep = ((1 to 10) ++ (1 to 10)).map(i => s"w$i").mkString(" ")
    val got2 = TextOps.splitLeakageWithSplits(
      Seq((1L, t, "train"), (7L, rep, "test"))
        .toDF("doc_id", "text", "split"))
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(got2 == Seq((7L, "test", 2L, 11L, 0.1818)), s"got $got2")
    // hash-family independence (md5 = the oracle path)
    val gotMd5 = TextOps.splitLeakageWithSplits(docs,
      hashFn = Dedup.md5Seeded)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(gotMd5 == exp)
  }

  test("contaminationMatrix: K suites in one pass; per-suite rows equal the single-benchmark run; shared grams hit both suites") {
    val g8a = (1 to 8).map(i => s"a$i").mkString(" ")
    val g8b = (1 to 8).map(i => s"b$i").mkString(" ")
    val training = Seq(
      (1L, s"$g8a tail1 tail2"),      // contaminated vs suite A only
      (2L, s"$g8b tail3 tail4"),      // vs suite B only
      (3L, s"$g8a $g8b"),             // vs BOTH (shared corpus doc)
      (4L, (1 to 10).map(i => s"c$i").mkString(" ")) // clean
    ).toDF("doc_id", "text")
    val benchA = Seq((100L, g8a)).toDF("doc_id", "text")
    val benchB = Seq((200L, g8b)).toDF("doc_id", "text")
    val got = TextOps.contaminationMatrix(training,
      Seq("A" -> benchA, "B" -> benchB))
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    // doc 3 has 9 distinct 8-grams (16 tokens), of which 1 is A's
    // gram and 1 is B's
    assert(got == Seq(
      (1L, "A", 1L, 3L, 0.3333),
      (2L, "B", 1L, 3L, 0.3333),
      (3L, "A", 1L, 9L, 0.1111),
      (3L, "B", 1L, 9L, 0.1111)), s"got $got")
    // restricting the matrix to one suite == the single-benchmark op
    val single = TextOps.contamination(training, benchA)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.filter(_._2 == "A").map(r => (r._1, r._3, r._4, r._5))
      == single, s"matrix/A diverged from contamination: $single")
  }

  test("normalizeForOverlap: typography cannot hide a leak — the normalized screen flags what the raw screen misses") {
    val leak = (1 to 8).map(i => s"tok$i").mkString(" ")
    val disguised = (1 to 8).map(i => s"Tok$i,").mkString("  ")
    val training = Seq(
      (1L, s"$disguised trailer one"),          // leak hidden by case+punct
      (2L, (1 to 10).map(i => s"c$i").mkString(" "))  // clean
    ).toDF("doc_id", "text")
    val bench = Seq((100L, s"$leak bench tail")).toDF("doc_id", "text")
    // the raw screen misses the disguised doc entirely
    assert(TextOps.contamination(training, bench).count() == 0L)
    // the normalized screen flags it
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("text", TextOps.normalizeForOverlap($"text"))
    val got = TextOps.contamination(norm(training), norm(bench))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1L, 3L, 0.3333)), s"got $got")
    // the expression is scan-local: lower/regexp/trim, no Exchange
    val plan = norm(training).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("durable gram index: probes equal the one-shot contamination family; committed appends exactly-once; compaction preserves results") {
    val g8a = (1 to 8).map(i => s"a$i").mkString(" ")
    val g8b = (1 to 8).map(i => s"b$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$g8a tail1 tail2"),
      (2L, s"$g8b tail3 tail4"),
      (3L, s"$g8a $g8b"),
      (4L, (1 to 10).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val benchA = Seq((100L, g8a)).toDF("doc_id", "text")
    val benchB = Seq((200L, g8b)).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("gram-idx").toString
    TextOps.writeGramIndex(corpus, dir, n = 8, nBuckets = 8)
    def probeA() = TextOps.contaminationIndexed(spark, dir, benchA)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val oneShot = TextOps.contamination(corpus, benchA)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(probeA() == oneShot && oneShot.nonEmpty,
      s"indexed ${probeA()} vs one-shot $oneShot")
    // the K-suite probe equals the one-shot matrix bit-for-bit
    val gotM = TextOps.contaminationMatrixIndexed(spark, dir,
      Seq("A" -> benchA, "B" -> benchB))
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    val oneShotM = TextOps.contaminationMatrix(corpus,
      Seq("A" -> benchA, "B" -> benchB))
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(gotM == oneShotM && gotM.nonEmpty, s"matrix $gotM vs $oneShotM")
    // committed append: the new doc screens without any corpus
    // rescan, and the probe equals the one-shot over the union
    val batch = Seq((5L, s"$g8a extra1 extra2")).toDF("doc_id", "text")
    TextOps.appendToGramIndexCommitted(spark, dir, batch, batchId = 1L)
    val unionShot = TextOps.contamination(corpus.union(batch), benchA)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(probeA() == unionShot, s"append ${probeA()} vs $unionShot")
    def files(sub: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      val root = new java.io.File(iroot(dir), sub)
      if (root.exists) walk(root) else Nil
    }
    // replay of the committed batch: marker-detected no-op
    val before = (files("postings").size, files("docdim").size)
    TextOps.appendToGramIndexCommitted(spark, dir, batch, batchId = 1L)
    assert((files("postings").size, files("docdim").size) == before,
      "replaying a committed batch must not land files")
    assert(probeA() == unionShot)
    // compaction: probe identical, docdim to one file, postings to
    // one per bucket partition, the replay-guard marker retained
    IndexGen.compact(spark, dir)
    assert(probeA() == unionShot, "compaction changed probe results")
    assert(files("docdim").size == 1)
    val buckets = new java.io.File(iroot(dir), "postings").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(files("postings").size <= buckets,
      s"${files("postings").size} postings files > $buckets buckets")
    assert(new java.io.File(iroot(dir), "_commits/batch-1").exists,
      "compaction must retain commit markers")
    // build-once: ensure under a fingerprint; a second call is a
    // no-op and distinct `kind`s coexist under one root
    val srcDir = java.nio.file.Files
      .createTempDirectory("gram-src").toString + "/documents.parquet"
    corpus.write.parquet(srcDir)
    val root = java.nio.file.Files
      .createTempDirectory("gram-root").toString
    val idx = TextOps.ensureGramIndex(spark, srcDir,
      spark.read.parquet(srcDir), n = 8, nBuckets = 8,
      indexRoot = Some(root))
    val marker = new java.io.File(idx, "_source_fingerprint")
    val stamp = marker.lastModified()
    val again = TextOps.ensureGramIndex(spark, srcDir,
      spark.read.parquet(srcDir), n = 8, nBuckets = 8,
      indexRoot = Some(root))
    assert(again == idx && marker.lastModified() == stamp)
    val subset = TextOps.ensureGramIndex(spark, srcDir,
      spark.read.parquet(srcDir).filter($"doc_id" =!= 3L), n = 8,
      nBuckets = 8, indexRoot = Some(root), kind = "gram-sub")
    assert(subset != idx, "kinds must key distinct index dirs")
    assert(TextOps.contaminationIndexed(spark, idx, benchA)
      .as[(Long, Long, Long, Double)].collect().toSeq == oneShot)
  }

  test("gram index hash family is a persisted contract: meta-resolved appends/probes, unregistered builds rejected, params key the build-once dir") {
    val g8 = (1 to 8).map(i => s"a$i").mkString(" ")
    val corpus = Seq((1L, s"$g8 t1 t2")).toDF("doc_id", "text")
    val bench = Seq((100L, g8)).toDF("doc_id", "text")
    // build under md5 — the exact round-10 advice scenario: the
    // maintenance append must hash appended docs under md5 TOO (it
    // resolves the family from meta), or probes of appended docs
    // silently miss
    val dir = java.nio.file.Files
      .createTempDirectory("gram-md5").toString
    TextOps.writeGramIndex(corpus, dir, n = 8, nBuckets = 8,
      hashFn = Dedup.md5Seeded)
    val batch = Seq((2L, s"$g8 u1 u2")).toDF("doc_id", "text")
    TextOps.appendToGramIndexCommitted(spark, dir, batch, batchId = 7L)
    val got = TextOps.contaminationIndexed(spark, dir, bench)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val oneShot = TextOps.contamination(corpus.union(batch), bench,
      hashFn = Dedup.md5Seeded)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == oneShot && got.map(_._1).contains(2L),
      s"md5-built index must find the APPENDED doc: $got vs $oneShot")
    assert(TextOps.phraseLookupIndexed(spark, dir, corpus.union(batch),
      s"$g8 u1").as[(Long, Long)].collect().toSeq == Seq((2L, 1L)))
    // an unregistered custom family has no tag a probe could resolve
    // — rejected at durable build time, with the registry named
    val custom: (Int, org.apache.spark.sql.Column) =>
      org.apache.spark.sql.Column = (s, c) => Dedup.xxSeeded(s, c)
    val e = intercept[IllegalArgumentException] {
      TextOps.writeGramIndex(corpus,
        java.nio.file.Files.createTempDirectory("gram-bad").toString,
        n = 8, nBuckets = 8, hashFn = custom)
    }
    assert(e.getMessage.contains("registered hash family"), e.getMessage)
    // build-once keying folds the build params in: same source+kind
    // with a different n / family builds a SIBLING index instead of
    // silently reusing the stale one
    val srcDir = java.nio.file.Files
      .createTempDirectory("gram-src2").toString + "/documents.parquet"
    corpus.write.parquet(srcDir)
    val root = java.nio.file.Files
      .createTempDirectory("gram-root2").toString
    val ixx = TextOps.ensureGramIndex(spark, srcDir,
      spark.read.parquet(srcDir), n = 8, nBuckets = 8,
      indexRoot = Some(root))
    val in5 = TextOps.ensureGramIndex(spark, srcDir,
      spark.read.parquet(srcDir), n = 5, nBuckets = 8,
      indexRoot = Some(root))
    val imd5 = TextOps.ensureGramIndex(spark, srcDir,
      spark.read.parquet(srcDir), n = 8, nBuckets = 8,
      hashFn = Dedup.md5Seeded, indexRoot = Some(root))
    assert(Set(ixx, in5, imd5).size == 3,
      s"n / hash family must key distinct dirs: $ixx $in5 $imd5")
    // pre-tag meta (no hash_family column) fails fast, named
    import spark.implicits._
    Seq((8L, 8L)).toDF("n", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"${iroot(dir)}/meta")
    val e2 = intercept[IllegalArgumentException] {
      TextOps.contaminationIndexed(spark, dir, bench).collect()
    }
    assert(e2.getMessage.contains("hash-family"), e2.getMessage)
  }

  test("phraseLookupIndexed: candidate-then-verify funnel — non-contiguous window placements and absent phrases drop, occurrences exact") {
    val p10 = (1 to 10).map(i => s"p$i").mkString(" ")
    val corpus = Seq(
      // doc 1: the phrase once, embedded
      (1L, s"head1 head2 $p10 tail1"),
      // doc 2: the phrase TWICE (occurrence count exact)
      (2L, s"$p10 mid $p10"),
      // doc 3: ALL the phrase's 8-token windows, but never the
      // contiguous phrase — a hash-level candidate the exact verify
      // must drop
      (3L, ((1 to 8) ++ Seq(0, 0) ++ (2 to 9) ++ Seq(0, 0) ++ (3 to 10))
        .map(i => if (i == 0) "x" else s"p$i").mkString(" ")),
      // doc 4: unrelated
      (4L, (1 to 12).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("phrase-idx").toString
    TextOps.writeGramIndex(corpus, dir, n = 8, nBuckets = 8)
    val got = TextOps.phraseLookupIndexed(spark, dir, corpus, p10)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 2L)), s"got $got")
    // the hash-level candidate set DID include doc 3 (all windows
    // present) — prove the funnel shape by probing one window alone
    val oneWindow = (1 to 8).map(i => s"p$i").mkString(" ")
    val cand = TextOps.phraseLookupIndexed(spark, dir, corpus, oneWindow)
      .as[(Long, Long)].collect().toSeq
    assert(cand.map(_._1) == Seq(1L, 2L, 3L),
      s"single-window probe should hit doc 3 too: $cand")
    // absent phrase → empty; short phrase → seam error naming n
    assert(TextOps.phraseLookupIndexed(spark, dir, corpus,
      (1 to 10).map(i => s"q$i").mkString(" ")).count() == 0L)
    val e = intercept[IllegalArgumentException] {
      TextOps.phraseLookupIndexed(spark, dir, corpus, "p1 p2 p3")
    }
    assert(e.getMessage.contains("gram size is 8"), e.getMessage)
  }

  test("removeDuplicateSpans: covered tokens cut, survivors reassemble in order; within-doc repeats qualify; short docs pass through") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      // doc 1: head unique, shared 10-token window, tail unique —
      // tokens 2..11 (0-based) covered, a0 a1 + z0 z1 survive
      (1L, s"a0 a1 $shared z0 z1"),
      // doc 2: the same shared window alone — fully covered
      (2L, shared),
      // doc 3: all-unique, long enough to have windows — untouched
      (3L, (1 to 12).map(i => s"u$i").mkString(" ")),
      // doc 4: shorter than a window — no windows, passes through
      (4L, "tiny doc"),
      // doc 5: a window repeated INSIDE one doc (occ 2 within the
      // doc) — both occurrences cut, nothing else in the corpus
      // shares it
      (5L, ((1 to 10) ++ (1 to 10)).map(i => s"r$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = TextOps.removeDuplicateSpans(docs)
      .as[(Long, Long, Long, String)].collect().toSeq
    val exp = Seq(
      (1L, 14L, 4L, md5hex("a0 a1 z0 z1")),
      (2L, 10L, 0L, md5hex("")),
      (3L, 12L, 12L, md5hex((1 to 12).map(i => s"u$i").mkString(" "))),
      (4L, 2L, 2L, md5hex("tiny doc")),
      // doc 5: windows 0..10; window 0 (r1..r10) == window 10 →
      // starts {0, 10} cover 0..9 and 10..19 — everything. The
      // bridging windows (r2..r10 r1 etc.) are unique but their
      // coverage is subsumed
      (5L, 20L, 0L, md5hex("")))
    assert(got == exp, s"got $got")
    // partial overlap: two docs sharing only a prefix window — the
    // uncovered suffix survives with the cut point exactly at n
    val p = (1 to 10).map(i => s"p$i").mkString(" ")
    val got2 = TextOps.removeDuplicateSpans(
      Seq((1L, s"$p k1 k2"), (2L, s"$p m1 m2")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, String)].collect().toSeq
    // only window 0 is shared (windows 1,2 differ: k's vs m's), so
    // tokens 0..9 are cut and the 2-token tails survive
    assert(got2 == Seq(
      (1L, 12L, 2L, md5hex("k1 k2")),
      (2L, 12L, 2L, md5hex("m1 m2"))), s"got $got2")
    // hash-family independence (md5 = the oracle path)
    val gotMd5 = TextOps.removeDuplicateSpans(docs,
      hashFn = Dedup.md5Seeded)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(gotMd5 == exp)
    // incremental form: batch rewritten against the MERGED window dim
    // equals the full recompute restricted to the batch — the corpus
    // contributes counts, not a rescan. Doc 2's only window lives in
    // the corpus side (doc 1), so the cross-half duplication must
    // still cut it; doc 4 is window-less and passes through.
    val corpusHalf = docs.filter($"doc_id".isin(1L, 3L, 5L))
    val batchHalf = docs.filter($"doc_id".isin(2L, 4L))
    val merged = TextOps.mergeDim(TextOps.windowDim(corpusHalf),
      TextOps.windowDim(batchHalf), key = "h")
    val inc = TextOps.removeDuplicateSpansWithDim(batchHalf, merged)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(inc == exp.filter(r => r._1 == 2L || r._1 == 4L),
      s"incremental diverged: $inc")
  }

  test("versioned state: a batch id at or below the newest version's producing batch resolves as a replay") {
    import graft.operators.VersionedState
    val dir = java.nio.file.Files.createTempDirectory("vstate").toString
    def frame(i: Int) = Seq("" -> Seq(i).toDF("x"))
    def versions() = new java.io.File(dir).list()
      .filter(_.startsWith("v")).sorted.toSeq
    // one step: the value it read, and whether it forced its advance
    def step(batchId: Long, next: Int): (Int, Boolean) = {
      var seen = -1
      var forced = false
      VersionedState.step(spark, dir, batchId) { read =>
        seen = read("").as[Int].head()
        () => { forced = true; frame(next) }
      }
      (seen, forced)
    }
    val bare = intercept[IllegalArgumentException](step(0L, 1))
    assert(bare.getMessage.contains("bootstrap with init first"))
    VersionedState.init(spark, dir, frame(0))
    // a fresh batch reads the newest version and advances it
    assert(step(3L, 1) == ((0, true)))
    assert(step(5L, 2) == ((1, true)))
    // one prior version retained: v0 pruned
    assert(versions() == Seq("v1_b3", "v2_b5"))
    // a replay reads the version produced before it and never forces
    // (so never publishes) its advance
    assert(step(5L, 9) == ((1, false)))
    // older than the newest version and stamped on none: still a
    // replay, of the version produced before it
    assert(step(4L, 9) == ((1, false)))
    assert(versions() == Seq("v1_b3", "v2_b5"))
    assert(VersionedState.latest(spark, dir)("").as[Int].collect().toSeq
      == Seq(2))
    // a replay with no surviving prior version fails by name
    val e = intercept[IllegalArgumentException](step(3L, 9))
    assert(e.getMessage.contains("no prior version survives") &&
      e.getMessage.contains(dir), e.getMessage)
    // a crash between the output and the publish: the re-run of the
    // batch is not a replay, reads the same version, rewrites the
    // same output and publishes
    val out = s"$dir-out"
    def outputStep(batchId: Long, crash: Boolean): Unit =
      VersionedState.step(spark, dir, batchId) { read =>
        val next = read("").select(($"x" + 1).as("x")).localCheckpoint(true)
        MicroBatches.writeBatch(next, out, "batch_id", batchId)
        () => {
          if (crash) throw new IllegalStateException("crash before publish")
          Seq("" -> next)
        }
      }
    intercept[IllegalStateException](outputStep(6L, crash = true))
    assert(versions() == Seq("v1_b3", "v2_b5"), "a crashed step published")
    def outRows() = spark.read.parquet(out).as[(Int, Long)].collect().toSeq
    val crashed = outRows()
    assert(crashed == Seq((3, 6L)))
    outputStep(6L, crash = false)
    assert(outRows() == crashed)
    assert(versions() == Seq("v2_b5", "v3_b6"))
    assert(VersionedState.latest(spark, dir)("").as[Int].head() == 3)
    // a second init on a live dir fails by name and prunes nothing
    // (version 0 publishes with keep = 1)
    val reinit = intercept[IllegalArgumentException](
      VersionedState.init(spark, dir, frame(9)))
    assert(reinit.getMessage.contains(s"$dir already initialized"),
      reinit.getMessage)
    assert(versions() == Seq("v2_b5", "v3_b6"))
    // named frames land side by side under one version
    val multi = s"$dir-multi"
    VersionedState.init(spark, multi,
      Seq("a" -> Seq(7).toDF("x"), "b" -> Seq(8).toDF("x")))
    val newest = VersionedState.latest(spark, multi)
    assert(Seq("a", "b").map(n => newest(n).as[Int].head()) == Seq(7, 8))
  }

  test("streaming span dedup: batches cut against the advancing window dim; replay never double-merges the state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val uniq = (1 to 10).map(i => s"u$i").mkString(" ")
    val boot = Seq((1L, s"a0 a1 $shared z0 z1")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("spandedup").toString
    val (dimDir, outDir, ckpt) = (s"$dir/dim", s"$dir/out", s"$dir/ckpt")
    TextOps.initWindowDim(spark, dimDir, boot)
    val mem = MemoryStream[(Long, String)]
    val q1 = MicroBatches.start(mem.toDF().toDF("doc_id", "text"), ckpt,
        50L) { (b, id) =>
      TextOps.spanDedupBatch(b.sparkSession, dimDir, b, id, outDir)
    }
    // batch 0: doc 10 repeats the BOOTSTRAP-corpus window (occurrence
    // crosses the stream boundary: 1 corpus + 1 batch = 2 → cut);
    // doc 11 is corpus-unique and passes whole
    mem.addData((10L, shared), (11L, uniq))
    q1.processAllAvailable()
    // batch 1: doc 12 repeats doc 11's window — the PRIOR BATCH's
    // counts are in the dim now, so the duplicate cuts without any
    // rescan of earlier data
    mem.addData((12L, uniq))
    q1.processAllAvailable(); q1.stop()
    def snap() = spark.read.parquet(outDir)
      .select($"doc_id", $"n_tokens", $"n_kept", $"deduped_md5")
      .as[(Long, Long, Long, String)].collect().toSet
    val exp = Set(
      (10L, 10L, 0L, md5hex("")),
      (11L, 10L, 10L, md5hex(uniq)),
      (12L, 10L, 0L, md5hex("")))
    assert(snap() == exp, s"got ${snap()}")
    // batch 1's row equals the ONE-SHOT rewrite over everything seen
    // so far, restricted to batch 1 — the stream's contract
    val oneShot = TextOps.removeDuplicateSpans(
      boot.union(Seq((10L, shared), (11L, uniq), (12L, uniq))
        .toDF("doc_id", "text")))
      .filter($"doc_id" === 12L)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(oneShot == exp.filter(_._1 == 12L))
    // versioned state: v0 pruned (one prior retained), v1/v2 stamped
    // with their producing batches
    def versions() = new java.io.File(dimDir).list()
      .filter(_.startsWith("v")).sorted.toSeq
    assert(versions() == Seq("v1_b0", "v2_b1"), s"got ${versions()}")
    // crash replay of batch 1 (rows and dim unchanged, no double
    // merge): MicroBatchReplaySpec
  }

  test("splitLeakageWithSplitsBloom: equals the exact form; might_contain prunes the train scan; empty holdout safe") {
    // a corpus wide enough that the bloom actually discriminates:
    // 40 train docs of unique windows, 1 train doc leaked into test
    val t = (1 to 11).map(i => s"w$i").mkString(" ")
    val trainNoise = (1 to 40).map(d =>
      (100L + d, (1 to 12).map(i => s"t${d}_$i").mkString(" "), "train"))
    val docs = (trainNoise ++ Seq(
      (1L, t, "train"),
      (2L, (1 to 10).map(i => s"w$i").mkString(" "), "test"), // leaked
      (3L, (1 to 10).map(i => s"x$i").mkString(" "), "test"), // clean
      (4L, (1 to 10).map(i => s"y$i").mkString(" "), "val")
    )).toDF("doc_id", "text", "split")
    val exact = TextOps.splitLeakageWithSplits(docs)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    val bloom = TextOps.splitLeakageWithSplitsBloom(docs)
    val got = bloom.as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(got == exact && got.exists(_._3 > 0L),
      s"bloom form diverged: $got vs $exact")
    // plan lock: the train side is pruned by the serialized sketch as
    // a codegen'd literal predicate — the whole point of the form
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "train scan must carry the might_contain prune")
    // a tiny sketch (high fpp) still returns the exact answer — false
    // positives are pruning slack, never answer changes
    val tiny = TextOps.splitLeakageWithSplitsBloom(docs,
      expectedItems = 4L, fpp = 0.5)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(tiny == exact, s"fpp must not change the answer: $tiny")
    // all-train corpus: the holdout bloom is null, nothing leaks, no NPE
    val allTrain = Seq((1L, t, "train")).toDF("doc_id", "text", "split")
    assert(TextOps.splitLeakageWithSplitsBloom(allTrain).count() == 0L)
  }

  test("bigramFamiliarity: integer-exact avg corpus count of a doc's bigrams") {
    val docs = Seq(
      (1L, "ababa"), // ab,ba,ab,ba
      (2L, "ababa"),
      (3L, "xyz"),   // xy,yz — corpus-unique bigrams
      (4L, "q")      // single char: no bigrams, excluded
    ).toDF("doc_id", "text")
    val got = TextOps.bigramFamiliarity(docs)
      .as[(Long, Long, Double)].collect().toSeq
    // tc(ab)=4, tc(ba)=4, tc(xy)=1, tc(yz)=1:
    // doc1 = (2*4 + 2*4)/4 = 4.0, doc3 = (1+1)/2 = 1.0
    assert(got == Seq((1L, 4L, 4.0), (2L, 4L, 4.0), (3L, 2L, 1.0)))
  }

  test("packSequences: integer concat-and-chunk bins per pack stream") {
    def words(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, words(4, "a"), "s1"),
      (2L, words(5, "b"), "s1"),
      (3L, words(3, "c"), "s1"),
      (4L, words(8, "d"), "s1"),
      (5L, words(7, "e"), "s2") // separate source = separate stream
    ).toDF("doc_id", "text", "source")
    val got = TextOps.packSequences(docs, budget = 10, shards = 1)
      .select($"doc_id", $"n_tokens", $"bin_id", $"bin_offset")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // s1 running starts: 0, 4, 9, 12 -> bins 0,0,0,1; offsets 0,4,9,2
    // (doc 3 starts at offset 9 and crosses into bin 1 — by design);
    // s2 restarts at 0
    assert(got == Seq(
      (1L, 4L, 0L, 0L), (2L, 5L, 0L, 4L), (3L, 3L, 0L, 9L),
      (4L, 8L, 1L, 2L), (5L, 7L, 0L, 0L)))
  }

  test("chunkWindows: fixed-stride windows cover every token, tails run short") {
    val text = (1 to 37).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    val got = TextOps.chunkWindows(docs, width = 16, stride = 8)
      .select($"doc_id", $"chunk_idx", $"start_tok", $"chunk_len")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc 1: 37 tokens -> starts 0,8,16,24,32; lens 16,16,16,13,5
    // doc 2: 1 token; doc 3: empty text still tokenizes to [""]
    assert(got == Seq(
      (1L, 0L, 0L, 16L), (1L, 1L, 8L, 16L), (1L, 2L, 16L, 16L),
      (1L, 3L, 24L, 13L), (1L, 4L, 32L, 5L),
      (2L, 0L, 0L, 1L), (3L, 0L, 0L, 1L)))
    // overlap invariant: consecutive full-width chunks share width-stride
    // tokens; every token index < n appears in ≥1 chunk
    val covered = got.filter(_._1 == 1L)
      .flatMap { case (_, _, s, l) => s until (s + l) }.toSet
    assert(covered == (0L until 37L).toSet)
    // chunk hashes replay from the slice directly
    val h = TextOps.chunkWindows(docs, width = 16, stride = 8)
      .filter($"doc_id" === 2L).select($"chunk_hash").as[String].head()
    assert(h == java.security.MessageDigest.getInstance("MD5")
      .digest("solo".getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("dedupLines: corpus-df line removal preserves order; hash-family independent") {
    val docs = Seq(
      (1L, "nav\nalpha\nfoot"),
      (2L, "nav\nbeta\nfoot"),
      (3L, "nav\ngamma\nfoot"),
      (4L, "nav\nnav\ndelta"),                 // within-doc repeat counts toward df
      (5L, "nav\nfoot"),                       // every line hot -> emptied doc
      (6L, "keep1\nnav\nkeep2\nfoot\nkeep3")   // interleaved: order must survive
    ).toDF("doc_id", "text")
    // df: nav = 7 (doc 4 twice), foot = 5, everything else 1
    val expect = Seq(
      (1L, 3L, 1L, "alpha"),
      (2L, 3L, 1L, "beta"),
      (3L, 3L, 1L, "gamma"),
      (4L, 3L, 1L, "delta"),
      (5L, 2L, 0L, ""),
      (6L, 5L, 3L, "keep1\nkeep2\nkeep3"))
    val got = TextOps.dedupLines(docs, minDf = 5)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == expect)
    // the portable md5 family (and any 64-bit hash) must drop the
    // same lines — blocking is an instrument, not the semantics
    val gotMd5 = TextOps.dedupLines(docs, minDf = 5,
      hashFn = Dedup.md5Seeded).as[(Long, Long, Long, String)].collect().toSeq
    assert(gotMd5 == expect)
  }

  test("dsirWeights: integer-exact target-vs-raw bigram mass ratio") {
    val docs = Seq(
      (1L, "ababa"),  // target: ab=2, ba=2
      (2L, "ababa"),  // raw twin of the target doc
      (3L, "xyz"),    // corpus-unique bigrams: Laplace boundary
      (4L, "pqpqpq"), // common-but-never-in-target: pq=3, qp=2
      (5L, "pqpqpq"),
      (6L, "q")       // single char: no bigrams, excluded
    ).toDF("doc_id", "text")
    val got = TextOps.dsirWeights(docs, $"doc_id" === 1L)
      .as[(Long, Long, Double)].collect().toSeq
    // rc: ab=4 ba=4 xy=1 yz=1 pq=6 qp=4; tc (doc1): ab=2 ba=2.
    // doc1 = (2*3 + 2*3)/(2*4 + 2*4)      = 12/16 = 0.75 (target-shaped)
    // doc3 = (1 + 1)/(1 + 1)              = 1.0   (rare: Laplace boundary)
    // doc4 = (3*1 + 2*1)/(3*6 + 2*4)      = 5/26  = 0.192308 (raw-shaped)
    assert(got == Seq((1L, 4L, 0.75), (2L, 4L, 0.75), (3L, 2L, 1.0),
      (4L, 5L, 0.192308), (5L, 5L, 0.192308)))
    // the dial orders common-raw-shaped strictly below target-shaped
    assert(got.find(_._1 == 4L).get._3 < got.find(_._1 == 1L).get._3)
  }

  test("bestInCluster: quality-aware survivor beats the min-id canonical") {
    def words(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, words(10, "a")),  // min id of cluster 1 but FAILS gopher (<50 words)
      (2L, words(60, "bcd")), // passes, most words -> the survivor
      (3L, words(55, "efg")), // passes, fewer words
      (5L, words(10, "h")),  // cluster 5: both fail -> tie-break min id
      (6L, words(10, "i"))
    ).toDF("doc_id", "text")
    val membership = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (5L, 5L, 2L), (6L, 5L, 2L)
    ).toDF("doc_id", "cluster_id", "cluster_size")
    val got = Dedup.bestInCluster(docs, membership)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // cluster 1: doc 2 wins on (pass, n_words) despite doc 1 being the
    // min-id canonical dedupByClusters would keep; cluster 5: no
    // passer, widest is a tie, doc 5 by the deterministic tie-break
    assert(got == Seq((1L, 2L, 3L, 2L), (5L, 5L, 2L, 0L)))
  }

  test("cleaned(): lowercases, strips punctuation, drops stopwords") {
    val got = Seq("The CAT, and the Mat!!  extra   spaces").toDF("text")
      .select(TextOps.cleaned($"text")).as[String].collect()(0)
    assert(got == "cat mat extra spaces")
  }

  test("text profile: token counts and ratios") {
    val got = TextOps.profile(
      Seq((1L, "the cat sat on the mat!", "en", "s", 23L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .select($"n_tokens", $"bpeish_tokens", $"stopword_ratio")
      .as[(Long, Long, Double)].collect()(0)
    assert(got._1 == 6L)
    assert(got._2 == 7L) // 6 words + '!'
    assert(got._3 == 0.3333)
  }

  test("linearQuality: target-shaped docs score positive, raw-shaped negative; model stays B-bounded") {
    import org.apache.spark.sql.functions._
    // target docs speak vocabulary T, raw docs vocabulary R, one
    // probe doc each side; NB-centroid weights must separate them
    val tWords = (0 until 20).map(i => s"tw$i")
    val rWords = (0 until 20).map(i => s"rw$i")
    val docs = ((0 until 10).map(i =>
        (i.toLong, tWords.mkString(" "), "src0")) ++
      (0 until 10).map(i =>
        (100L + i, rWords.mkString(" "), "src1")) ++
      Seq((500L, tWords.take(10).mkString(" "), "src1"),
        (501L, rWords.take(10).mkString(" "), "src0")))
      .toDF("doc_id", "text", "source")
    val got = TextOps.linearQuality(docs, col("source") === "src0")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2))).toMap
    // probe 500 is pure target vocabulary (regardless of its own
    // label), probe 501 pure raw vocabulary
    assert(got(500L)._1 > 0L && got(500L)._2, s"got ${got(500L)}")
    assert(got(501L)._1 < 0L && !got(501L)._2)
    // keep flag is exactly the sign
    got.values.foreach { case (s, k) => assert(k == (s >= 0L)) }
    // feature hashing bounds the model: tiny bucket table still
    // scores every doc (collisions degrade, never crash), and every
    // bucket id stays within the table
    val tiny = TextOps.linearQuality(docs, col("source") === "src0",
      buckets = 8)
    assert(tiny.count() == docs.count())
  }

  test("BPE: greedy fold merge ≡ reference greedy; trainBpe learns hand-computable merges") {
    // reference greedy left-to-right non-overlap merge
    def refMerge(toks: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += toks(i); i += 1 }
      }
      out.toSeq
    }
    // brute-force equivalence of the engine fold on random sequences
    // over a 2-symbol alphabet (maximizes overlapping-run conflicts,
    // the only place greedy semantics bite) for all 4 merge pairs
    val rng = new scala.util.Random(7)
    val seqs = (0 until 60).map(i =>
      (i.toLong, Seq.fill(2 + rng.nextInt(9))(if (rng.nextBoolean()) "a" else "b")))
    val df = seqs.toDF("id", "toks")
    for (l <- Seq("a", "b"); r <- Seq("a", "b")) {
      val got = df.select($"id",
          TextOps.bpeMergePair($"toks", l, r).as("m"))
        .as[(Long, Seq[String])].collect().toMap
      seqs.foreach { case (id, s) =>
        assert(got(id) == refMerge(s, l, r),
          s"fold != greedy for $s on ($l,$r): ${got(id)}")
      }
    }
    // the canonical run case: aaaa + (a,a) -> [aa, aa], not [aa, a, a]
    val run = Seq((1L, Seq("a", "a", "a", "a"))).toDF("id", "toks")
      .select(TextOps.bpeMergePair($"toks", "a", "a"))
      .as[Seq[String]].collect()(0)
    assert(run == Seq("aa", "aa"))
    // trainBpe on a hand-computable corpus: "ababab abab" twice over —
    // (a,b) x5 wins step 1, (ab,ab) x3 step 2, (abab,ab) x1 step 3;
    // word weighting doubles the counts
    val docs = Seq((1L, "ababab abab"), (2L, "ababab abab"))
      .toDF("doc_id", "text")
    val merges = TextOps.trainBpe(docs, merges = 3)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(merges == Seq((1L, "a", "b", 10L), (2L, "ab", "ab", 6L),
      (3L, "abab", "ab", 2L)), s"got $merges")
    // running dry stops early instead of looping
    val dry = TextOps.trainBpe(Seq((1L, "x y")).toDF("doc_id", "text"),
      merges = 5).collect()
    assert(dry.isEmpty)
    // applying the tokenizer: after 3 merges both words collapse to a
    // single subword; after 1 merge "ababab"=3 + "abab"=2 subwords
    val applied3 = TextOps.bpeTokenCounts(docs, merges = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(applied3 == Set((1L, 2L, 2L), (2L, 2L, 2L)), s"got $applied3")
    val applied1 = TextOps.bpeTokenCounts(docs, merges = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(applied1 == Set((1L, 2L, 5L), (2L, 2L, 5L)))
  }

  test("batched BPE: one multi-pair pass ≡ sequential single-pair passes for independent pairs; batchTopM=1 ≡ trainBpe; picks are independent; batching cuts iterations") {
    // WITHIN-iteration equivalence, brute-forced: random sequences
    // over {a,b,c,d}, merged with the two symbol-disjoint pairs
    // (a,b) and (c,d) — one bpeMergePairs pass must equal folding
    // bpeMergePair over the pairs sequentially (either order)
    val rng = new scala.util.Random(11)
    val alpha = Vector("a", "b", "c", "d")
    val seqs = (0 until 80).map(i =>
      (i.toLong, Seq.fill(2 + rng.nextInt(10))(alpha(rng.nextInt(4)))))
    val df = seqs.toDF("id", "toks")
    val pairs = Seq(("a", "b"), ("c", "d"))
    val batched = df.select($"id",
        TextOps.bpeMergePairs($"toks", pairs).as("m"))
      .as[(Long, Seq[String])].collect().toMap
    for (order <- Seq(pairs, pairs.reverse)) {
      val seq = df.select($"id",
          order.foldLeft($"toks": org.apache.spark.sql.Column) {
            case (c, (l, r)) => TextOps.bpeMergePair(c, l, r)
          }.as("m"))
        .as[(Long, Seq[String])].collect().toMap
      seqs.foreach { case (id, s) =>
        assert(batched(id) == seq(id),
          s"batched != sequential(${order}) for $s: " +
            s"${batched(id)} vs ${seq(id)}")
      }
    }
    // batchTopM = 1 is exactly trainBpe, rule for rule
    val docs = Seq((1L, "ababab abab cdcd"), (2L, "ababab abab"))
      .toDF("doc_id", "text")
    val seqRules = TextOps.trainBpe(docs, merges = 4)
      .as[(Long, String, String, Long)].collect().toSeq
    val b1Rules = TextOps.trainBpeBatched(docs, merges = 4,
        batchTopM = 1)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(b1Rules == seqRules, s"$b1Rules vs $seqRules")
    // batched picks within one iteration are pairwise independent:
    // no shared symbol, no fused-string collision (the conditions
    // the one-pass equivalence above needs)
    val bRules = TextOps.trainBpeBatched(docs, merges = 6,
        batchTopM = 6)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(bRules.nonEmpty)
    assert(bRules.map(_._1) == (1L to bRules.size.toLong),
      s"batched rule steps must be dense and ordered: $bRules")
    val fused = bRules.map(r => r._2 + r._3)
    assert(fused.distinct.size == fused.size,
      s"fused-string collision across batch picks: $fused")
    // the dry corpus still terminates
    assert(TextOps.trainBpeBatched(
      Seq((1L, "x y")).toDF("doc_id", "text"), merges = 5,
      batchTopM = 4).collect().isEmpty)
  }

  test("bpeEncodeIds: hand-checked id sequences in document order; ids are binary-rank of the symbol set") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // merges=1 on {ab×2, cd×1, abd×1}: pair (a,b) wins with count 3
    // → symbols after training {ab, c, d}, binary rank ab=0, c=1, d=2
    val docs = Seq(
      (1L, "ab ab cd"),   // [ab][ab][c d] → 0 0 1 2
      (2L, "abd")         // [ab d]        → 0 2
    ).toDF("doc_id", "text")
    val got = TextOps.bpeEncodeIds(docs, merges = 1)
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, md5hex("0 0 1 2")),
      (2L, 2L, md5hex("0 2"))), s"got $got")
    // word order matters: swapping words changes the sequence hash
    val swapped = TextOps.bpeEncodeIds(
      Seq((1L, "cd ab ab")).toDF("doc_id", "text"), merges = 1)
      .as[(Long, Long, String)].collect().toSeq
    assert(swapped == Seq((1L, 4L, md5hex("1 2 0 0"))), s"got $swapped")
    // the symbol cap is a fail-fast, not a truncation
    val e = intercept[IllegalArgumentException] {
      TextOps.bpeEncodeIds(docs, merges = 1, maxVocab = 2)
    }
    assert(e.getMessage.contains("distinct symbols"), e.getMessage)
    // binary rank = UTF-8 BYTE order (the oracle's collation), which
    // diverges from JVM UTF-16 order beyond the BMP: U+FFFD (UTF-8
    // ef bf bd) < U+1F600 (f0 9f 98 80) in bytes, but the emoji's
    // lead surrogate 0xD83D < 0xFFFD in UTF-16 — so the JVM's
    // .sorted would rank the emoji FIRST and flip both ids
    assert(TextOps.utf8Order.compare("�", "😀") < 0)
    assert(Ordering.String.compare("�", "😀") > 0,
      "precondition: the JVM default really does order these opposite")
    val emoji = TextOps.bpeEncodeIds(
      Seq((1L, "� 😀")).toDF("doc_id", "text"),
      merges = 0)
      .as[(Long, Long, String)].collect().toSeq
    assert(emoji == Seq((1L, 2L, md5hex("0 1"))),
      s"U+FFFD must take id 0 under UTF-8 byte order: $emoji")
  }

  test("packTokenStream: docs concat in order and split at exact budget boundaries; streams pack independently") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // merges=0 → char tokenizer; symbols {a, b} → ids a=0, b=1.
    // stream s/0: doc1 [0,1] | doc2 [0,0,0,1] | doc3 [1,0] over
    // budget 4 → bin0 = 01 + first half of doc2, bin1 = rest + doc3
    val docs = Seq(
      (1L, "ab", "s"),
      (2L, "aaa b", "s"),
      (3L, "ba", "s"),
      (4L, "b", "t")
    ).toDF("doc_id", "text", "source")
    val got = TextOps.packTokenStream(docs, merges = 0, budget = 4L,
      shards = 1)
      .as[(String, Long, Long, Long, Long, String, String)]
      .collect().toSeq
    // boundaries mark NEW-document local offsets only: bin s/1 opens
    // mid-doc-2 (a continuation — no leading 0), doc 3 starts at 2
    assert(got == Seq(
      ("s", 0L, 0L, 2L, 4L, md5hex("0 1 0 0"), "0 2"),
      ("s", 0L, 1L, 2L, 4L, md5hex("0 1 1 0"), "2"),
      ("t", 0L, 0L, 1L, 1L, md5hex("1"), "0")), s"got $got")
    // every bin is exactly the budget except each stream's final
    // partial; the window shuffles counts, never ids (no ids column
    // in any Exchange — the slice is scan-local after the sum)
    val big = TextOps.packTokenStream(docs, merges = 0, budget = 3L,
      shards = 1)
      .as[(String, Long, Long, Long, Long, String, String)]
      .collect().toSeq
    val full = big.filter(_._1 == "s").dropRight(1)
    assert(full.nonEmpty && full.forall(_._5 == 3L),
      s"non-final bins must hold exactly the budget: $big")
  }

  test("semDedup: within-cluster cosine prune keeps the min-id representative") {
    // 40 Gaussian base vectors (random 64-dim pairs sit near cos 0,
    // far below threshold) + exact duplicates of every 10th: identical
    // vectors have identical centroid distances, so the (dist, cid)
    // tie-break forces clone and base into the SAME cluster — the
    // clone (larger id) must be dropped, everything else kept
    val rng = new scala.util.Random(23)
    val dim = 64
    val base = (0 until 40).map { i =>
      (i.toLong, Array.fill(dim)((rng.nextGaussian() * 0.5).toFloat))
    }
    val clones = base.filter(_._1 % 10 == 0).map { case (id, v) =>
      (id + 100L, v.clone())
    }
    val corpus = (base ++ clones).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(corpus, nlist = 4, iters = 2, minCos = 0.9)
      .select($"vec_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(got.size == 44)
    clones.foreach { case (id, _) => assert(!got(id), s"clone $id kept") }
    base.foreach { case (id, _) => assert(got(id), s"base $id dropped") }
    // threshold is respected: with an impossible bar nothing drops
    val none = Similarity.semDedup(corpus, nlist = 4, iters = 2,
      minCos = 1.1).filter(!col("keep")).count()
    assert(none == 0L)
  }

  test("semDedupIndexed: assignment against a durable IVF index's stored quantizer equals retraining semDedup on the same geometry") {
    val rng = new scala.util.Random(31)
    val corpus = (0 until 120)
      .map(i => (i.toLong, Array.fill(64)((rng.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("semdedup-ivf").toString
    // the serving index IS the quantizer: same deterministic Lloyd,
    // so assigning against its stored centroids must reproduce the
    // retraining path bit-for-bit
    Similarity.writeIvfIndex(corpus, dir, nlist = 4, iters = 3)
    val indexed = Similarity.semDedupIndexed(spark, dir, corpus)
      .as[(Long, Long, Boolean)].collect().toSeq
    val retrained = Similarity.semDedup(corpus, nlist = 4, iters = 3)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(indexed == retrained,
      "indexed assignment must equal the retraining path")
    assert(indexed.map(_._2).distinct.size > 1)
  }

  test("semDedupSampled: train-on-sample/assign-all split pinned; rung from the FULL corpus count") {
    // round-14 (r13 verdict #1): the declared emb_semdedup path trains
    // Lloyd on the deterministic vec_id % 4 sample. Pinned against the
    // composed form (explicit sample frame → trainCentroids →
    // semDedupWithCentroids), and the auto rung must come from the
    // FULL corpus count (110 → k=2), not the sample's (28 → k=1)
    val rng = new scala.util.Random(37)
    val corpus = (0 until 110)
      .map(i => (i.toLong, Array.fill(64)((rng.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val got = Similarity.semDedupSampled(corpus, sampleMod = 4, iters = 2)
      .as[(Long, Long, Boolean)].collect().toSeq
    val composed = Similarity.semDedupWithCentroids(corpus,
      Similarity.trainCentroids(
        corpus.filter($"vec_id" % 4 === 0), k = 2, iters = 2))
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(got == composed,
      "sampled path must equal the composed train-on-sample form")
    // rung from the FULL count: k=2 ⇒ two distinct cluster ids reachable
    assert(got.map(_._2).distinct.sorted == Seq(0L, 1L),
      "auto rung must derive from the full corpus count (k=2), not the sample")
  }

  test("semDedupNlist: rung boundaries pinned; nlist=0 auto-sizes from the corpus count and equals the explicit rung") {
    // the GeometryLadder discipline for semDedup (round-12 verdict
    // #1): smallest power of two holding mean cell size ≤ 64 — rung
    // boundaries land exactly at 64·2^j
    assert(Similarity.semDedupNlist(1L) == 1)
    assert(Similarity.semDedupNlist(64L) == 1)
    assert(Similarity.semDedupNlist(65L) == 2)
    assert(Similarity.semDedupNlist(128L) == 2)
    assert(Similarity.semDedupNlist(129L) == 4)
    assert(Similarity.semDedupNlist(256L) == 4)
    assert(Similarity.semDedupNlist(480L) == 8)   // sf0.1 planted corpus
    assert(Similarity.semDedupNlist(512L) == 8)
    assert(Similarity.semDedupNlist(120L) == 2)   // sf0.01 planted corpus
    assert(Similarity.semDedupNlist(4096L) == 64)
    assert(Similarity.semDedupNlist(1000000L) == 16384)
    // mean cell size stays in (32, 64] at every rung boundary+1
    Seq(65L, 129L, 257L, 513L, 1025L).foreach { n =>
      val k = Similarity.semDedupNlist(n)
      val cell = n.toDouble / k
      assert(cell <= 64.0 && cell > 16.0, s"n=$n k=$k cell=$cell")
    }
    // auto (nlist = 0, the default) is EXACTLY the explicit rung —
    // 110 vectors → rung 2
    val rng = new scala.util.Random(29)
    val corpus = (0 until 110)
      .map(i => (i.toLong, Array.fill(64)((rng.nextGaussian() * 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val auto = Similarity.semDedup(corpus, iters = 2)
      .as[(Long, Long, Boolean)].collect().toSeq
    val pinned = Similarity.semDedup(corpus, nlist = 2, iters = 2)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(auto == pinned, "auto nlist must replay the rung exactly")
    assert(auto.map(_._2).distinct.size <= 2)
  }

  test("mineTriplets: best positive and hard negative per anchor, both required") {
    val rng = new scala.util.Random(53)
    val dim = 64
    val base = (0 until 40).map { i =>
      (i.toLong, Array.fill(dim)((rng.nextGaussian() * 0.5).toFloat))
    }
    // anchors: positive-scaled clones of vectors 3 and 17 (cos 1.0 to
    // their base — every band collides) + one fresh vector with NO
    // near-dup anywhere (it must be dropped: no positive)
    val anchors = Seq(
      (1003L, base(3)._2.map(_ * 2.0f)),
      (1017L, base(17)._2.map(_ * 0.5f)),
      (1999L, Array.fill(dim)((rng.nextGaussian() * 0.5).toFloat)))
    val corpus = base.toDF("vec_id", "embedding")
    val q = anchors.toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.mineTriplets(q, corpus,
        posMin = 0.9, negMax = 0.7, planes = 12, bands = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      .toMap
    // the clones pair with their bases at cos 1.0
    assert(got.keySet.subsetOf(Set(1003L, 1017L)))
    got.get(1003L).foreach { case (p, pc, ng, nc) =>
      assert(p == 3L && pc == 1.0)
      assert(ng != 3L && nc < 0.7, s"negative must be hard but wrong: $nc")
    }
    got.get(1017L).foreach { case (p, pc, _, nc) =>
      assert(p == 17L && pc == 1.0 && nc < 0.7)
    }
    // anchors may drop only for lack of a candidate side, and the
    // no-positive anchor always does
    assert(!got.contains(1999L))
    // invalid thresholds fail fast
    assertThrows[IllegalArgumentException] {
      graft.operators.Similarity.mineTriplets(q, corpus,
        posMin = 0.5, negMax = 0.9)
    }
  }

  test("filtered IVF search: corpus-side predicate, exhaustive probes match filtered brute force") {
    val rng = new scala.util.Random(31)
    val dim = 64
    val corpus = (0 until 60).map { i =>
      (i.toLong, i % 3, Array.fill(dim)((rng.nextGaussian() * 0.5).toFloat))
    }.toDF("vec_id", "label", "embedding")
    val pred = col("label") === 1
    // query 0 has label 0 — a query searches regardless of its own
    // label; with nprobe = nlist the probe is exhaustive, so the
    // filtered result must equal brute force over the filtered corpus
    val got = graft.operators.Similarity.ivfTopK(corpus, Seq(0L),
        k = 5, nlist = 4, nprobe = 4, pred = Some(pred))
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got.nonEmpty)
    // every survivor satisfies the predicate
    val labels = corpus.select($"vec_id", $"label")
      .as[(Long, Int)].collect().toMap
    got.foreach { case (_, v, _, _) => assert(labels(v) == 1) }
    val brute = graft.operators.Similarity.bruteForceTopK(
        corpus.filter(pred).unionByName(corpus.filter($"vec_id" === 0L)),
        Seq(0L), k = 5)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == brute, s"filtered != brute: $got vs $brute")
    // the durable layout serves the same filter through the pruned
    // lists (pushed parquet predicate, shared index)
    val dir = java.nio.file.Files.createTempDirectory("ivf_fil").toString
    graft.operators.Similarity.writeIvfIndex(corpus, dir, nlist = 4)
    val qv = corpus.filter($"vec_id" === 0L)
      .select($"embedding").as[Array[Float]].collect()(0)
    val indexed = graft.operators.Similarity.ivfSearchIndexed(spark, dir,
        Seq((0L, qv)), k = 5, nprobe = 4, pred = Some(pred))
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(indexed == brute, s"indexed filtered != brute")
  }

  test("semanticDecontam: exact leaks drop, min-id tie-break, NaN/empty handling, unrolled = HOF") {
    val rng = new scala.util.Random(41)
    val dim = 64
    val base = (0 until 30).map { i =>
      (i.toLong, Array.fill(dim)((rng.nextGaussian() * 0.5).toFloat))
    }
    // corpus: the base + a zero-norm row (NaN cosine to everything)
    val corpus = (base :+ (999L, Array.fill(dim)(0.0f)))
      .toDF("vec_id", "embedding")
    // eval set: copies of base vectors 0 and 7 under two ids each (the
    // duplicate pair exercises the min-eval-id tie-break), plus a
    // zero-norm eval vector that must be ignored entirely
    val eval = Seq(
      (50L, base(0)._2.clone()), (51L, base(0)._2.clone()),
      (60L, base(7)._2.clone()),
      (70L, Array.fill(dim)(0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontam(corpus, eval, minCos = 0.9)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1),
          if (r.isNullAt(2)) null else r.getLong(2), r.getBoolean(3))).toMap
    assert(got.size == 31)
    assert(got(0L) == ((1.0, 50L, false)), "leak 0: cos 1.0, min eval id 50")
    assert(got(7L) == ((1.0, 60L, false)))
    // zero-norm corpus row: no valid pair -> nulls + keep
    assert(got(999L) == ((null, null, true)))
    // everything else survives (random Gaussians sit near cos 0)
    base.filter(b => b._1 != 0L && b._1 != 7L)
      .foreach { case (id, _) => assert(got(id)._3, s"base $id dropped") }
    // the HOF (literal-matrix) form must agree bit-for-bit with the
    // unrolled form: pad the eval set past the unroll cutoff with
    // vectors orthogonal in expectation (extra Gaussians)
    val bigEval = eval.unionByName((100 until 120).map { i =>
      (i.toLong, Array.fill(dim)((rng.nextGaussian() * 0.5).toFloat))
    }.toDF("vec_id", "embedding"))
    val viaHof = Similarity.semanticDecontam(corpus, bigEval, minCos = 0.9)
    // same rows through the unrolled path: impossible only via the
    // private cutoff, so assert instead on the invariant that adding
    // never-matching eval vectors changes nothing for the leaked rows
    val hofMap = viaHof.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) null else r.getDouble(1), r.getBoolean(3))).toMap
    assert(hofMap(0L)._1 == 1.0 && !hofMap(0L)._2)
    assert(hofMap(7L)._1 == 1.0 && !hofMap(7L)._2)
    // empty eval set: everything kept, null scores
    val none = Similarity.semanticDecontam(corpus,
      eval.filter(col("vec_id") < 0L), minCos = 0.9)
    assert(none.filter(!col("keep")).count() == 0L)
    assert(none.filter(col("max_cos").isNotNull).count() == 0L)
    // fail-fast cap: an oversized "eval set" is a caller bug
    assertThrows[IllegalArgumentException] {
      Similarity.semanticDecontam(corpus, corpus, minCos = 0.9, maxEval = 3)
    }
  }

  test("banded embedding near-dups: exact verification, measured recall vs brute force") {
    // planted corpus: Gaussian base vectors plus low-noise clones of
    // every 4th one (cosine ~0.995 — true near-dups); random 64-dim
    // pairs sit near cos 0, so the truth set is exactly the clones
    val rng = new scala.util.Random(19)
    val dim = 64
    val base = (0 until 120).map { i =>
      (i.toLong, Array.fill(dim)((rng.nextGaussian() * 0.5).toFloat))
    }
    val clones = base.filter(_._1 % 4 == 0).map { case (id, v) =>
      (id + 1000L, v.map(x => x + (rng.nextGaussian() * 0.05).toFloat))
    }
    val all = base ++ clones
    val corpus = all.toDF("vec_id", "embedding")
    val banded = Similarity.embeddingNearDups(corpus, minCos = 0.9)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    // blockless Scala brute force = ground truth (no pair within 1e-4
    // of the threshold, so double cosine is decisive)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val brute = (for {
      (a, va) <- all; (b, vb) <- all
      if a < b && cos(va, vb) >= 0.9
    } yield (a, b)).toSet
    assert(brute.size == clones.size, "truth set should be exactly the planted pairs")
    // exact verification => no false positives; OR-amplified banding
    // (r=6, b=6) at cos~0.995 misses with prob ~3e-5 => recall ~1
    assert(banded.subsetOf(brute))
    val recall = banded.size.toDouble / brute.size
    assert(recall >= 0.95, s"measured recall $recall below target")
    // the production recall dial agrees with the Scala measurement
    // (every true pair touches a clone, so anchoring on clones is the
    // complete truth set)
    assert(brute.forall { case (_, b) => b >= 1000L })
    val row = Similarity.nearDupPairRecall(corpus,
      col("vec_id") >= 1000L, minCos = 0.9).collect()(0)
    assert(row.getAs[Long]("expected") == brute.size)
    assert(row.getAs[Long]("hits") == banded.size)
  }

  test("signBandArray matches unrolled signBandCols bit-for-bit across the unroll ceiling") {
    val rng = new scala.util.Random(11)
    val vecs = (0L until 40L)
      .map(i => (i, Array.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // one geometry per side of UnrollPlanesMax (=64), plus the ladder's
    // third rung — the literal-matrix HOF form must be DATA-identical,
    // not just statistically similar (same fold order, same bit packing)
    for ((planes, bands) <- Seq((36, 6), (72, 9), (130, 13))) {
      val unrolled = vecs.select($"vec_id",
        array(Similarity.signBandCols($"embedding", planes, bands): _*)
          .as("s")).as[(Long, Seq[Int])].collect().toMap
      val hof = vecs.select($"vec_id",
        Similarity.signBandArray($"embedding", planes, bands).as("s"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(unrolled == hof, s"geometry ($planes, $bands)")
    }
  }

  test("nearDupGeometry ladder: rung lookup and sub-quadratic measured candidate volume") {
    // the fixture scales: sf0.01's planted 120 stays on the r5 default
    // rung; sf0.1's 480 steps up to (72, 9)
    assert(Similarity.nearDupGeometry(120L) == (36, 6))
    assert(Similarity.nearDupGeometry(480L) == (72, 9))
    assert(Similarity.nearDupGeometry(4096L) == (130, 13))
    assert(Similarity.nearDupGeometry(262144L) == (560, 35))
    // round-6 verdict #2: the ladder extends past the former 2.6×10⁵
    // ceiling — r=18/20/22 rungs carry corpora to 1.68×10⁷ vectors,
    // bands from the same ⌈ln 0.05 / ln(1 − p^r)⌉ recall model
    assert(Similarity.nearDupGeometry(1000000L) == (864, 48))
    assert(Similarity.nearDupGeometry(4000000L) == (1300, 65))
    assert(Similarity.nearDupGeometry(100000000L) == (1980, 90))
    // measured sweep on worst-case (fully random) vectors: a 4× corpus
    // must grow auto-geometry candidates well under the 16× a fixed
    // band width produces (model: bands·n²/2^(r+1) — 4× per step once
    // the rung's +2 bits cancel the n² growth, times the bands ratio)
    val rng = new scala.util.Random(23)
    def corpus(n: Int) = (0L until n.toLong)
      .map(i => (i, Array.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val c600 = Similarity.nearDupCandidateCount(corpus(600))
    val c2400 = Similarity.nearDupCandidateCount(corpus(2400))
    val growth = c2400.toDouble / c600
    assert(growth < 10.0,
      s"auto-geometry candidate growth $growth (=$c2400/$c600) should be" +
        " well below the quadratic 16x")
  }

  test("GeometryLadder: every rung's bands is the minimal count holding model recall ≥ 0.95") {
    // executable form of the ladder's derivation: occupancy boundary
    // maxCorpus = 4·2^r per rung, bands = ⌈ln 0.05 / ln(1 − p^r)⌉ at
    // p = 1 − acos(0.90)/π — so a future rung edit that breaks either
    // the constant-occupancy step or the recall floor fails here, not
    // in a 10⁶-vector profiling run
    val p = 1.0 - math.acos(0.90) / math.Pi
    def recall(r: Int, bands: Int): Double =
      1.0 - math.pow(1.0 - math.pow(p, r), bands)
    for (((hi, r, b), i) <- Similarity.GeometryLadder.zipWithIndex) {
      assert(recall(r, b) >= 0.95, s"rung r=$r bands=$b misses the floor")
      assert(recall(r, b - 1) < 0.95,
        s"rung r=$r bands=$b is not minimal (b-1 still clears 0.95)")
      if (i < Similarity.GeometryLadder.size - 1)
        assert(hi == 4L << r,
          s"rung r=$r ceiling $hi breaks the occupancy-4 step (want ${4L << r})")
    }
  }

  test("gopher quality battery: each signal trips on its planted fixture") {
    val good = (0 until 60).map(i => f"word$i%03d").mkString(" ")
    val tiny = Seq.fill(60)("a").mkString(" ")
    val huge = Seq.fill(60)("abcdefghijkl").mkString(" ")
    val hashy = (0 until 60).map(i => f"word$i%03d#").mkString(" ")
    val bullets = (0 until 10).map(i =>
      s"- item$i alpha beta gamma delta epsilon").mkString("\n")
    val dotted = (0 until 10).map(i =>
      s"alpha$i beta gamma delta epsilon omega" +
        (if (i < 4) "..." else "")).mkString("\n")
    val numeric = ((0 until 30).map(i => f"word$i%03d") ++
      Seq.fill(30)("12345")).mkString(" ")
    val repeaty = Seq.fill(20)("rep one two").mkString(" ")
    val docs = Seq(
      (1L, good), (2L, "one two three"), (3L, tiny), (4L, huge),
      (5L, hashy), (6L, bullets), (7L, dotted), (8L, numeric),
      (9L, repeaty), (10L, "ab... cd\u2026 ef #")
    ).toDF("doc_id", "text")
    val rows = TextOps.gopherQuality(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    def pass(id: Long) = rows(id).getAs[Boolean]("gopher_pass")
    assert(pass(1L), "clean doc must pass")
    assert(!pass(2L), "word-count bound")
    assert(!pass(3L) && rows(3L).getAs[Double]("mean_word_len") == 1.0,
      "short-word bound")
    assert(!pass(4L) && rows(4L).getAs[Double]("mean_word_len") == 12.0,
      "long-word bound")
    assert(!pass(5L) &&
      rows(5L).getAs[Double]("symbol_word_ratio") == 1.0, "symbol bound")
    assert(!pass(6L) &&
      rows(6L).getAs[Double]("bullet_line_frac") == 1.0, "bullet bound")
    assert(!pass(7L) &&
      rows(7L).getAs[Double]("ellipsis_line_frac") == 0.4, "ellipsis bound")
    assert(!pass(8L) &&
      rows(8L).getAs[Double]("alpha_word_frac") == 0.5, "alpha bound")
    // repetition is REPORTED but not gated (per-n thresholds differ)
    assert(pass(9L) && rows(9L).getAs[Double]("repetition_ratio") > 0.9)
    // symbol accounting: one '...' run + one single-char ellipsis + one
    // '#' over 4 words
    assert(rows(10L).getAs[Double]("symbol_word_ratio") == 0.75)
  }

  test("IVF quantizer: data-driven assignment == unrolled, and works past the unroll ceiling") {
    // the two centroidDistArray forms must be BIT-identical (same
    // sequential double fold over the same literals)
    val rng = new scala.util.Random(23)
    val dim = 16
    val cents = Array.fill(100)(Array.fill(dim)(rng.nextGaussian()))
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val both = vecs.select(
      array_min(Similarity.centroidDistArray($"embedding", cents,
        unrolled = true)).as("u"),
      array_min(Similarity.centroidDistArray($"embedding", cents,
        unrolled = false)).as("dd"))
      .select($"u.d", $"u.cid", $"dd.d".as("d2"), $"dd.cid".as("cid2"))
      .as[(Double, Int, Double, Int)].collect()
    both.foreach { case (d, cid, d2, cid2) =>
      assert(d == d2 && cid == cid2)
    }
    // end-to-end at nlist far past UnrollNlistMax: with a full probe,
    // IVF must return exactly the brute-force ranking (any assignment
    // or plan-size failure would surface here)
    assert(100 > Similarity.UnrollNlistMax)
    val labeled = (0 until 200).map(i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val ivf = Similarity.ivfTopK(labeled, Seq(0L, 1L), k = 5, nlist = 96,
      nprobe = 96, iters = 1)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val brute = Similarity.bruteForceTopK(labeled, Seq(0L, 1L), k = 5)
      .select($"query_id", $"vec_id", $"cos_sim", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(ivf == brute)
  }

  test("centroid_sq_dists: double input, tie to smallest cid, loud dim-mismatch seam") {
    import graft.functions.CentroidSqDists.centroid_sq_dists
    // double-element input path (the float path is the equivalence
    // test above); two identical centroids tie — array_min must pick
    // the SMALLER cid, the unrolled form's documented tie-break
    val cents = Array(Array(1.0, 2.0), Array(0.0, 0.0), Array(0.0, 0.0))
    val got = Seq(Tuple1(Array(0.0, 0.0))).toDF("v")
      .select(array_min(centroid_sq_dists($"v", cents)).as("m"))
      .select($"m.d", $"m.cid").as[(Double, Int)].head()
    assert(got == ((0.0, 1)))
    // seam guard: wrong vector dim fails loudly with both dims named
    val err = intercept[Exception] {
      Seq(Tuple1(Array(1.0f, 2.0f, 3.0f))).toDF("v")
        .select(centroid_sq_dists($"v", cents)).collect()
    }
    val msg = Option(err.getMessage).getOrElse("") +
      Option(err.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("3") && msg.contains("2"), s"got: $msg")
  }

  test("bloomNovel: exact anti-join result, sketch prunes, no false negatives") {
    import org.apache.spark.sql.graftshim.BloomShim
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    // reference corpus of 400 docs; batch of 100 where every 4th text
    // is a verbatim copy of a reference doc (25 dupes, 75 novel)
    val ref = (0 until 400).map(i => (i.toLong, s"ref text body $i"))
      .toDF("doc_id", "text")
    val batch = (0 until 100).map { i =>
      val t = if (i % 4 == 0) s"ref text body ${i * 3}" else s"fresh text $i"
      (1000L + i, t)
    }.toDF("doc_id", "text")
    val novel = Dedup.bloomNovel(batch, ref)
      .select($"doc_id").as[Long].collect().toSet
    val exact = batch.join(ref.select($"text"), Seq("text"), "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    assert(novel == exact && novel.size == 75)
    // no false negatives by construction: every batch member must be a
    // bloom positive against its own sketch
    val h = xxhash64(col("text"))
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(1L << 16, 0.01)
    val bf = batch.select(BloomShim.bloomAgg(h, 1L << 16, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    assert(batch.filter(BloomShim.mightContain(lit(bf), h)).count() == 100L)
    // the pruning predicate keeps the 25 true overlaps plus at most a
    // small false-positive tail of the 400-doc reference scan
    val kept = ref.filter(BloomShim.mightContain(lit(bf), h)).count()
    assert(kept >= 25L && kept <= 50L)
    // empty batch blooms to null and yields the empty batch unchanged
    assert(Dedup.bloomNovel(batch.filter(lit(false)), ref).count() == 0L)
  }

  test("float-path dsirLogWeights / familiarityLogProb match driver ground truth within tolerance") {
    // the paper-faithful log-prob dials are deliberately NOT oracle-
    // hash-checked (distributed float log-sums have no cross-engine
    // exact form) — the contract is closeness to sequentially-computed
    // ground truth; the integer dials stay the oracle-exact defaults
    import org.apache.spark.sql.functions.col
    val fixture = Seq(
      (1L, "abcab", "src0"), (2L, "bcbcx", "src1"),
      (3L, "ababa", "src0"), (4L, "zzzz", "src1"))
    val docs = fixture.toDF("doc_id", "text", "source")
    def bigs(s: String) = s.sliding(2).toSeq
    val all = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val tgtC = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for ((_, t, src) <- fixture; b <- bigs(t)) {
      all(b) += 1
      if (src == "src0") tgtC(b) += 1
    }
    val v = all.size.toDouble
    val rTot = all.values.sum.toDouble
    val tTot = tgtC.values.sum.toDouble
    val expectedW = fixture.map { case (id, t, _) =>
      id -> bigs(t).map(b =>
        math.log((tgtC(b) + 1) / (tTot + v)) -
          math.log((all(b) + 1) / (rTot + v))).sum
    }.toMap
    val gotW = TextOps.dsirLogWeights(docs, col("source") === "src0")
      .select($"doc_id", $"log_weight").as[(Long, Double)].collect().toMap
    for ((id, e) <- expectedW)
      assert(math.abs(gotW(id) - e) < 1e-9, s"dsir log weight for doc $id")
    // target-shaped docs must score above the non-target ones
    assert(gotW(1L) > gotW(2L) && gotW(3L) > gotW(4L))
    val expectedP = fixture.map { case (id, t, _) =>
      id -> bigs(t).map(b => math.log(all(b) / rTot)).sum / bigs(t).size
    }.toMap
    val gotP = TextOps.familiarityLogProb(docs)
      .select($"doc_id", $"avg_logp", $"ppl_proxy")
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    for ((id, e) <- expectedP) {
      assert(math.abs(gotP(id)._1 - e) < 1e-9, s"avg logp for doc $id")
      assert(math.abs(gotP(id)._2 - math.exp(-e)) < 1e-9, s"ppl for doc $id")
    }
  }

  test("minhash_band_keys expression equals the explode+groupBy signature banding") {
    import org.apache.spark.sql.functions._
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 12).map(j => s"tok${(i * 7 + j * 3) % 29}").mkString(" "))
    }.toDF("doc_id", "text")
    // slot mins from the scan-local expression must equal the explode
    // path's groupBy mins: recompute both over the md5 family and
    // compare the BAND EQUALITY relation (the bucket hash differs by
    // design — XXH64 fold vs xxhash64 column — but keys must collide
    // for exactly the same doc pairs)
    val sh = array_distinct(Dedup.shingles(col("text"), 3))
    val native = docs.select($"doc_id",
      graft.functions.MinHashBandKeys.minhash_band_keys(sh, 16, 4).as("bks"))
      .select($"doc_id", posexplode($"bks").as(Seq("band", "bk")))
    val ex = docs.select($"doc_id", explode(sh).as("s"))
    val sig = ex.groupBy($"doc_id").agg(
      min(Dedup.md5Seeded(0, $"s")).as("h0"),
      (1 until 16).map(seed => min(Dedup.md5Seeded(seed, $"s")).as(s"h$seed")): _*)
    val banded = sig.select($"doc_id", posexplode(array((0 until 4).map { b =>
      struct((0 until 4).map(r => col(s"h${b * 4 + r}").as(s"s$r")): _*)
    }: _*)).as(Seq("band", "slots")))
    def collisions(df: org.apache.spark.sql.DataFrame, kc: String): Set[(Long, Long)] =
      df.alias("a").join(df.alias("b"),
          col("a.band") === col("b.band") && col(s"a.$kc") === col(s"b.$kc") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"))
        .as[(Long, Long)].collect().toSet
    assert(collisions(native, "bk") == collisions(banded, "slots"))
    // empty shingle set (doc shorter than the ngram) → empty key array
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
    assert(short.select(size(graft.functions.MinHashBandKeys
      .minhash_band_keys(array_distinct(Dedup.shingles(col("text"), 3)), 16, 4)))
      .as[Int].head() == 0)
  }

  test("minhashNovel equals the cross-pair restriction of the all-corpus banded pipeline") {
    import org.apache.spark.sql.functions._
    // corpus of 60 docs; batch of 20 where every 4th doc is a light
    // perturbation of a corpus doc (near-dup at jaccard >= 0.3) and
    // the rest are fresh random token streams
    val rng = new scala.util.Random(7)
    def body(seed: Int) = (0 until 30)
      .map(j => s"w${(seed * 13 + j * 5) % 97}").mkString(" ")
    val ref = (0 until 60).map(i => (i.toLong, body(i))).toDF("doc_id", "text")
    val batch = (0 until 20).map { i =>
      val t =
        if (i % 4 == 0) body(i * 2) + " extra tail"
        else (0 until 30).map(_ => s"f${rng.nextInt(100000)}").mkString(" ")
      (1000L + i, t)
    }.toDF("doc_id", "text")
    val novel = Dedup.minhashNovel(batch, ref, threshold = 0.3)
      .select($"doc_id").as[Long].collect().toSet
    // reference formulation: the standard all-pairs banded pipeline
    // over batch ∪ corpus (same md5 family), restricted to cross
    // pairs — the loser set minhashNovel must reproduce exactly
    val losers = Dedup.minhashNearDups(batch.union(ref), threshold = 0.3,
        hashFn = Dedup.md5Seeded)
      .filter(($"doc_a" >= 1000L) =!= ($"doc_b" >= 1000L))
      .select(greatest($"doc_a", $"doc_b").as("b"))
      .as[Long].collect().toSet
    val expected = (0 until 20).map(i => 1000L + i).toSet -- losers
    assert(novel == expected)
    assert(losers.nonEmpty, "fixture must plant at least one cross near-dup")
    // empty batch stays the identity
    assert(Dedup.minhashNovel(batch.filter(lit(false)), ref).count() == 0L)
    // a SATURATED bloom (4 expected items for 80 keys at fpp 0.5 —
    // nearly every corpus band row survives the prune) must not
    // change the answer: the sketch is candidate pruning only, the
    // exact band equi-join + jaccard verify carry the semantics
    val saturated = Dedup.minhashNovel(batch, ref, threshold = 0.3,
        expectedItems = 4L, fpp = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(saturated == novel,
      "bloom saturation changed the result — the sketch must only prune")
  }

  test("Md5SimHash60 expression equals the explode+groupBy portable sketch") {
    import org.apache.spark.sql.functions._
    val docs = (0 until 50).map { i =>
      (i.toLong, (0 until 15).map(j => s"tok${(i * 11 + j * 3) % 37}").mkString(" "))
    }.toDF("doc_id", "text")
    // the COMPOSED explode+groupBy form is the independent reference —
    // simhashPortable itself now rides the native expression at 60 bits
    val expected = Dedup.simhashPortableComposed(docs)
      .as[(Long, Long)].collect().toMap
    val got = docs.select($"doc_id",
      graft.functions.Md5SimHash60.md5_simhash60(
        array_distinct(split(trim($"text"), "\\s+"))).as("simhash"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("simhashNovel equals the cross-pair restriction of the banded Hamming pipeline") {
    import org.apache.spark.sql.functions._
    // ref corpus of 80 docs; batch of 20 where every 4th is a TOKEN
    // PERMUTATION of a ref doc (set-based sketch → Hamming exactly 0)
    def toks(seed: Int) = (0 until 30).map(j => s"w${(seed * 13 + j * 5) % 211}")
    val ref = (0 until 80).map(i => (i.toLong, toks(i).mkString(" ")))
      .toDF("doc_id", "text")
    val batch = (0 until 20).map { i =>
      val t =
        if (i % 4 == 0)
          new scala.util.Random(i).shuffle(toks(i * 2)).mkString(" ")
        else (0 until 30).map(j => s"f${i * 1000 + j}").mkString(" ")
      (1000L + i, t)
    }.toDF("doc_id", "text")
    val novel = Dedup.simhashNovel(batch, ref)
      .select($"doc_id").as[Long].collect().toSet
    val losers = Dedup.simhashNearDups(batch.union(ref))
      .filter(($"doc_a" >= 1000L) =!= ($"doc_b" >= 1000L))
      .select(greatest($"doc_a", $"doc_b").as("b"))
      .as[Long].collect().toSet
    val expected = (0 until 20).map(i => 1000L + i).toSet -- losers
    assert(novel == expected)
    // the permutation clones are Hamming 0 by construction — all five
    // must be dropped
    assert((0 until 20).filter(_ % 4 == 0).map(1000L + _).toSet
      .subsetOf(losers))
    assert(Dedup.simhashNovel(batch.filter(lit(false)), ref).count() == 0L)
  }

  test("IVF append: in-distribution batch joins its lists and is searchable; drift refuses") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(11)
    // two well-separated blobs at ±3·e_blob with small noise
    def blobVec(blob: Int): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat * 0.1f)
      v(blob) = v(blob) + (if (blob == 0) 3.0f else -3.0f)
      v
    }
    val corpus = (0L until 40L).map(i => (i, blobVec((i % 2).toInt)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf-append").toString
    Similarity.writeIvfIndex(corpus, dir, nlist = 4, iters = 3)
    assert(Similarity.readIvfStats(spark, dir)._1 == 40L)

    // in-distribution batch: 10 fresh blob vectors — append succeeds,
    // stats merge distributively
    val batch = (100L until 110L).map(i => (i, blobVec((i % 2).toInt)))
      .toDF("vec_id", "embedding")
    Similarity.appendToIvfIndexCommitted(spark, dir, batch, 1L)
    assert(Similarity.readIvfStats(spark, dir)._1 == 50L)

    // append-then-search: probing with an appended vector's own
    // embedding must return it at cosine 1.0 (its list is probed by
    // construction — the query assigns to the same centroid)
    val qv = batch.filter($"vec_id" === 105L)
      .select($"embedding").as[Array[Float]].head()
    val hits = Similarity.ivfSearchIndexed(spark, dir,
      Seq((905L, qv)), k = 3, nprobe = 2)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    assert(hits.head == ((105L, 1.0)), s"got ${hits.toSeq}")

    // out-of-distribution batch (shifted +100 in every dim): the
    // drift guard must refuse rather than silently degrade recall
    val far = (200L until 205L)
      .map(i => (i, Array.fill(64)(100.0f + rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalStateException] {
      Similarity.appendToIvfIndexCommitted(spark, dir, far, 2L)
    }
    assert(ex.getMessage.contains("drift guard"))
    // the refused batch left neither rows nor stats behind
    assert(Similarity.readIvfStats(spark, dir)._1 == 50L)
    assert(spark.read.parquet(s"${iroot(dir)}/lists")
      .filter($"vec_id" >= 200L).count() == 0L)
    // an empty append lands nothing
    Similarity.appendToIvfIndexCommitted(spark, dir, batch.filter(lit(false)),
      3L)
    assert(Similarity.readIvfStats(spark, dir)._1 == 50L)
  }

  test("IVF-PQ append: appended rows are PQ-encoded with the stored books (both codings) and probe-visible") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(13)
    def blobVec(blob: Int): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat * 0.1f)
      v(blob) = v(blob) + (if (blob == 0) 3.0f else -3.0f)
      v
    }
    val rows = (0L until 40L).map(i => (i, blobVec((i % 2).toInt)))
    val corpus = rows.toDF("vec_id", "embedding")
    for (residual <- Seq(false, true)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"ivfpq-append-$residual").toString
      Similarity.writeIvfPqIndex(corpus, dir, nlist = 4, itersIvf = 2,
        m = 4, ksub = 8, itersPq = 2, residual = residual)
      // batch: fresh blob vectors plus an EXACT clone of corpus row 7
      // — the clone must assign to the same list and receive the SAME
      // stored codes as the original (the books didn't change, so
      // encoding is a pure function of the vector)
      val batch = ((100L until 106L).map(i => (i, blobVec((i % 2).toInt)))
        :+ (999L, rows(7)._2)).toDF("vec_id", "embedding")
      Similarity.appendToIvfIndexCommitted(spark, dir, batch, 1L)
      val lists = spark.read.parquet(s"${iroot(dir)}/lists")
      val stored = lists.filter($"vec_id".isin(7L, 999L))
        .select($"vec_id", $"cid", $"codes")
        .as[(Long, Int, Array[Int])].collect()
        .map { case (id, c, a) => (id, (c, a.toSeq)) }.toMap
      assert(stored(999L) == stored(7L),
        s"clone codes drifted: ${stored(999L)} vs ${stored(7L)}")
      // every appended row carries a well-formed code word
      val appended = lists.filter($"vec_id" >= 100L)
        .select($"codes").as[Array[Int]].collect()
      assert(appended.length == 7)
      appended.foreach { cs =>
        assert(cs.length == 4 && cs.forall(c => c >= 0 && c < 8))
      }
      // probe-visibility: querying with an appended vector's own
      // embedding finds it at exact cosine 1.0 through the ADC path
      val qv = batch.filter($"vec_id" === 103L)
        .select($"embedding").as[Array[Float]].head()
      val hits = Similarity.ivfPqSearchIndexed(spark, dir,
        Seq((903L, qv)), k = 3, nprobe = 2)
        .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
      assert(hits.head == ((103L, 1.0)), s"got ${hits.toSeq}")
    }
    // probing a plain IVF index with the PQ probe fails fast with a
    // diagnosis, not an opaque path error
    val plainDir = java.nio.file.Files
      .createTempDirectory("ivf-plain").toString
    Similarity.writeIvfIndex(corpus, plainDir, nlist = 4, iters = 2)
    val ex = intercept[IllegalStateException] {
      Similarity.ivfPqSearchIndexed(spark, plainDir, Seq((1L, rows(0)._2)))
    }
    assert(ex.getMessage.contains("no pq_books"))
  }

  test("streaming index maintenance: micro-batches append PQ-encoded and probe-visible; a drifted batch fails the stream") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(17)
    def blobVec(blob: Int): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat * 0.1f)
      v(blob) = v(blob) + (if (blob == 0) 3.0f else -3.0f)
      v
    }
    val corpus = (0L until 40L).map(i => (i, blobVec((i % 2).toInt)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq-stream").toString
    Similarity.writeIvfPqIndex(corpus, dir, nlist = 4, itersIvf = 2,
      m = 4, ksub = 8, itersPq = 2, residual = true)
    val ckpt = java.nio.file.Files
      .createTempDirectory("ivfpq-stream-ckpt").toString
    val mem = MemoryStream[(Long, Array[Float])]
    val q = MicroBatches.start(mem.toDF().toDF("vec_id", "embedding"), ckpt,
        50L) { (b, id) =>
      Similarity.appendToIvfIndexCommitted(b.sparkSession, dir, b, id)
    }
    try {
      // two micro-batches of in-distribution vectors
      mem.addData((100L, blobVec(0)), (101L, blobVec(1)))
      q.processAllAvailable()
      mem.addData((102L, blobVec(0)))
      q.processAllAvailable()
      // stats are composite now: baseline file + per-batch commit
      // markers (the stream appends transactionally per batch id)
      assert(Similarity.indexedCorpusCount(spark, dir) == 43L)
      assert(new java.io.File(s"${iroot(dir)}/_commits").listFiles()
        .count(_.getName.startsWith("batch-")) == 2,
        "each micro-batch must leave its commit marker")
      // appended rows carry PQ codes and are probe-visible at 1.0
      val qv = spark.read.parquet(s"${iroot(dir)}/lists")
        .filter($"vec_id" === 102L)
        .select($"embedding").as[Array[Float]].head()
      val hits = Similarity.ivfPqSearchIndexed(spark, dir,
        Seq((902L, qv)), k = 1, nprobe = 2)
        .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
      assert(hits.head == ((102L, 1.0)), s"got ${hits.toSeq}")
      // a drifted batch fails the stream loudly instead of degrading
      mem.addData((200L, Array.fill(64)(100.0f)))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(ex.getMessage.contains("drift guard") ||
        Option(ex.getCause).exists(_.getMessage.contains("drift guard")))
      // the refused batch left neither rows nor stats behind
      assert(Similarity.indexedCorpusCount(spark, dir) == 43L)
      assert(spark.read.parquet(s"${iroot(dir)}/lists")
        .filter($"vec_id" === 200L).count() == 0L)
    } finally { if (q.isActive) q.stop() }
  }

  test("streaming ANN serving: batches match the batch-face retrieval join; replay overwrites; appends visible without restart") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Similarity
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(31)
    def blobVec(blob: Int): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat * 0.1f)
      v(blob) = v(blob) + (if (blob == 0) 3.0f else -3.0f)
      v
    }
    val corpus = (0L until 40L).map(i => (i, blobVec((i % 2).toInt)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("ann-serve-idx").toString
    Similarity.writeIvfIndex(corpus, dir, nlist = 4, iters = 2)
    val outDir = java.nio.file.Files
      .createTempDirectory("ann-serve-out").toString + "/results"
    val ckpt = java.nio.file.Files
      .createTempDirectory("ann-serve-ckpt").toString
    val mem = MemoryStream[(Long, Array[Float])]
    val q = MicroBatches.serve(mem.toDF().toDF("vec_id", "embedding"), ckpt,
        outDir, 50L) { b =>
      Similarity.knnJoinIndexed(b.sparkSession, dir, b, k = 3, nprobe = 2)
    }
    try {
      val (q0, q1, q2) = (blobVec(0), blobVec(1), blobVec(0))
      mem.addData((900L, q0), (901L, q1))
      q.processAllAvailable()
      mem.addData((902L, q2))
      q.processAllAvailable()
      // fresh file listing per snapshot — the replay overwrite below
      // swaps files under a cached FileIndex otherwise
      def snap() = spark.read.parquet(outDir)
        .select($"query_id", $"vec_id", $"cos_sim", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSet
      // the streamed results ARE the batch-face retrieval join
      val face = Similarity.knnJoinIndexed(spark, dir,
        Seq((900L, q0), (901L, q1), (902L, q2))
          .toDF("vec_id", "embedding"), k = 3, nprobe = 2)
        .select($"query_id", $"vec_id", $"cos_sim", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(snap() == face, "stream results diverge from knnJoinIndexed")
      // each query's rows landed under exactly one batch id
      val perBatch = spark.read.parquet(outDir).groupBy($"query_id")
        .agg(countDistinct($"batch_id").as("nb"))
        .filter($"nb" =!= 1L).count()
      assert(perBatch == 0L)
      // crash replay of a landed batch: MicroBatchReplaySpec
      // maintenance append is visible to the NEXT serving batch with
      // no restart: serve a query identical to the appended vector
      val nv = blobVec(0)
      Similarity.appendToIvfIndexCommitted(spark, dir,
        Seq((500L, nv)).toDF("vec_id", "embedding"), 1L)
      mem.addData((903L, nv))
      q.processAllAvailable()
      val top = spark.read.parquet(outDir)
        .filter($"query_id" === 903L && $"rank" === 1L)
        .select($"vec_id", $"cos_sim").as[(Long, Double)].head()
      assert(top == ((500L, 1.0)), s"appended vector not served: $top")
    } finally { if (q.isActive) q.stop() }
  }

  test("hot-band cap: mega-cluster candidates bounded, recall trade measured, rare pairs intact; pinned counts skip the sizing pass") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    val dim = 64
    // mega-cluster: 200 copies of one direction with tiny noise — on
    // clustered data they land in the SAME bucket of every band
    val u = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def megaVec(): Array[Float] =
      u.map(x => x + rnd.nextGaussian().toFloat * 0.005f)
    // spread: 96 well-separated random vectors + 2 planted rare pairs
    def spreadVec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val s1 = spreadVec(); val s2 = spreadVec()
    val rows =
      (0L until 200L).map(i => (i, megaVec())) ++
      (200L until 296L).map(i => (i, spreadVec())) ++
      Seq((296L, s1), (297L, s1.map(x => x + rnd.nextGaussian().toFloat * 0.005f)),
          (298L, s2), (299L, s2.map(x => x + rnd.nextGaussian().toFloat * 0.005f)))
    val emb = rows.toDF("vec_id", "embedding")
    val (pl, bd, cap) = (24, 4, 16)

    // occupancy accounting: the pre-flight read for choosing the cap
    val stats = Similarity.hotBandStats(emb, pl, bd, cap)
      .as[(Long, Long, Long, Long)].head()
    assert(stats._2 >= 4L, s"expected >=4 hot buckets, got $stats")
    assert(stats._3 >= 600L, s"expected the mega-cluster's blocking mass, got $stats")
    assert(stats._4 >= 150L, s"expected a ~200-row bucket, got $stats")

    // capped blocking: candidate volume collapses from the mega-
    // cluster's ~C(200,2) to the rare-bucket residue
    val uncapped = Similarity.nearDupCandidateCount(emb, pl, bd)
    val capped = Similarity.nearDupCandidateCount(emb, pl, bd, cap)
    assert(uncapped > 15000L, s"mega-cluster should dominate uncapped: $uncapped")
    assert(capped < 1000L, s"cap must bound candidates: $capped (uncapped $uncapped)")

    // rare planted pairs survive the cap end-to-end
    val pairs = Similarity.embeddingNearDups(emb, minCos = 0.97,
      planes = pl, bands = bd, maxBandDf = cap)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((296L, 297L)) && pairs.contains((298L, 299L)),
      s"rare pairs lost under cap: $pairs")
    // interior pairs are BOUNDED (only noise-flip side-buckets with
    // df <= cap survive blocking), not zero — the cap's contract is
    // volume, not exclusion
    val interior = pairs.count { case (a, b) => a < 200L && b < 200L }
    assert(interior < 1000, s"cap must bound interior pairs: $interior of ~19900")

    // the recall trade is MEASURED, not silent: anchors inside the
    // mega-cluster report the loss; without the cap recall is 1.0
    val rCap = Similarity.nearDupPairRecall(emb, col("vec_id") === 0L,
      minCos = 0.97, planes = pl, bands = bd, maxBandDf = cap)
      .as[(Long, Long, Double)].head()
    assert(rCap._2 > 150L && rCap._3 < 0.25,
      s"cap cost on mega anchors must be visible: $rCap")
    val rFree = Similarity.nearDupPairRecall(emb, col("vec_id") === 0L,
      minCos = 0.97, planes = pl, bands = bd)
      .as[(Long, Long, Double)].head()
    assert(rFree._3 == 1.0, s"uncapped recall should be 1.0: $rFree")

    // knnJoin under the cap: a spread query still finds its planted
    // partner; a mega query's corpus matches are starved (bounded)
    val knnCap = Similarity.knnJoin(
      emb.filter($"vec_id".isin(296L, 0L)), emb, k = 3,
      planes = pl, bands = bd, maxBandDf = cap)
    val byQuery = knnCap.select($"query_id", $"vec_id")
      .as[(Long, Long)].collect().groupBy(_._1)
    assert(byQuery(296L).map(_._2).contains(297L))
    // the mega query's matches can only arrive via noise-flip side-
    // buckets (df <= cap) — far fewer than its ~199 true neighbors
    assert(byQuery.get(0L).forall(_.length <= 3))

    // pinned corpusCount = same geometry as the counted path, no
    // sizing count() — results identical
    val q = emb.filter($"vec_id" === 296L)
    val counted = Similarity.knnJoin(q, emb, k = 5).collect().toSeq
    val pinned = Similarity.knnJoin(q, emb, k = 5,
      corpusCount = 300L).collect().toSeq
    assert(counted == pinned)

    // embeddingNovel: the cap's miss shows up as a (documented) extra
    // novel row — the mega-adjacent batch vector only matches inside
    // hot buckets; the genuinely novel row is unaffected
    val batch = Seq((900L, megaVec()), (901L, spreadVec()))
      .toDF("vec_id", "embedding")
    val novelFree = Similarity.embeddingNovel(batch, emb, minCos = 0.9,
      planes = pl, bands = bd).select($"vec_id").as[Long].collect().toSet
    assert(novelFree == Set(901L), s"uncapped: $novelFree")
    val novelCap = Similarity.embeddingNovel(batch, emb, minCos = 0.9,
      planes = pl, bands = bd, maxBandDf = cap)
      .select($"vec_id").as[Long].collect().toSet
    assert(novelCap == Set(900L, 901L), s"capped: $novelCap")
    // pinned totalCount reproduces the counted path
    val novelPinned = Similarity.embeddingNovel(batch, emb, minCos = 0.9,
      totalCount = 302L).select($"vec_id").as[Long].collect().toSet
    val novelAuto = Similarity.embeddingNovel(batch, emb, minCos = 0.9)
      .select($"vec_id").as[Long].collect().toSet
    assert(novelPinned == novelAuto)

    // indexedCorpusCount: the durable-index stats feed the rung
    // lookup — one tiny read, kept current by appends
    val dir = java.nio.file.Files.createTempDirectory("ivf-count").toString
    Similarity.writeIvfIndex(emb, dir, nlist = 4, iters = 2)
    assert(Similarity.indexedCorpusCount(spark, dir) == 300L)
    Similarity.appendToIvfIndexCommitted(spark, dir,
      (500L until 510L).map(i => (i, megaVec())).toDF("vec_id", "embedding"),
      1L)
    assert(Similarity.indexedCorpusCount(spark, dir) == 310L)
  }

  test("SQ8/BQ sidecar append: appended rows probe-visible and rebuild-identical; ensure* no longer rebuilds after an append") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(19)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val corpusRows = (0L until 30L).map(i => (i, vec()))
    val batchRows = (100L until 106L).map(i => (i, vec()))
    val src = java.nio.file.Files.createTempDirectory("sidecar-src").toString + "/emb.parquet"
    corpusRows.toDF("vec_id", "embedding").write.parquet(src)
    val root = java.nio.file.Files.createTempDirectory("sidecar-root").toString
    def listing(d: String): Set[(String, Long)] = {
      val f = new java.io.File(d)
      if (!f.exists()) Set.empty
      else f.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(x => (x.getName, x.lastModified())).toSet
    }

    // ---- SQ8 ----
    val sq8 = Similarity.ensureSq8Index(spark, src, spark.read.parquet(src),
      indexRoot = Some(root))
    val batch = batchRows.toDF("vec_id", "embedding")
    // the source receives the batch, then the sidecar appends it
    batch.write.mode("append").parquet(src)
    Similarity.appendToSq8IndexCommitted(spark, sq8, batch, 1L,
      sourcePath = Some(src))
    val sq8Files = listing(s"${iroot(sq8)}/codes")
    // appended codes are byte-identical to what a rebuild would store
    // (encoding is a pure per-row function)
    val storedCodes = spark.read.parquet(s"${iroot(sq8)}/codes")
      .filter($"vec_id" >= 100L)
      .select($"vec_id", $"codes", $"scale")
      .as[(Long, Array[Int], Double)].collect()
      .map { case (id, c, s) => (id, (c.toSeq, s)) }.toMap
    val freshCodes = Similarity.quantizeInt8(batch)
      .select($"vec_id", $"codes", $"scale")
      .as[(Long, Array[Int], Double)].collect()
      .map { case (id, c, s) => (id, (c.toSeq, s)) }.toMap
    assert(storedCodes == freshCodes)
    // append-then-probe: an appended vector's own embedding finds it
    // at exact cosine 1.0 through the sidecar scan + rerank
    val full = spark.read.parquet(src)
    val qv = batchRows(3)._2
    val sq8Hit = Similarity.sq8SearchIndexed(spark, sq8, full,
      Seq((903L, qv)), k = 1)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    assert(sq8Hit.head == ((103L, 1.0)), s"got ${sq8Hit.toSeq}")
    // the marker advanced with the append: a fresh ensure over the
    // GROWN source must not rebuild (file set + mtimes unchanged)
    val sq8Again = Similarity.ensureSq8Index(spark, src,
      spark.read.parquet(src), indexRoot = Some(root))
    assert(sq8Again == sq8 && listing(s"${iroot(sq8)}/codes") == sq8Files,
      "append left the fingerprint stale: ensureSq8Index rebuilt")
    // a wrong-dimension batch fails fast inside the scan
    val badDim = Seq((500L, Array.fill(32)(1.0f))).toDF("vec_id", "embedding")
    def chainHas(t: Throwable, s: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .exists(e => Option(e.getMessage).exists(_.contains(s)))
    val exS = intercept[Exception] {
      Similarity.appendToSq8IndexCommitted(spark, sq8, badDim, 2L)
    }
    assert(chainHas(exS, "SQ8 append"), s"unexpected failure: $exS")

    // ---- BQ ----
    val bq = Similarity.ensureBqIndex(spark, src, full, indexRoot = Some(root))
    val batch2 = (200L until 206L).map(i => (i, vec()))
    batch2.toDF("vec_id", "embedding").write.mode("append").parquet(src)
    Similarity.appendToBqIndexCommitted(spark, bq,
      batch2.toDF("vec_id", "embedding"), 1L, sourcePath = Some(src))
    val bqFiles = listing(s"${iroot(bq)}/bits")
    // appended bits = a rebuild's bits for the same vectors
    val storedBits = spark.read.parquet(s"${iroot(bq)}/bits")
      .filter($"vec_id" >= 200L)
      .select($"vec_id", $"bits").as[(Long, Array[Long])].collect()
      .map { case (id, b) => (id, b.toSeq) }.toMap
    val freshBits = batch2.toDF("vec_id", "embedding")
      .select($"vec_id", Similarity.signPackWords($"embedding", 64).as("b"))
      .as[(Long, Array[Long])].collect()
      .map { case (id, b) => (id, b.toSeq) }.toMap
    assert(storedBits == freshBits)
    val full2 = spark.read.parquet(src)
    val bqHit = Similarity.bqSearchIndexed(spark, bq, full2,
      Seq((904L, batch2(2)._2)), k = 1)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    assert(bqHit.head == ((202L, 1.0)), s"got ${bqHit.toSeq}")
    val bqAgain = Similarity.ensureBqIndex(spark, src, full2,
      indexRoot = Some(root))
    assert(bqAgain == bq && listing(s"${iroot(bq)}/bits") == bqFiles,
      "append left the fingerprint stale: ensureBqIndex rebuilt")
    val exB = intercept[Exception] {
      Similarity.appendToBqIndexCommitted(spark, bq, badDim, 2L)
    }
    assert(chainHas(exB, "BQ append"), s"unexpected failure: $exB")
  }

  test("mergeable dims: merge(dim(a), dim(b)) = dim(a ∪ b); withDim = full recompute on the batch") {
    import org.apache.spark.sql.functions._
    // corpus ∪ batch share boilerplate lines whose df crosses the
    // threshold ONLY in the union — the case where scoring the batch
    // against a stale (corpus-only) dim would get the wrong answer
    def doc(i: Long): (Long, String, String) = {
      val body = (0 until 12).map(j => s"w${i * 13 + j}").mkString(" ")
      (i, s"HEAD\n$body\nFOOT", s"src${i % 2}")
    }
    val corpus = (0L until 18L).map(doc).toDF("doc_id", "text", "source")
    val batch = (100L until 112L).map(doc).toDF("doc_id", "text", "source")
    val union = corpus.unionByName(batch)
    val batchIds = (100L until 112L).toSet

    def asMap(df: org.apache.spark.sql.DataFrame): Map[Any, Seq[Any]] =
      df.collect().map(r => r.get(0) -> r.toSeq.tail).toMap

    // line-df dim
    val mergedLine = TextOps.mergeDim(TextOps.lineDfDim(corpus),
      TextOps.lineDfDim(batch), key = "h")
    assert(asMap(mergedLine) == asMap(TextOps.lineDfDim(union)))
    val incLine = TextOps.dedupLinesWithDim(batch, mergedLine, minDf = 5)
    val fullLine = TextOps.dedupLines(union, minDf = 5)
      .filter($"doc_id".isin(batchIds.toSeq: _*))
    assert(incLine.collect().toSeq == fullLine.collect().toSeq)
    // the planted boilerplate really was dropped (df 30 ≥ 5)
    assert(incLine.collect().forall(_.getAs[Long]("n_kept") == 1L))

    // bigram dim
    val mergedBg = TextOps.mergeDim(TextOps.bigramDim(corpus),
      TextOps.bigramDim(batch), key = "b")
    assert(asMap(mergedBg) == asMap(TextOps.bigramDim(union)))
    assert(TextOps.bigramFamiliarityWithDim(batch, mergedBg).collect().toSeq
      == TextOps.bigramFamiliarity(union)
        .filter($"doc_id".isin(batchIds.toSeq: _*)).collect().toSeq)

    // dsir dim (target = src0)
    val tgt = col("source") === "src0"
    val mergedDsir = TextOps.mergeDim(TextOps.dsirDim(corpus, tgt),
      TextOps.dsirDim(batch, tgt), key = "b")
    assert(asMap(mergedDsir) == asMap(TextOps.dsirDim(union, tgt)))
    assert(TextOps.dsirWeightsWithDim(batch, mergedDsir).collect().toSeq
      == TextOps.dsirWeights(union, tgt)
        .filter($"doc_id".isin(batchIds.toSeq: _*)).collect().toSeq)
  }

  test("embeddingNovel drops exactly the batch vectors with a corpus near-dup") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val corpus = (0L until 40L).map(i => (i, vec()))
    // batch: positive-scaled clones of corpus vectors 3 and 17 (cosine
    // exactly 1.0, and a positive scale preserves every projection
    // sign, so every band collides — candidate generation is
    // deterministic, not a recall roll) + 6 fresh Gaussian vectors
    // (natural cosine ≈ 0.12 std at dim 64, nowhere near 0.9)
    val batch = Seq(
      (1003L, corpus(3)._2.map(_ * 2.0f)),
      (1017L, corpus(17)._2.map(_ * 0.5f))) ++
      (0 until 6).map(i => (2000L + i, vec()))
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val batchDf = batch.toDF("vec_id", "embedding")
    val novel = graft.operators.Similarity
      .embeddingNovel(batchDf, corpusDf, minCos = 0.9)
      .select($"vec_id").as[Long].collect().toSet
    assert(novel == (0 until 6).map(2000L + _).toSet)
    // pinned-geometry path (the 100 TB caller's form) agrees
    val pinned = graft.operators.Similarity
      .embeddingNovel(batchDf, corpusDf, minCos = 0.9, planes = 12, bands = 3)
      .select($"vec_id").as[Long].collect().toSet
    assert(pinned == novel)
    // empty batch: nothing to emit, and no corpus work
    assert(graft.operators.Similarity
      .embeddingNovel(batchDf.filter(lit(false)), corpusDf).count() == 0L)
  }

  test("curation funnel: stage invariants on a synthetic multi-line corpus") {
    import org.apache.spark.sql.functions._
    // 60 docs: quality-passing bodies with corpus-wide boilerplate
    // lines, every 6th doc a near-clone of its predecessor, sources
    // striped across src0/src1
    val docs = (0 until 60).map { i =>
      val body =
        if (i % 6 == 5) (0 until 60).map(j => s"w${(i - 1) * 7 + j}").mkString(" ") + " tail"
        else (0 until 60).map(j => s"w${i * 7 + j}").mkString(" ")
      (i.toLong, s"BOILER HEADER\n$body\nBOILER FOOTER", s"src${i % 2}")
    }.toDF("doc_id", "text", "source")
    val rows = Curation.funnel(docs).collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    val order = Seq("1_raw", "2_quality", "3_line_dedup", "4_near_dedup",
      "5_decontam", "6_dsir_sample", "7_packed")
    assert(rows.keySet == order.toSet, "one row per stage")
    assert(rows("1_raw")._1 == 60L)
    // doc counts are non-increasing through the selection stages
    for (Seq(a, b) <- order.slice(0, 6).sliding(2))
      assert(rows(b)._1 <= rows(a)._1, s"$b must not grow vs $a")
    // the boilerplate lines are corpus-wide (df 60 ≥ 5): line dedup
    // keeps every quality survivor but strips 4 tokens/doc
    assert(rows("3_line_dedup")._1 == rows("2_quality")._1)
    assert(rows("3_line_dedup")._2 ==
      rows("2_quality")._2 - 4 * rows("2_quality")._1)
    // near-dedup must remove at least one planted clone, and packing
    // preserves the sampled stage's token mass exactly
    assert(rows("4_near_dedup")._1 < rows("3_line_dedup")._1)
    assert(rows("7_packed")._2 == rows("6_dsir_sample")._2)
    assert(rows("7_packed")._1 > 0L)
    // the product API: one row per kept doc, with its pack assignment
    val curated = Curation.curate(docs)
    assert(curated.count() == rows("6_dsir_sample")._1)
    assert(curated.columns.toSet == Set("doc_id", "text", "source",
      "shard", "n_tokens", "bin_id", "bin_offset"))
  }

  test("rejectReasons: per-doc attribution partitions the corpus and sums to the funnel deltas") {
    import org.apache.spark.sql.functions._
    // the funnel test's fixture: boilerplate lines + planted clones
    val docs = (0 until 60).map { i =>
      val body =
        if (i % 6 == 5) (0 until 60).map(j => s"w${(i - 1) * 7 + j}").mkString(" ") + " tail"
        else (0 until 60).map(j => s"w${i * 7 + j}").mkString(" ")
      (i.toLong, s"BOILER HEADER\n$body\nBOILER FOOTER", s"src${i % 2}")
    }.toDF("doc_id", "text", "source")
    val reasons = Curation.rejectReasons(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("rejected_at"))
    // exactly one attribution per raw doc
    assert(reasons.length == 60 && reasons.map(_._1).distinct.length == 60)
    val byStage = reasons.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    // attribution counts must equal the funnel's stage-to-stage deltas
    val f = Curation.funnel(docs).collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    val order = Seq("1_raw", "2_quality", "3_line_dedup", "4_near_dedup",
      "5_decontam", "6_dsir_sample")
    for (Seq(a, b) <- order.sliding(2))
      assert(byStage.getOrElse(b, 0L) == f(a) - f(b),
        s"delta mismatch at $b: $byStage vs $f")
    assert(byStage.getOrElse("kept", 0L) == f("6_dsir_sample"))
  }

  test("incremental curation: corpus seniority, merged-dim line dedup, batch product") {
    import org.apache.spark.sql.functions._
    // corpus: 40 quality docs with boilerplate lines (df 40 ≥ 5)
    def body(i: Long): String = (0 until 60).map(j => s"w${i * 7 + j}").mkString(" ")
    val corpus = (0L until 40L)
      .map(i => (i, s"BOILER HEADER\n${body(i)}\nBOILER FOOTER", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    val state = Curation.stateOf(corpus)
    // batch: a near-clone of corpus doc 3 (corpus seniority must drop
    // it), two fresh docs, and a doc whose lines carry the corpus
    // boilerplate (the merged dim must strip it)
    val batch = Seq(
      (1003L, body(3) + " tail", "src0"),
      (1100L, s"BOILER HEADER\n${body(100)}\nBOILER FOOTER", "src0"),
      (1101L, body(200), "src1"))
      .toDF("doc_id", "text", "source")
    val st = Curation.incrementalStages(batch, state)
    val b3 = st.lineDeduped.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // merged-dim line dedup stripped the corpus boilerplate from the
    // batch doc even though the batch alone never reaches df 5
    assert(b3(1100L) == body(100))
    // corpus seniority: the clone of corpus doc 3 is gone after
    // near-dedup, the fresh docs survive
    val b4 = st.nearDeduped.select($"doc_id").as[Long].collect().toSet
    assert(!b4.contains(1003L) && b4.contains(1100L) && b4.contains(1101L))
    // the product carries pack assignments for exactly the sampled docs
    val prod = Curation.curateIncremental(batch, state)
    assert(prod.columns.toSet == Set("doc_id", "text", "source",
      "shard", "n_tokens", "bin_id", "bin_offset"))
    assert(prod.count() == st.sampled.count())
  }

  test("dsirKeep: decimal cross-multiply is exact where int64 wraps") {
    import org.apache.spark.sql.functions._
    // Planted masses near Long.MaxValue: every cross-product
    // (mass · Σmass ≈ 2e37) wraps an int64 many times over, so a long
    // comparison would pick arbitrary survivors. The decimal path must
    // agree with exact BigInt arithmetic.
    val planted = Seq(
      (1L, 4000000000000000000L, 1000000000000000000L), // ratio 4
      (2L, 1000000000000000000L, 4000000000000000000L), // ratio 1/4
      (3L, 2500000000000000000L, 2500000000000000000L), // ratio 1
      (4L, 2500000000000000001L, 2500000000000000000L)) // just above 1
    val masses = planted.toDF("doc_id", "tmass", "rmass")
    val st = planted.map(p => BigInt(p._2)).sum
    val sr = planted.map(p => BigInt(p._3)).sum
    val expected = planted
      .filter(p => BigInt(p._2) * sr >= BigInt(p._3) * st)
      .map(_._1).toSet
    assert(expected == Set(1L, 4L), "sanity: BigInt oracle is selective")
    val kept = Curation.dsirKeep(masses)
      .as[Long].collect().toSet
    assert(kept == expected)
    // Past the decimal(38,0) product domain the operator must fail
    // loudly, never silently drop: 1e25-scale masses give 2e50
    // cross-products (> 1e38 → null under non-ANSI decimal multiply).
    val huge = spark.range(1, 3).selectExpr(
      "id AS doc_id",
      "CAST('10000000000000000000000000' AS DECIMAL(38,0)) + id AS tmass",
      "CAST('10000000000000000000000000' AS DECIMAL(38,0)) AS rmass")
    val ex = intercept[Exception] {
      Curation.dsirKeep(huge).collect()
    }
    // Under ANSI (Spark 4 default) the decimal multiply itself raises
    // ARITHMETIC_OVERFLOW; under non-ANSI the operator's raise_error
    // guard fires on the null product. Either way: loud, never silent.
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(m =>
      m.contains("dsirKeep") || m.toLowerCase.contains("overflow")),
      s"got: $ex")
  }

  test("advanceState ≡ stateOf over the grown corpus (fixture without cross-boundary df flips)") {
    import org.apache.spark.sql.functions._
    def body(i: Long): String =
      (0 until 60).map(j => s"w${i * 7 + j}").mkString(" ")
    val corpus = (0L until 40L)
      .map(i => (i, s"BOILER HEADER\n${body(i)}\nBOILER FOOTER", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    val batch = Seq(
      (1100L, s"BOILER HEADER\n${body(100)}\nBOILER FOOTER", "src0"),
      (1101L, body(200), "src1")).toDF("doc_id", "text", "source")
    val adv = Curation.advanceState(Curation.stateOf(corpus), batch)
    val full = Curation.stateOf(corpus.unionByName(batch))
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(adv.corpusText) == rows(full.corpusText))
    assert(rows(adv.lineDim) == rows(full.lineDim))
    assert(rows(adv.benchGrams) == rows(full.benchGrams))
    assert(rows(adv.dsirDim) == rows(full.dsirDim))
    assert(rows(adv.dsirGlob) == rows(full.dsirGlob))
  }

  test("curation maintenance: micro-batches curate against versioned state; crash replay reproduces output") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    def body(i: Long): String =
      (0 until 60).map(j => s"w${i * 7 + j}").mkString(" ")
    val corpus = (0L until 40L)
      .map(i => (i, s"BOILER HEADER\n${body(i)}\nBOILER FOOTER", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    val dir = Files.createTempDirectory("cur_maint").toString
    val (stateDir, outDir, srcDir, ckpt) =
      (s"$dir/state", s"$dir/out", s"$dir/src", s"$dir/ckpt")
    new java.io.File(srcDir).mkdirs()
    Curation.writeState(Curation.stateOf(corpus), stateDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType)))
    def doc(id: Long, text: String, src: String): String =
      s"""{"doc_id":$id,"text":"${text.replace("\n", "\\n")}","source":"$src"}"""
    // batch 0: a clone of CORPUS doc 3 (seniority vs v0) + two fresh
    Files.write(Paths.get(s"$srcDir/b1.json"), Seq(
      doc(1003L, body(3) + " tail", "src0"),
      doc(1100L, s"BOILER HEADER\n${body(100)}\nBOILER FOOTER", "src0"),
      doc(1101L, body(200), "src0")).mkString("\n").getBytes)
    val q1 = MicroBatches.start(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(srcDir), ckpt, 100L) {
      (b, id) => Curation.maintenanceStep(b, id, stateDir, outDir)
    }
    q1.processAllAvailable()
    // batch 1: a clone of BATCH-0 doc 1100 — only an ADVANCED state
    // can drop it — plus one fresh doc
    Files.write(Paths.get(s"$srcDir/b2.json"), Seq(
      doc(2100L, body(100) + " tail", "src0"),
      doc(2101L, body(300), "src0")).mkString("\n").getBytes)
    q1.processAllAvailable(); q1.stop()
    def productIds(batch: Int): Set[Long] =
      spark.read.parquet(s"$outDir/batch-$batch")
        .select($"doc_id").as[Long].collect().toSet
    val (p0, p1) = (productIds(0), productIds(1))
    assert(!p0.contains(1003L), "corpus clone must not ship")
    assert(!p1.contains(2100L),
      "batch-0 clone must be dropped by the ADVANCED state")
    assert(p1.contains(2101L), "fresh doc must survive batch 1")
    // state versions: v0 pruned, latest carries the producing batch id
    val names = new java.io.File(stateDir).listFiles().map(_.getName)
      .filter(_.startsWith("v")).sorted.toSeq
    assert(names == Seq("v1_b0", "v2_b1"), s"got $names")
    // crash replay of batch 1 (against the PRIOR version: identical
    // product, no second advance): MicroBatchReplaySpec
  }

  test("composed corpus maintenance: curation -> featurize -> index append; crash replay consistent across BOTH states") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    def body(i: Long): String =
      (0 until 60).map(j => s"w${i * 7 + j}").mkString(" ")
    val corpus = (0L until 40L)
      .map(i => (i, s"BOILER HEADER\n${body(i)}\nBOILER FOOTER", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    val dir = Files.createTempDirectory("corpus_maint").toString
    val (stateDir, outDir, idxDir, srcDir, ckpt) =
      (s"$dir/state", s"$dir/out", s"$dir/idx", s"$dir/src", s"$dir/ckpt")
    val (sq8Dir, bqDir) = (s"$dir/sq8", s"$dir/bq")
    val pfxDir = s"$dir/prefix"
    val pivfDir = s"$dir/prefixivf"
    new java.io.File(srcDir).mkdirs()
    val st0 = Curation.stateOf(corpus)
    Curation.writeState(st0, stateDir)
    // indexes bootstrapped over the SAME featurization of the state's
    // curated text — the composed job's contract (primary + sidecars)
    val bootVecs = TextOps.hashEmbedVectors(
      Curation.readState(spark, stateDir).corpusText).localCheckpoint()
    Similarity.writeIvfIndex(bootVecs, idxDir, nlist = 4, iters = 2)
    Similarity.writeSq8Index(bootVecs, sq8Dir)
    Similarity.writeBqIndex(bootVecs, bqDir)
    Similarity.writePrefixIndex(bootVecs, pfxDir, prefixDim = 16)
    Similarity.writePrefixIvfIndex(bootVecs, pivfDir, prefixDim = 16,
      nlist = 4, iters = 2)
    val n0 = Similarity.indexedCorpusCount(spark, idxDir)
    val sq8N0 = spark.read.parquet(s"${iroot(sq8Dir)}/codes").count()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType)))
    def doc(id: Long, text: String, src: String): String =
      s"""{"doc_id":$id,"text":"${text.replace("\n", "\\n")}","source":"$src"}"""
    Files.write(Paths.get(s"$srcDir/b1.json"), Seq(
      doc(1003L, body(3) + " tail", "src0"),
      doc(1100L, s"BOILER HEADER\n${body(100)}\nBOILER FOOTER", "src0"),
      doc(1101L, body(200), "src0")).mkString("\n").getBytes)
    def startStream() = Curation.startCorpusMaintenance(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(srcDir),
      stateDir, outDir, idxDir, ckpt,
      maxDriftRatio = 100.0, sq8Dir = Some(sq8Dir), bqDir = Some(bqDir),
      prefixDir = Some(pfxDir), prefixIvfDir = Some(pivfDir),
      triggerMs = 100L)
    val q1 = startStream()
    q1.processAllAvailable()
    Files.write(Paths.get(s"$srcDir/b2.json"), Seq(
      doc(2100L, body(100) + " tail", "src0"),
      doc(2101L, body(300), "src0")).mkString("\n").getBytes)
    q1.processAllAvailable(); q1.stop()
    def productIds(batch: Int): Set[Long] =
      spark.read.parquet(s"$outDir/batch-$batch")
        .select($"doc_id").as[Long].collect().toSet
    val (p0, p1) = (productIds(0), productIds(1))
    assert(p0.nonEmpty && p1.nonEmpty)
    // the index received EXACTLY the published products, once each
    def appendedIds(): Seq[Long] = spark.read.parquet(s"${iroot(idxDir)}/lists")
      .filter($"vec_id" >= 1000L).select($"vec_id").as[Long].collect().toSeq
    assert(appendedIds().sorted == (p0 ++ p1).toSeq.sorted,
      s"index rows ${appendedIds()} != products ${p0 ++ p1}")
    // stats track both states: baseline + the two committed batches
    assert(Similarity.indexedCorpusCount(spark, idxDir)
      == n0 + p0.size + p1.size)
    // sidecar legs landed the same products exactly once each
    def sidecarIds(sub: String): Seq[Long] =
      spark.read.parquet(sub).filter($"vec_id" >= 1000L)
        .select($"vec_id").as[Long].collect().toSeq
    assert(sidecarIds(s"${iroot(sq8Dir)}/codes").sorted == (p0 ++ p1).toSeq.sorted)
    assert(sidecarIds(s"${iroot(bqDir)}/bits").sorted == (p0 ++ p1).toSeq.sorted)
    // the prefix leg advanced BOTH its sublayouts under the batch ids
    assert(sidecarIds(s"${iroot(pfxDir)}/prefix").sorted
      == (p0 ++ p1).toSeq.sorted)
    assert(sidecarIds(s"${iroot(pfxDir)}/full").sorted
      == (p0 ++ p1).toSeq.sorted)
    // ...and the IVF-pruned prefix leg: both sublayouts + stats
    assert(sidecarIds(s"${iroot(pivfDir)}/prefix").sorted
      == (p0 ++ p1).toSeq.sorted)
    assert(sidecarIds(s"${iroot(pivfDir)}/full").sorted
      == (p0 ++ p1).toSeq.sorted)
    assert(Similarity.indexedCorpusCount(spark, pivfDir)
      == n0 + p0.size + p1.size,
      "prefix-IVF stats must track baseline + both committed batches")
    assert(spark.read.parquet(s"${iroot(sq8Dir)}/codes").count()
      == sq8N0 + p0.size + p1.size)
    // probe-visibility through the composed featurization: a product
    // doc's own hash-embedding finds it at cosine 1.0
    val someId = p1.head
    val qv = spark.read.parquet(s"${iroot(idxDir)}/lists")
      .filter($"vec_id" === someId)
      .select($"embedding").as[Array[Float]].head()
    val hits = Similarity.ivfSearchIndexed(spark, idxDir,
      Seq((9000L, qv)), k = 1, nprobe = 4)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    assert(hits.head == ((someId, 1.0)), s"got ${hits.toSeq}")
    // ...and through the SQ8 sidecar scan (the state's curated text
    // contains every product doc, so it serves as the rerank corpus)
    val sqHit = Similarity.sq8SearchIndexed(spark, sq8Dir,
      TextOps.hashEmbedVectors(
        Curation.readState(spark, stateDir).corpusText),
      Seq((9100L, qv)), k = 2)
      .select($"vec_id").as[Long].collect().toSet
    assert(sqHit.contains(someId), s"sq8 sidecar probe missed: $sqHit")
    // ...and through the matryoshka funnel (prefix cut + exact rerank)
    val pfxHit = Similarity.prefixSearchIndexed(spark, pfxDir,
      Seq((9200L, qv)), cand = 5, k = 1)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    assert(pfxHit.head == ((someId, 1.0)), s"prefix probe: ${pfxHit.toSeq}")
    // ...and through the PRUNED matryoshka funnel (exhaustive probe
    // so the planted row cannot hide in an unprobed list)
    val pivfHit = Similarity.prefixIvfSearchIndexed(spark, pivfDir,
      Seq((9300L, qv)), nprobe = 4, cand = 5, k = 1)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    assert(pivfHit.head == ((someId, 1.0)),
      s"prefix-IVF probe: ${pivfHit.toSeq}")
    // ---- crash between sink commit and checkpoint commit: batch 1
    // replays END TO END; neither state may double-apply
    val vBefore = new java.io.File(stateDir).listFiles().map(_.getName)
      .filter(_.startsWith("v")).sorted.toSeq
    assert(Files.deleteIfExists(Paths.get(s"$ckpt/commits/1")))
    Files.deleteIfExists(Paths.get(s"$ckpt/commits/.1.crc"))
    val q2 = startStream()
    q2.processAllAvailable(); q2.stop()
    assert(productIds(1) == p1, "replayed product must be identical")
    val vAfter = new java.io.File(stateDir).listFiles().map(_.getName)
      .filter(_.startsWith("v")).sorted.toSeq
    assert(vAfter == vBefore, s"replay double-advanced state: $vAfter")
    assert(appendedIds().sorted == (p0 ++ p1).toSeq.sorted,
      "replay double-appended the index")
    assert(Similarity.indexedCorpusCount(spark, idxDir)
      == n0 + p0.size + p1.size, "replay double-counted stats")
    assert(sidecarIds(s"${iroot(sq8Dir)}/codes").sorted == (p0 ++ p1).toSeq.sorted &&
      sidecarIds(s"${iroot(bqDir)}/bits").sorted == (p0 ++ p1).toSeq.sorted,
      "replay double-appended a sidecar")
    assert(sidecarIds(s"${iroot(pivfDir)}/prefix").sorted
      == (p0 ++ p1).toSeq.sorted &&
      Similarity.indexedCorpusCount(spark, pivfDir)
        == n0 + p0.size + p1.size,
      "replay double-appended the prefix-IVF leg")
    // ---- crash BEFORE the marker (the not-yet-committed half of the
    // append): deleting the marker simulates it — the replay re-moves
    // deterministically named files over the stale ones, never doubles
    assert(Files.deleteIfExists(Paths.get(s"${iroot(idxDir)}/_commits/batch-1")))
    val feats1 = TextOps.hashEmbedVectors(
      spark.read.parquet(s"$outDir/batch-1"))
      .select($"vec_id", $"embedding")
    Similarity.appendToIvfIndexCommitted(spark, idxDir, feats1, 1L,
      maxDriftRatio = 100.0)
    assert(appendedIds().sorted == (p0 ++ p1).toSeq.sorted,
      "pre-marker replay doubled list rows")
    assert(Similarity.indexedCorpusCount(spark, idxDir)
      == n0 + p0.size + p1.size, "pre-marker replay doubled stats")
    // fully committed batch: the whole call is a no-op
    Similarity.appendToIvfIndexCommitted(spark, idxDir, feats1, 1L,
      maxDriftRatio = 100.0)
    assert(appendedIds().sorted == (p0 ++ p1).toSeq.sorted)
  }

  test("corpus maintenance: a pluggable featurizer rides the committed lifecycle; the bm25 and gram legs advance under the same batch id") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    def body(i: Long): String =
      (0 until 60).map(j => s"w${i * 7 + j}").mkString(" ")
    val corpus = (0L until 20L)
      .map(i => (i, s"BOILER HEADER\n${body(i)}\nBOILER FOOTER", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    val dir = Files.createTempDirectory("corpus_maint_feat").toString
    val (stateDir, outDir, idxDir, srcDir, ckpt, bmDir) =
      (s"$dir/state", s"$dir/out", s"$dir/idx", s"$dir/src",
        s"$dir/ckpt", s"$dir/bm25")
    val gmDir = s"$dir/gram"
    new java.io.File(srcDir).mkdirs()
    Curation.writeState(Curation.stateOf(corpus), stateDir)
    // a planted NON-HASH encoder: dim 4, a pure function of doc_id —
    // provably not the built-in hashEmbedVectors (dim 64)
    val enc: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.select($"doc_id".as("vec_id"),
        array($"doc_id".cast("float"), lit(1.0f),
          ($"doc_id" % 7).cast("float"), lit(0.5f)).as("embedding"))
    val stateText = Curation.readState(spark, stateDir).corpusText
    Similarity.writeIvfIndex(enc(stateText).select($"vec_id", $"embedding"),
      idxDir, nlist = 2, iters = 2)
    TextOps.writeBm25Index(stateText, bmDir, nBuckets = 8)
    TextOps.writeGramIndex(stateText, gmDir, n = 8, nBuckets = 8)
    val statsBefore = TextOps.readBm25Stats(spark, bmDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType)))
    def doc(id: Long, text: String, src: String): String =
      s"""{"doc_id":$id,"text":"${text.replace("\n", "\\n")}","source":"$src"}"""
    Files.write(Paths.get(s"$srcDir/b1.json"), Seq(
      doc(1100L, s"BOILER HEADER\n${body(100)}\nBOILER FOOTER", "src0"),
      doc(1101L, body(200), "src0")).mkString("\n").getBytes)
    def startStream() = Curation.startCorpusMaintenance(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(srcDir),
      stateDir, outDir, idxDir, ckpt,
      maxDriftRatio = 1e9, bm25Dir = Some(bmDir),
      gramDir = Some(gmDir), featurizer = Some(enc), triggerMs = 100L)
    val q1 = startStream()
    q1.processAllAvailable(); q1.stop()
    val p0 = spark.read.parquet(s"$outDir/batch-0")
      .select($"doc_id").as[Long].collect().toSet
    assert(p0 == Set(1100L, 1101L), s"products: $p0")
    // the CUSTOM encoder's vectors are what landed in the dense index
    val got = spark.read.parquet(s"${iroot(idxDir)}/lists")
      .filter($"vec_id" === 1101L)
      .select($"embedding").as[Array[Float]].head()
    assert(got.toSeq == Seq(1101.0f, 1.0f, (1101 % 7).toFloat, 0.5f),
      s"custom featurizer did not ride the append: ${got.toSeq}")
    // the lexical leg advanced under the same batch id: marker, stats,
    // and a product doc retrievable by its own (unique-token) text
    assert(new java.io.File(s"${iroot(bmDir)}/_commits/batch-0").exists)
    assert(TextOps.readBm25Stats(spark, bmDir)._1
      == statsBefore._1 + p0.size)
    val ptext = spark.read.parquet(s"$outDir/batch-0")
      .filter($"doc_id" === 1101L).select($"text").as[String].head()
    val hit = TextOps.bm25SearchIndexed(spark, bmDir,
      Seq((9000L, ptext)).toDF("query_id", "text"), k = 1)
      .select($"doc_id").as[Long].head()
    assert(hit == 1101L, s"lexical probe missed the product doc: $hit")
    // the gram leg advanced too: marker present, and a "benchmark"
    // built from the product doc's own leading 8-gram screens
    // against the index with no corpus scan
    assert(new java.io.File(s"${iroot(gmDir)}/_commits/batch-0").exists)
    val leak8 = ptext.split("\\s+").take(8).mkString(" ")
    def screen() = TextOps.contaminationIndexed(spark, gmDir,
      Seq((9500L, leak8)).toDF("doc_id", "text"))
      .filter($"doc_id" === 1101L)
      .select($"matched_ngrams").as[Long].collect().toSeq
    assert(screen() == Seq(1L), s"gram screen: ${screen()}")
    // crash-replay: all legs short-circuit on their markers
    assert(Files.deleteIfExists(Paths.get(s"$ckpt/commits/0")))
    Files.deleteIfExists(Paths.get(s"$ckpt/commits/.0.crc"))
    val q2 = startStream()
    q2.processAllAvailable(); q2.stop()
    assert(TextOps.readBm25Stats(spark, bmDir)._1
      == statsBefore._1 + p0.size, "replay double-counted bm25 stats")
    assert(spark.read.parquet(s"${iroot(idxDir)}/lists")
      .filter($"vec_id" >= 1000L).count() == p0.size,
      "replay double-appended the dense index")
    assert(screen() == Seq(1L),
      "replay double-appended the gram postings")
  }

  test("coverageSample: every populated cell capped at perCell, ranks contiguous nearest-first") {
    val emb = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val perCell = 5
    val sample = Similarity.coverageSample(emb, nlist = 4, iters = 2,
      perCell = perCell).collect()
    val byCell = sample.groupBy(_.getLong(0))
    assert(byCell.nonEmpty && byCell.values.forall(_.length <= perCell))
    byCell.values.foreach { rows =>
      val ranks = rows.map(_.getLong(3)).sorted.toSeq
      assert(ranks == (1L to rows.length.toLong), s"ranks $ranks")
      // nearest-first: dist non-decreasing with rank
      val d = rows.sortBy(_.getLong(3)).map(_.getDouble(2)).toSeq
      assert(d == d.sorted, s"dists not ascending: $d")
    }
    // balanced by construction: a global top-(cells × perCell) cut
    // would be free to drain one cluster; here no cell exceeds perCell
    assert(sample.length <= 4 * perCell)
    // plan shape: bounded CollectTopK aggregate, no Window
    val plan = Similarity.coverageSample(emb, 4, 2, perCell)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && plan.contains("collect_top_k"))
  }

  test("hashEmbed: hand-checked bucket counts, scan-local (no Exchange), ANN-compatible") {
    val docs = Seq((1L, "a b a", "s1"), (2L, "", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.hashEmbed(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getSeq[Long](3))).toMap
    // doc 1: tokens a, b, a — 3 tokens, counts sum 3, bucket("a") twice
    val (n1, c1) = out(1L)
    assert(n1 == 3L && c1.sum == 3L && c1.max == 2L && c1.count(_ > 0) == 2)
    // empty text tokenizes to one empty token (split semantics) — the
    // oracle replays the same, so the engine must not special-case it
    val (n2, c2) = out(2L)
    assert(n2 == 1L && c2.sum == 1L)
    // featurization is scan-local: no Exchange anywhere in the plan
    val plan = TextOps.hashEmbed(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // cosine of a doc against itself through the ANN path is 1
    val emb = TextOps.hashEmbed(docs.unionByName(
        Seq((3L, "a b a", "s1")).toDF("doc_id", "text", "source")))
      .select(col("doc_id").as("vec_id"), col("source").as("label"),
        transform(col("counts"), _.cast("float")).as("embedding"))
    val knn = Similarity.bruteForceTopK(emb, Seq(1L), k = 1).collect()
    assert(knn.head.getAs[Long]("vec_id") == 3L &&
      knn.head.getAs[Double]("cos_sim") == 1.0)
  }

  test("compactIvfIndex: one file per list, identical probes, markers retained as replay guards") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(31)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val corpus = (0L until 40L).map(i => (i, vec()))
    val dir = java.nio.file.Files.createTempDirectory("ivf-compact").toString
    Similarity.writeIvfIndex(corpus.toDF("vec_id", "embedding"), dir,
      nlist = 4, iters = 2)
    // three committed appends — the daily decay
    Similarity.appendToIvfIndexCommitted(spark, dir,
      (100L until 105L).map(i => (i, vec())).toDF("vec_id", "embedding"), 0L)
    Similarity.appendToIvfIndexCommitted(spark, dir,
      (200L until 205L).map(i => (i, vec())).toDF("vec_id", "embedding"), 1L)
    Similarity.appendToIvfIndexCommitted(spark, dir,
      (300L until 305L).map(i => (i, vec())).toDF("vec_id", "embedding"), 2L)
    def filesPerList(): Map[String, Int] =
      new java.io.File(s"${iroot(dir)}/lists").listFiles()
        .filter(_.getName.startsWith("cid="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(filesPerList().values.max > 1, "fixture must show file decay")
    val qv = corpus(5)._2
    val before = Similarity.ivfSearchIndexed(spark, dir, Seq((900L, qv)),
      k = 5, nprobe = 4).collect().toSeq
    val nBefore = Similarity.indexedCorpusCount(spark, dir)

    IndexGen.compact(spark, dir)
    assert(filesPerList().values.forall(_ == 1),
      s"compaction must leave one file per list: ${filesPerList()}")
    val after = Similarity.ivfSearchIndexed(spark, dir, Seq((900L, qv)),
      k = 5, nprobe = 4).collect().toSeq
    assert(after == before, "compaction must not change probe results")
    assert(Similarity.indexedCorpusCount(spark, dir) == nBefore)
    // markers survive: a post-compaction replay of a committed batch
    // is still a marker-detected no-op (folding them away would let
    // the replay double-append)
    val rows0 = spark.read.parquet(s"${iroot(dir)}/lists").count()
    Similarity.appendToIvfIndexCommitted(spark, dir,
      (200L until 205L).map(i => (i, vec())).toDF("vec_id", "embedding"), 1L)
    assert(spark.read.parquet(s"${iroot(dir)}/lists").count() == rows0,
      "replay after compaction double-appended")
    // a NEW batch still lands normally on the compacted layout
    Similarity.appendToIvfIndexCommitted(spark, dir,
      (400L until 403L).map(i => (i, vec())).toDF("vec_id", "embedding"), 3L)
    assert(Similarity.indexedCorpusCount(spark, dir) == nBefore + 3)

    // sidecar compaction: same swap discipline on the flat layout
    val sq8 = java.nio.file.Files.createTempDirectory("sq8-compact").toString
    Similarity.writeSq8Index(corpus.toDF("vec_id", "embedding"), sq8)
    Similarity.appendToSq8IndexCommitted(spark, sq8,
      (500L until 505L).map(i => (i, vec())).toDF("vec_id", "embedding"), 1L)
    def codeFiles(): Int = new java.io.File(s"${iroot(sq8)}/codes").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(codeFiles() > 1)
    val codesBefore = spark.read.parquet(s"${iroot(sq8)}/codes")
      .orderBy($"vec_id").collect().toSeq
    IndexGen.compact(spark, sq8)
    assert(codeFiles() == 1, s"expected one file, got ${codeFiles()}")
    assert(spark.read.parquet(s"${iroot(sq8)}/codes").orderBy($"vec_id")
      .collect().toSeq == codesBefore, "sidecar compaction changed content")
    // marker retained: replay of the committed batch is still a no-op
    Similarity.appendToSq8IndexCommitted(spark, sq8,
      (500L until 505L).map(i => (i, vec())).toDF("vec_id", "embedding"), 1L)
    assert(spark.read.parquet(s"${iroot(sq8)}/codes").count() == 45L)
  }

  test("knnJoinIndexed ≡ ivfSearchIndexed on the same queries; appended rows visible; no cartesian") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val idx = Similarity.ensureIvfIndex(spark, s"$dir/embeddings.parquet", emb)
    val q = emb.filter($"vec_id" % 50 === 0)
    val qvecs = q.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    assert(qvecs.nonEmpty)
    val viaTable = Similarity.knnJoinIndexed(spark, idx, q, k = 5, nprobe = 2)
    val viaList = Similarity.ivfSearchIndexed(spark, idx, qvecs, k = 5,
      nprobe = 2)
    assert(viaTable.exceptAll(viaList).isEmpty &&
      viaList.exceptAll(viaTable).isEmpty,
      "table-vs-index join must equal the driver-list probe")
    // plan: equi-join against the lists, never a cartesian/BNLJ, and
    // the per-query ranking is the bounded CollectTopK aggregate
    val plan = viaTable.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(2000))
    assert(plan.contains("collect_top_k") && !plan.contains("Window"))
    // an appended batch is probe-visible through the table form
    val tmpIdx = java.nio.file.Files.createTempDirectory("knni").toString
    Similarity.writeIvfIndex(emb, tmpIdx, nlist = 4, iters = 2)
    val rnd = new scala.util.Random(29)
    val nv = emb.select($"embedding").as[Array[Float]].head()
      .map(x => x + rnd.nextGaussian().toFloat * 0.001f)
    Similarity.appendToIvfIndexCommitted(spark, tmpIdx,
      Seq((7777L, nv)).toDF("vec_id", "embedding"), 1L)
    // k = 2: the appended row ties its source vector at rounded cos
    // 1.0 and the id tie-break ranks the original first
    val hits = Similarity.knnJoinIndexed(spark, tmpIdx,
      Seq((8888L, nv)).toDF("vec_id", "embedding"), k = 2, nprobe = 2)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect().toSet
    assert(hits.contains((7777L, 1.0)), s"got $hits")
  }

  test("langIdLinear: planted languages recovered; exact tie to smaller class; und for no-overlap/empty") {
    import org.apache.spark.sql.functions._
    // three toy languages with mostly-disjoint vocab plus a shared
    // function word ("im") that appears in two classes — the
    // classifier must win on frequency mass, not token presence
    val labeled = Seq(
      ("en", "the cat sat on the mat the end"),
      ("en", "the dog ran to the door"),
      ("fr", "le chat est sur le tapis im"),
      ("fr", "le chien court vers la porte"),
      ("de", "die katze sass auf der matte im"),
      ("de", "der hund lief zur tuer jetzt")).toDF("lang", "text")
    val docs = Seq(
      (1L, "the cat sat"),          // en
      (2L, "le chat est la"),       // fr
      (3L, "der hund und die katze"), // de
      (4L, "zzz qqq www"),          // no overlap -> und
      (5L, ""),                     // empty -> und
      (6L, "im")                    // shared word: fr vs de by exact ratio
    ).toDF("doc_id", "text")
    val got = TextOps.langIdLinear(docs, labeled)
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "fr" && got(3L) == "de")
    assert(got(4L) == "und" && got(5L) == "und")
    // doc 6: "im" has ctf 1 in fr (n=13) and 1 in de (n=13) — exact
    // rational tie, broken to the lexicographically smaller class
    assert(got(6L) == "de", s"tie must break to the smaller class: $got")
    // the tie really is exact: both classes have 13 training tokens
    val counts = labeled
      .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("lang")).count().as[(String, Long)].collect().toMap
    assert(counts("fr") == counts("de"), s"fixture drifted: $counts")
  }

  test("bm25TopK: hand-computed scores, self excluded, non-matching absent") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (0L, "apple banana"),        // the query doc
      (1L, "apple apple apple"),   // tf mass on one term
      (2L, "apple banana cherry"), // matches both query terms
      (3L, "durian elderberry"),   // no overlap — must not appear
      (4L, "banana")               // short doc, dl < avgdl
    ).toDF("doc_id", "text").withColumn("source", lit("t"))
    val got = TextOps.bm25TopK(docs, Seq(0L), k = 5)
      .select($"rank", $"doc_id", $"matched_terms", $"score")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // expected via the same double expression tree (N=5, avgdl=11/5,
    // df(apple)=df(banana)=3, Lucene idf, k1=1.2, b=0.75)
    val (n, avgdl, k1, b) = (5.0, 11.0 / 5.0, 1.2, 0.75)
    val idf = math.log(1.0 + (n - 3 + 0.5) / (3 + 0.5))
    def term(tf: Long, dl: Long): Double =
      idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp = Seq(
      (1L, 2L, 2L, r4(term(1, 3) + term(1, 3))), // both terms match
      (2L, 1L, 1L, r4(term(3, 3))),              // apple tf=3
      (3L, 4L, 1L, r4(term(1, 1))))              // banana, short doc
    assert(got == exp, s"got $got expected $exp")
  }

  test("hybridRrfTopK: integer RRF fusion, both-list docs outrank single-list, absent ranks are 0") {
    import org.apache.spark.sql.functions._
    // doc 1 dominates BOTH retrievals for query 0 (near-identical
    // text); doc 2 is lexical-only overlap ("banana" without the
    // apple mass), doc 3 disjoint from the query
    val docs = Seq(
      (0L, "apple banana apple banana"),
      (1L, "apple banana apple cherry"),
      (2L, "banana durian durian durian"),
      (3L, "elderberry fig grape")
    ).toDF("doc_id", "text").withColumn("source", lit("t"))
    val got = TextOps.hybridRrfTopK(docs, Seq(0L), k = 3)
      .select($"rank", $"doc_id", $"lex_rank", $"dense_rank", $"rrf_ppb")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc 1 is rank 1 in both lists -> 2 * (1e9 // 61)
    assert(got.head == ((1L, 1L, 1L, 1L, 2L * (1000000000L / 61L))),
      s"got $got")
    // every fused score is a sum of the exact ppb terms of its ranks
    got.foreach { case (_, _, lr, dr, s) =>
      val exp = (if (lr > 0) 1000000000L / (60 + lr) else 0L) +
        (if (dr > 0) 1000000000L / (60 + dr) else 0L)
      assert(s == exp, s"ppb drift: lr=$lr dr=$dr s=$s exp=$exp")
    }
    // doc 3 shares no terms and no buckets' mass with the query at
    // rank depth 3 of a 3-doc candidate set — it can only appear via
    // the dense tail; doc 1 and 2 must both be present
    assert(got.map(_._2).take(2).toSet == Set(1L, 2L), s"got $got")
  }

  test("collapseTokenRuns: runs collapse, non-adjacent repeats survive, md5 is of the rejoined text") {
    import org.apache.spark.sql.functions._
    def m(sx: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(sx.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = Seq(
      (0L, "a a a b b a"),  // runs collapse; the non-adjacent a stays
      (1L, "x y z"),        // no runs: identity
      (2L, "q")             // single token
    ).toDF("doc_id", "text").withColumn("source", lit("t"))
    val got = TextOps.collapseTokenRuns(docs)
      .as[(Long, Long, Long, String)].collect().toSeq
    val exp = Seq(
      (0L, 6L, 3L, m("a b a")),
      (1L, 3L, 3L, m("x y z")),
      (2L, 1L, 1L, m("q")))
    assert(got == exp, s"got $got")
  }

  test("docClusters: partition of the corpus, dominant source consistent") {
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    val out = TextOps.docClusters(docs, nlist = 4, iters = 2).collect()
    assert(out.map(_.getLong(1)).sum == docs.count())
    out.foreach { r =>
      assert(r.getLong(4) <= r.getLong(1)) // top-source count ≤ cluster size
    }
    // cluster ids are a subset of 0..3 and distinct
    val ids = out.map(_.getLong(0)).toSeq
    assert(ids == ids.distinct.sorted && ids.forall(i => i >= 0 && i < 4))
  }

  test("coverageSampleIndexed ≡ coverageSample at the index geometry; partition-pruned scan") {
    val dir = sf("sf0.001")
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val idx = Similarity.ensureIvfIndex(spark, s"$dir/embeddings.parquet", emb)
    val viaIndex = Similarity.coverageSampleIndexed(spark, idx, perCell = 5)
    val oneShot = Similarity.coverageSample(emb, nlist = 16, iters = 3,
      perCell = 5)
    assert(viaIndex.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(viaIndex).isEmpty)
  }

  test("classPrototypes: medoid minimizes distance-to-centroid; singleton label is its own prototype") {
    val emb = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    // plant a singleton label: one known vector under label 99
    val one = emb.filter(col("vec_id") === 7)
      .withColumn("label", lit(99))
      .withColumn("vec_id", lit(100000L))
    val proto = Similarity.classPrototypes(emb.unionByName(one))
    val rows = proto.collect().map(r => r.getInt(0) ->
      (r.getLong(1), r.getLong(3), r.getDouble(4))).toMap
    // singleton: medoid is itself at distance 0, centroid = the vector
    val (n99, med99, d99) = rows(99)
    assert(n99 == 1L && med99 == 100000L && d99 == 0.0)

    // brute-force check one real label: the reported medoid beats (or
    // ties with lower id) every member's distance to the exact centroid
    val lbl = emb.select(min("label")).as[Int].head()
    val members = emb.filter(col("label") === lbl)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect()
    val dim = members.head._2.length
    val cent = Array.tabulate(dim) { i =>
      // mirror the engine: decimal-exact sum, then double divide
      val s = members.map(m => new java.math.BigDecimal(m._2(i).toDouble)
        .setScale(15, java.math.RoundingMode.HALF_UP))
        .reduce(_.add(_))
      s.doubleValue() / members.length
    }
    def dist(v: Array[Float]): Double = {
      var a = 0.0; var i = 0
      while (i < dim) { val d = v(i) - cent(i); a += d * d; i += 1 }
      a
    }
    val best = members.map { case (id, v) => (dist(v), id) }.min
    assert(rows(lbl)._2 == best._2,
      s"medoid ${rows(lbl)._2} != brute-force ${best._2}")
    // aggregate shape: no window anywhere in the plan
    assert(!proto.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("matryoshka prefix index: probe equals the one-shot rerank funnel; the stored prefix column is the at-rest byte win") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(41)
    val emb = (0L until 60L)
      .map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("prefix-idx").toString
    Similarity.writePrefixIndex(emb, dir, prefixDim = 16)
    val qvecs = emb.filter($"vec_id".isin(0L, 1L, 2L))
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    val probe = Similarity.prefixSearchIndexed(spark, dir, qvecs,
      cand = 10, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq
    val oneShot = Similarity.prefixRerankTopK(emb, Seq(0L, 1L, 2L),
      prefixDim = 16, cand = 10, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(probe == oneShot && probe.nonEmpty,
      s"probe $probe diverged from one-shot $oneShot")
    // the byte win is REAL at rest: the prefix sublayout is a
    // fraction of the full column's bytes (16/64 of the vector data;
    // vec_id and parquet framing overhead keep it above exactly 1/4)
    def bytes(sub: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(iroot(dir), sub))
    }
    assert(bytes("prefix") < bytes("full") / 2,
      s"prefix=${bytes("prefix")} full=${bytes("full")} — the stored " +
        "prefix must be a fraction of the full column")
    // dim-from-meta seam: the probe cannot disagree with the build
    assert(spark.read.parquet(s"${iroot(dir)}/meta").head().getInt(0) == 16)
    // committed append: both sublayouts advance under one marker; an
    // appended exact clone of a query vector ranks at 1.0 next probe
    val clone = Seq((500L, qvecs.head._2)).toDF("vec_id", "embedding")
    Similarity.appendToPrefixIndexCommitted(spark, dir, clone, 1L)
    val afterAppend = Similarity.prefixSearchIndexed(spark, dir,
      qvecs, cand = 10, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(afterAppend.head == ((0L, 500L, 1.0, 1L)),
      s"appended clone must rank first: ${afterAppend.take(3)}")
    assert(afterAppend ==
      Similarity.prefixRerankTopK(emb.union(clone), Seq(0L, 1L, 2L),
        prefixDim = 16, cand = 10, k = 5)
        .as[(Long, Long, Double, Long)].collect().toSeq,
      "append must equal the one-shot over the union")
    // replay: marker-detected no-op (no duplicate 500s in the probe)
    Similarity.appendToPrefixIndexCommitted(spark, dir, clone, 1L)
    assert(Similarity.prefixSearchIndexed(spark, dir, qvecs,
      cand = 10, k = 5).as[(Long, Long, Double, Long)]
      .collect().toSeq == afterAppend,
      "replaying a committed prefix append changed results")
    // wrong-dim batch fails at the seam with both dims named
    val bad = Seq((900L, Array.fill(32)(1.0f))).toDF("vec_id", "embedding")
    def chainHas(t: Throwable, m: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .exists(e => Option(e.getMessage).exists(_.contains(m)))
    val e = intercept[Exception] {
      Similarity.appendToPrefixIndexCommitted(spark, dir, bad, 2L)
    }
    assert(chainHas(e, "!= index dim 64"), e.getMessage)
  }

  test("IVF-pruned matryoshka: exhaustive probe equals the flat probe and the one-shot funnel bit-for-bit; pruning reads only probed lists; compaction preserves results") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(43)
    val emb = (0L until 80L)
      .map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("pivf-idx").toString
    Similarity.writePrefixIvfIndex(emb, dir, prefixDim = 16, nlist = 8,
      iters = 2)
    val qvecs = emb.filter($"vec_id".isin(0L, 1L, 2L))
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq.sortBy(_._1)
    // exhaustive probe (nprobe = nlist) ≡ flat prefix probe ≡ one-shot
    val exhaustive = Similarity.prefixIvfSearchIndexed(spark, dir,
      qvecs, nprobe = 8, cand = 10, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq
    val oneShot = Similarity.prefixRerankTopK(emb, Seq(0L, 1L, 2L),
      prefixDim = 16, cand = 10, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(exhaustive == oneShot && exhaustive.nonEmpty,
      s"exhaustive pivf probe $exhaustive diverged from one-shot $oneShot")
    val flatDir = java.nio.file.Files
      .createTempDirectory("pivf-flat").toString
    Similarity.writePrefixIndex(emb, flatDir, prefixDim = 16)
    assert(exhaustive == Similarity.prefixSearchIndexed(spark, flatDir,
      qvecs, cand = 10, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq,
      "exhaustive pivf probe diverged from the flat stored-prefix probe")
    // the layout is really list-partitioned: cid=K dirs on disk, and
    // a pruned probe's coarse candidates come only from probed lists
    val cidDirs = new java.io.File(iroot(dir), "prefix").listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName).sorted
    assert(cidDirs.nonEmpty && cidDirs.length <= 8,
      s"prefix sublayout must be cid-partitioned: ${cidDirs.toSeq}")
    // pruned probe: a strict-subset candidate pool can only lose
    // candidates relative to exhaustive, never invent them — every
    // (query, vec) it returns appears in the exhaustive top-cand pool
    val pruned = Similarity.prefixIvfSearchIndexed(spark, dir, qvecs,
      nprobe = 2, cand = 10, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(pruned.nonEmpty)
    val exhaustiveScores = exhaustive.map { case (q, v, s, _) =>
      (q, v) -> s
    }.toMap
    pruned.foreach { case (q, v, s, _) =>
      exhaustiveScores.get((q, v)).foreach(es => assert(es == s,
        s"pruned probe rescored ($q,$v): $s vs exhaustive $es"))
    }
    // compaction (generation advance) preserves both probe forms
    IndexGen.compact(spark, dir)
    assert(Similarity.prefixIvfSearchIndexed(spark, dir, qvecs,
      nprobe = 8, cand = 10, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq == exhaustive,
      "compaction changed the exhaustive probe")
    assert(Similarity.prefixIvfSearchIndexed(spark, dir, qvecs,
      nprobe = 2, cand = 10, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq == pruned,
      "compaction changed the pruned probe")
    // one file per list after compaction (small-files repair)
    val afterFiles = new java.io.File(iroot(dir), "prefix").listFiles()
      .filter(_.getName.startsWith("cid="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(afterFiles.forall(_ == 1),
      s"compaction must leave one file per list: ${afterFiles.toSeq}")
    // COMMITTED APPEND: an exact clone of query 0 lands in both
    // sublayouts under one marker and ranks 1.0 on the next probe;
    // results equal the one-shot over the union corpus
    val clone = Seq((500L, qvecs.head._2)).toDF("vec_id", "embedding")
    Similarity.appendToPrefixIvfIndexCommitted(spark, dir, clone, 1L)
    val afterAppend = Similarity.prefixIvfSearchIndexed(spark, dir,
      qvecs, nprobe = 8, cand = 10, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(afterAppend.head == ((0L, 500L, 1.0, 1L)),
      s"appended clone must rank first: ${afterAppend.take(3)}")
    assert(afterAppend ==
      Similarity.prefixRerankTopK(emb.union(clone), Seq(0L, 1L, 2L),
        prefixDim = 16, cand = 10, k = 5)
        .as[(Long, Long, Double, Long)].collect().toSeq,
      "append must equal the one-shot over the union")
    // stats compose baseline + marker, replay is a marker no-op
    assert(Similarity.indexedCorpusCount(spark, dir) == 81L)
    Similarity.appendToPrefixIvfIndexCommitted(spark, dir, clone, 1L)
    assert(Similarity.indexedCorpusCount(spark, dir) == 81L,
      "replaying a committed prefix-IVF append must be a no-op")
    assert(Similarity.prefixIvfSearchIndexed(spark, dir, qvecs,
      nprobe = 8, cand = 10, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq == afterAppend)
    // drift guard: a batch far outside the trained prefix cells
    // refuses loudly instead of silently degrading recall
    val far = Seq((900L, Array.fill(64)(100.0f)))
      .toDF("vec_id", "embedding")
    val drift = intercept[IllegalStateException] {
      Similarity.appendToPrefixIvfIndexCommitted(spark, dir, far, 2L)
    }
    assert(drift.getMessage.contains("drift guard"), drift.getMessage)
    // wrong-dim batch fails at the meta seam with both dims named
    def chainHas2(t: Throwable, m: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .exists(e => Option(e.getMessage).exists(_.contains(m)))
    val badDim = Seq((901L, Array.fill(32)(0.1f)))
      .toDF("vec_id", "embedding")
    val eDim = intercept[Exception] {
      Similarity.appendToPrefixIvfIndexCommitted(spark, dir, badDim, 3L)
    }
    assert(chainHas2(eDim, "!= index dim 64"), eDim.getMessage)
  }

  test("prefix-IVF serving stream: batches served through the pruned funnel equal the direct join; a maintenance append is visible to the NEXT batch without restart") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(47)
    val emb = (0L until 60L)
      .map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("pivf-serve").toString
    Similarity.writePrefixIvfIndex(emb, dir, prefixDim = 16, nlist = 4,
      iters = 2)
    val tmp = java.nio.file.Files
      .createTempDirectory("pivf-serve-out").toString
    val q1 = (0L until 3L)
      .map(i => (1000L + i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData(q1)
    val stream = MicroBatches.serve(mem.toDF().toDF("vec_id", "embedding"),
        s"$tmp/ckpt", s"$tmp/out", 50L) { b =>
      Similarity.prefixIvfKnnJoin(b.sparkSession, dir, b, k = 3, nprobe = 4,
        cand = 10)
    }
    try {
      stream.processAllAvailable()
      val served0 = spark.read.parquet(s"$tmp/out")
        .filter($"batch_id" === 0)
        .select($"query_id", $"vec_id", $"cos_sim", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSeq.sorted
      val direct = Similarity.prefixIvfKnnJoin(spark, dir,
        q1.toDF("vec_id", "embedding"), k = 3, nprobe = 4, cand = 10)
        .as[(Long, Long, Double, Long)].collect().toSeq.sorted
      assert(served0 == direct && served0.nonEmpty,
        s"served $served0 != direct $direct")
      // maintenance lands a clone of query 1000 between batches —
      // the NEXT serving batch must see it at cosine 1.0, no restart
      Similarity.appendToPrefixIvfIndexCommitted(spark, dir,
        Seq((777L, q1.head._2)).toDF("vec_id", "embedding"), 10L,
        maxDriftRatio = 1e9)
      mem.addData(q1)
      stream.processAllAvailable()
      val served1 = spark.read.parquet(s"$tmp/out")
        .filter($"batch_id" === 1 && $"query_id" === 1000L &&
          $"rank" === 1)
        .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
      assert(served1.head == ((777L, 1.0)),
        s"appended clone must top the next batch: ${served1.toSeq}")
    } finally stream.stop()
  }

  test("index state cache: warm probes equal cold, and every maintenance op (committed/plain append, compaction, rebuild) is visible to the next probe") {
    import org.apache.spark.sql.functions._
    // ---- BM25: stats/df/postings cached between probes ----
    val docs = Seq(
      (0L, "alpha beta gamma", "s"), (1L, "beta gamma delta", "s"),
      (2L, "gamma delta epsilon", "s")).toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files
      .createTempDirectory("cache-bm25").toString
    TextOps.writeBm25Index(docs, dir, nBuckets = 4)
    def probe(corpus: org.apache.spark.sql.DataFrame) =
      TextOps.bm25SearchIndexed(spark, dir,
        corpus.filter($"doc_id" === 0L)
          .select($"doc_id".as("query_id"), $"text"), k = 3)
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val cold = probe(docs)
    assert(probe(docs) == cold, "warm probe diverged from cold")
    // committed append → next probe sees the new doc (stamp + in-JVM
    // invalidation; the doc shares a query term so it can rank)
    val b1 = Seq((3L, "alpha zeta", "s")).toDF("doc_id", "text", "source")
    TextOps.appendToBm25IndexCommitted(spark, dir, b1, batchId = 1L)
    val afterCommit = probe(docs.union(b1))
    assert(afterCommit != cold &&
      TextOps.bm25TopK(docs.union(b1), Seq(0L), k = 3)
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
        == afterCommit,
      "committed append must invalidate the cached probe state")
    // a second committed append → visible too
    val b2 = Seq((4L, "alpha alpha", "s")).toDF("doc_id", "text", "source")
    TextOps.appendToBm25IndexCommitted(spark, dir, b2, batchId = 2L)
    val u2 = docs.union(b1).union(b2)
    assert(probe(u2) ==
      TextOps.bm25TopK(u2, Seq(0L), k = 3)
        .as[(Long, Long, Long, Long, Double)].collect().toSeq,
      "a second append must invalidate the cached df/stats")
    // compaction (generation advance) → identical results, new root
    val before = probe(u2)
    TextOps.compactBm25Index(spark, dir)
    assert(probe(u2) == before, "compaction changed warm-probe results")
    assert(TextOps.readBm25Stats(spark, dir)._1 == 5L)

    // ---- IVF: centroids/lists/stats cached between probes ----
    val emb = (0L until 16L)
      .map(i => (i, Array.tabulate(8)(j => (i % 4 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val ivf = java.nio.file.Files
      .createTempDirectory("cache-ivf").toString
    Similarity.writeIvfIndex(emb, ivf, nlist = 2, iters = 1)
    // a query vector NO corpus row equals (corpus rows are integer
    // ramps; this one is deliberately non-monotonic)
    val qv = Array.tabulate(8)(j => if (j % 2 == 0) 9.0f else 1.0f + j)
    def annProbe() = Similarity.ivfSearchIndexed(spark, ivf,
      Seq((900L, qv)), k = 3, nprobe = 2)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect().toSeq
    val annCold = annProbe()
    assert(annProbe() == annCold)
    assert(annCold.forall(_._2 < 1.0), s"fixture: clone in corpus $annCold")
    // committed append of an exact query clone → next probe must rank
    // it at 1.0 (lists DF cache invalidated)
    Similarity.appendToIvfIndexCommitted(spark, ivf,
      Seq((500L, qv)).toDF("vec_id", "embedding"), 1L,
      maxDriftRatio = 1e9)
    assert(annProbe().head == ((500L, 1.0)),
      s"appended row invisible to the warm probe: ${annProbe()}")
    assert(Similarity.indexedCorpusCount(spark, ivf) == 17L,
      "stats cache must see the new commit marker")
    // rebuild (new generation) → cache keys change with the root
    Similarity.writeIvfIndex(emb, ivf, nlist = 2, iters = 1)
    assert(annProbe() == annCold,
      "post-rebuild probe must read the fresh generation")
  }

  test("in-stream compaction: the maintenance job repairs its own small-files decay every Nth batch, probes stay green, markers survive") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(47)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val boot = (0L until 20L).map(i => (i, vec()))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("instream-compact").toString
    val (idxDir, pfxDir, ckpt) = (s"$dir/ivf", s"$dir/pfx", s"$dir/ckpt")
    Similarity.writeIvfIndex(boot, idxDir, nlist = 2, iters = 1)
    Similarity.writePrefixIndex(boot, pfxDir, prefixDim = 4)
    // drive the index legs directly (the full curation funnel is the
    // other spec's job): a maintenance-shaped stream that appends a
    // batch per trigger and compacts every 2nd batch id
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Similarity.appendToIvfIndexCommitted(batch.sparkSession, idxDir,
          batch, id, maxDriftRatio = 1e9)
        Similarity.appendToPrefixIndexCommitted(batch.sparkSession,
          pfxDir, batch, id)
        if (id > 0 && id % 2 == 0) {
          IndexGen.compact(batch.sparkSession, idxDir)
          IndexGen.compact(batch.sparkSession, pfxDir)
        }
        ()
      }
      .start()
    try {
      for (b <- 0 until 3) {
        mem.addData((100L + b * 10, vec()), (101L + b * 10, vec()))
        q.processAllAvailable()
      }
    } finally { if (q.isActive) q.stop() }
    // batch 2's compaction ran AFTER its own append: one file per
    // partition remains despite 3 committed appends' decay
    assert(IndexGen.maxFilesPerPartition(spark, idxDir, "lists") == 1,
      s"lists decay not repaired: " +
        s"${IndexGen.maxFilesPerPartition(spark, idxDir, "lists")}")
    assert(IndexGen.maxFilesPerPartition(spark, pfxDir, "prefix") == 1 &&
      IndexGen.maxFilesPerPartition(spark, pfxDir, "full") == 1)
    // content intact: every appended row probe-visible, stats exact
    assert(Similarity.indexedCorpusCount(spark, idxDir) == 26L)
    val qv = spark.read
      .parquet(s"${iroot(idxDir)}/lists")
      .filter($"vec_id" === 120L).select($"embedding")
      .as[Array[Float]].head()
    assert(Similarity.ivfSearchIndexed(spark, idxDir, Seq((900L, qv)),
      k = 1, nprobe = 2)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].head()
      == ((120L, 1.0)))
    assert(Similarity.prefixSearchIndexed(spark, pfxDir, Seq((901L, qv)),
      cand = 5, k = 1)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].head()
      == ((120L, 1.0)))
    // markers survived the generation advances (replay still no-op)
    val n = Similarity.indexedCorpusCount(spark, idxDir)
    Similarity.appendToIvfIndexCommitted(spark, idxDir,
      Seq((100L, vec())).toDF("vec_id", "embedding"), 0L,
      maxDriftRatio = 1e9)
    assert(Similarity.indexedCorpusCount(spark, idxDir) == n,
      "a replayed batch must short-circuit on its carried-forward marker")
  }

  test("index generations: a reader resolving mid-compaction gets old-or-new (never fails, never mixes); retention keeps one prior; rebuilds drop stale markers") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (0L, "apple banana cherry apple", "s"),
      (1L, "banana cherry date", "s"),
      (2L, "cherry date elder fig", "s"),
      (3L, "apple elder grape", "s")
    ).toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files
      .createTempDirectory("gen-bm25").toString
    TextOps.writeBm25Index(docs, dir, nBuckets = 4)
    val b1 = Seq((4L, "grape apple banana", "s"))
      .toDF("doc_id", "text", "source")
    TextOps.appendToBm25IndexCommitted(spark, dir, b1, batchId = 1L)
    val union = docs.union(b1)
    def probeAt(root: String) = TextOps.bm25SearchIndexed(spark, root,
      union.filter($"doc_id".isin(0L, 1L))
        .select($"doc_id".as("query_id"), $"text"), k = 3)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val expected = probeAt(dir)
    assert(expected.nonEmpty)
    // an IN-FLIGHT reader: resolve the pointer BEFORE compaction (the
    // once-per-batch resolution every probe performs), compact, then
    // finish the read against that snapshot — it must see the intact
    // OLD generation, bit-identically (never fails, never mixes)
    val oldRoot = iroot(dir)
    TextOps.compactBm25Index(spark, dir)
    assert(iroot(dir) != oldRoot, "compaction must advance the pointer")
    assert(probeAt(oldRoot) == expected,
      "in-flight reader's pre-flip snapshot changed under it")
    assert(probeAt(dir) == expected,
      "post-flip reader diverged from the pre-compaction results")
    // CONCURRENT readers while two more compactions run: every probe
    // resolves its own snapshot and must return the same results —
    // the live-swap scenario the old QUIESCE scaladocs forbade
    @volatile var failure: Option[Throwable] = None
    @volatile var stop = false
    val reader = new Thread(() => {
      try { while (!stop) assert(probeAt(dir) == expected) }
      catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    try {
      TextOps.compactBm25Index(spark, dir)
      TextOps.compactBm25Index(spark, dir)
    } finally { stop = true; reader.join(60000) }
    assert(failure.isEmpty,
      s"a concurrent reader failed during compaction: $failure")
    // retention: exactly the current and one prior generation remain
    val gens = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getName).sorted
    assert(gens.length == 2, s"retention must keep 2 gens: ${gens.toSeq}")
    assert(probeAt(dir) == expected)
    // REBUILD drops stale commit markers (buildFresh): under the flat
    // layout a rebuild left old `_commits` inflating composite stats
    val emb = (0L until 20L)
      .map(i => (i, Array.fill(8)(i.toFloat % 3 + 1.0f)))
      .toDF("vec_id", "embedding")
    val ivfDir = java.nio.file.Files
      .createTempDirectory("gen-ivf").toString
    Similarity.writeIvfIndex(emb, ivfDir, nlist = 2, iters = 1)
    Similarity.appendToIvfIndexCommitted(spark, ivfDir,
      Seq((100L, Array.fill(8)(2.0f))).toDF("vec_id", "embedding"), 1L,
      maxDriftRatio = 1e9)
    assert(Similarity.indexedCorpusCount(spark, ivfDir) == 21L)
    Similarity.writeIvfIndex(emb, ivfDir, nlist = 2, iters = 1)
    assert(Similarity.indexedCorpusCount(spark, ivfDir) == 20L,
      "a rebuild must not inherit the old generation's commit markers")
  }

  test("committed append over every durable index format: a replayed id is a no-op, a half-landed file is swept, the marker is the batch contribution, sourcePath advances the fingerprint") {
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(53)
    // two well-separated blobs: batches stay in-distribution for the
    // IVF drift guards
    def vec(i: Long): Array[Float] = {
      val v = Array.fill(16)(rnd.nextGaussian().toFloat * 0.1f)
      v((i % 2).toInt) += (if (i % 2 == 0) 3.0f else -3.0f)
      v
    }
    def vecs(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val words = Seq("apple", "banana", "cherry", "durian", "elder", "fig",
      "grape", "honeydew", "kiwi", "lime")
    def docs(ids: Seq[Long]): DataFrame = ids.map { i =>
      (i, (0 until 12).map(j => words(((i * 7 + j * 3) % 10).toInt))
        .mkString(" "), "s")
    }.toDF("doc_id", "text", "source")
    def ivfStats(d: String): Seq[Double] = {
      val (n, s) = Similarity.readIvfStats(spark, d); Seq(n.toDouble, s)
    }
    def bm25Stats(d: String): Seq[Double] = {
      val (n, t, _) = TextOps.readBm25Stats(spark, d)
      Seq(n.toDouble, t.toDouble)
    }
    // (format, vector data?, build, append, row sublayout, its key
    // columns, composite stats reader summing the markers)
    type Append = (String, DataFrame, Long, Option[String]) => Unit
    val formats: Seq[(String, Boolean, String => Unit, Append, String,
        Seq[String], Option[String => Seq[Double]])] = Seq(
      ("IVF", true,
        Similarity.writeIvfIndex(vecs(0L until 40L), _, nlist = 2,
          iters = 2),
        (d, b, id, sp) => Similarity.appendToIvfIndexCommitted(spark, d, b,
          id, maxDriftRatio = 1e9, sourcePath = sp),
        "lists", Seq("vec_id"), Some(ivfStats _)),
      ("IVF-PQ", true,
        Similarity.writeIvfPqIndex(vecs(0L until 40L), _, nlist = 2,
          itersIvf = 2, m = 4, ksub = 4, itersPq = 1),
        (d, b, id, sp) => Similarity.appendToIvfIndexCommitted(spark, d, b,
          id, maxDriftRatio = 1e9, sourcePath = sp),
        "lists", Seq("vec_id"), Some(ivfStats _)),
      ("prefix", true,
        Similarity.writePrefixIndex(vecs(0L until 40L), _, prefixDim = 4),
        (d, b, id, sp) => Similarity.appendToPrefixIndexCommitted(spark, d,
          b, id, sp),
        "full", Seq("vec_id"), None),
      ("prefix-IVF", true,
        Similarity.writePrefixIvfIndex(vecs(0L until 40L), _,
          prefixDim = 4, nlist = 2, iters = 2),
        (d, b, id, sp) => Similarity.appendToPrefixIvfIndexCommitted(spark,
          d, b, id, maxDriftRatio = 1e9, sourcePath = sp),
        "prefix", Seq("vec_id"), Some(ivfStats _)),
      ("SQ8", true, Similarity.writeSq8Index(vecs(0L until 40L), _),
        (d, b, id, sp) => Similarity.appendToSq8IndexCommitted(spark, d, b,
          id, sp),
        "codes", Seq("vec_id"), None),
      ("BQ", true, Similarity.writeBqIndex(vecs(0L until 40L), _),
        (d, b, id, sp) => Similarity.appendToBqIndexCommitted(spark, d, b,
          id, sp),
        "bits", Seq("vec_id"), None),
      ("BM25", false,
        TextOps.writeBm25Index(docs(0L until 6L), _, nBuckets = 4),
        (d, b, id, sp) => TextOps.appendToBm25IndexCommitted(spark, d, b,
          id, sp),
        "postings", Seq("doc_id", "term"), Some(bm25Stats _)),
      ("gram", false,
        TextOps.writeGramIndex(docs(0L until 6L), _, nBuckets = 4),
        (d, b, id, sp) => TextOps.appendToGramIndexCommitted(spark, d, b,
          id, sp),
        "docdim", Seq("doc_id"), None))
    for ((name, isVec, build, append, sub, keys, stats) <- formats) {
      val base = java.nio.file.Files
        .createTempDirectory(s"commit-$name").toString
      val (dir, src) = (s"$base/idx", s"$base/src")
      build(dir)
      def batch(from: Long): DataFrame = {
        val ids = from until from + 4L
        (if (isVec) vecs(ids) else docs(ids)).localCheckpoint()
      }
      val (b1, b2) = (batch(100L), batch(200L))
      b1.write.parquet(src)
      def subDf(): DataFrame = spark.read.parquet(s"${iroot(dir)}/$sub")
      def markerFile(id: Long) =
        new java.io.File(s"${iroot(dir)}/_commits/batch-$id")
      def marker(id: Long): Seq[Double] =
        new String(java.nio.file.Files.readAllBytes(markerFile(id).toPath),
          "UTF-8").trim.split("\\s+").map(_.toDouble).toSeq
      val fpFile = new java.io.File(dir, "_source_fingerprint")
      def fp(): String =
        new String(java.nio.file.Files.readAllBytes(fpFile.toPath), "UTF-8")
      def close(a: Double, b: Double) =
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      val statsBefore = stats.map(_(dir))

      // the marker content is the batch contribution: row count first,
      // then exactly what the composite stats reader adds
      append(dir, b1, 1L, Some(src))
      val m1 = marker(1L)
      assert(m1.head == 4.0, s"$name: marker $m1 must lead with the row count")
      stats.foreach { read =>
        val delta = read(dir).zip(statsBefore.get).map { case (a, b) => a - b }
        assert(delta.zip(m1).forall { case (d, m) => close(d, m) } &&
          m1.size == delta.size, s"$name: stats moved by $delta, marker $m1")
      }
      assert(fpFile.exists, s"$name: sourcePath must write the fingerprint")
      val fp1 = fp()

      // replaying a committed id is a no-op: rows and marker unchanged
      val rows1 = subDf().count()
      val stamp = markerFile(1L).lastModified()
      append(dir, b1, 1L, None)
      assert(subDf().count() == rows1 && marker(1L) == m1 &&
        markerFile(1L).lastModified() == stamp,
        s"$name: a replayed batch must not land rows or touch its marker")

      // a half-landed `b2-p0.parquet` (a crashed attempt's copy of a
      // landed file) is swept before batch 2 lands
      def parquetFiles(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      val victim = parquetFiles(new java.io.File(iroot(dir), sub))
        .maxBy(_.length())
      java.nio.file.Files.copy(victim.toPath,
        new java.io.File(victim.getParentFile, "b2-p0.parquet").toPath)
      assert(subDf().count() > rows1, s"$name: the planted file must be live")
      b2.write.mode("append").parquet(src)
      append(dir, b2, 2L, Some(src))
      val keyed = subDf().select(keys.map(col): _*)
      assert(keyed.count() == keyed.distinct().count(),
        s"$name: the half-landed file was not swept")
      assert(subDf().filter(col(keys.head) >= 200L)
        .select(col(keys.head)).distinct().count() == 4L,
        s"$name: batch 2 must land in full")
      assert(fp() != fp1, s"$name: sourcePath must advance the fingerprint")

      // an empty batch commits too: a zero-count marker, no rows
      val rows2 = subDf().count()
      append(dir, b2.limit(0), 3L, None)
      assert(marker(3L).head == 0.0 && subDf().count() == rows2,
        s"$name: an empty batch must publish a zero marker and land nothing")
    }
  }

  test("IndexGen.compact over every durable index format: probes identical, one file per rewritten partition, markers and composite stats unchanged") {
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(59)
    // two well-separated blobs: batches stay in-distribution for the
    // IVF drift guards
    def vec(i: Long): Array[Float] = {
      val v = Array.fill(16)(rnd.nextGaussian().toFloat * 0.1f)
      v((i % 2).toInt) += (if (i % 2 == 0) 3.0f else -3.0f)
      v
    }
    val vecRows = (0L until 48L).map(i => (i, vec(i)))
    def vecs(ids: Seq[Long]): DataFrame =
      vecRows.filter(r => ids.contains(r._1)).toDF("vec_id", "embedding")
    val corpus = vecs(0L until 48L)
    val queries = Seq(3L, 10L).map(i => (900L + i, vecRows(i.toInt)._2))
    val words = Seq("apple", "banana", "cherry", "durian", "elder", "fig",
      "grape", "honeydew", "kiwi", "lime")
    def docs(ids: Seq[Long]): DataFrame = ids.map { i =>
      (i, (0 until 12).map(j => words(((i * 7 + j * 3) % 10).toInt))
        .mkString(" "), "s")
    }.toDF("doc_id", "text", "source")
    val queryDocs = docs(Seq(2L, 5L)).select($"doc_id".as("query_id"),
      $"text")
    def ivfStats(d: String): Seq[Double] = {
      val (n, s) = Similarity.readIvfStats(spark, d); Seq(n.toDouble, s)
    }
    def bm25Stats(d: String): Seq[Double] = {
      val (n, t, _) = TextOps.readBm25Stats(spark, d)
      Seq(n.toDouble, t.toDouble)
    }
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    type Append = (String, DataFrame, Long) => Unit
    // (format, vector data?, build, committed append, probe, compaction,
    // rewritten sublayouts, composite stats reader)
    val formats: Seq[(String, Boolean, String => Unit, Append,
        String => DataFrame, String => Unit, Seq[String],
        Option[String => Seq[Double]])] = Seq(
      ("IVF", true,
        Similarity.writeIvfIndex(vecs(0L until 40L), _, nlist = 2,
          iters = 2),
        (d, b, id) => Similarity.appendToIvfIndexCommitted(spark, d, b, id,
          maxDriftRatio = 1e9),
        d => Similarity.ivfSearchIndexed(spark, d, queries, k = 5,
          nprobe = 2),
        IndexGen.compact(spark, _), Seq("lists"), Some(ivfStats _)),
      ("IVF-PQ", true,
        Similarity.writeIvfPqIndex(vecs(0L until 40L), _, nlist = 2,
          itersIvf = 2, m = 4, ksub = 4, itersPq = 1),
        (d, b, id) => Similarity.appendToIvfIndexCommitted(spark, d, b, id,
          maxDriftRatio = 1e9),
        d => Similarity.ivfPqSearchIndexed(spark, d, queries, k = 5,
          nprobe = 2, cand = 20),
        IndexGen.compact(spark, _), Seq("lists"), Some(ivfStats _)),
      ("prefix", true,
        Similarity.writePrefixIndex(vecs(0L until 40L), _, prefixDim = 4),
        (d, b, id) => Similarity.appendToPrefixIndexCommitted(spark, d, b,
          id),
        d => Similarity.prefixSearchIndexed(spark, d, queries, cand = 20,
          k = 5),
        IndexGen.compact(spark, _), Seq("prefix", "full"), None),
      ("prefix-IVF", true,
        Similarity.writePrefixIvfIndex(vecs(0L until 40L), _,
          prefixDim = 4, nlist = 2, iters = 2),
        (d, b, id) => Similarity.appendToPrefixIvfIndexCommitted(spark, d,
          b, id, maxDriftRatio = 1e9),
        d => Similarity.prefixIvfSearchIndexed(spark, d, queries,
          nprobe = 2, cand = 20, k = 5),
        IndexGen.compact(spark, _), Seq("prefix", "full"),
        Some(ivfStats _)),
      ("SQ8", true, Similarity.writeSq8Index(vecs(0L until 40L), _),
        (d, b, id) => Similarity.appendToSq8IndexCommitted(spark, d, b, id),
        d => Similarity.sq8SearchIndexed(spark, d, corpus, queries, k = 5,
          cand = 20),
        IndexGen.compact(spark, _), Seq("codes"), None),
      ("BQ", true, Similarity.writeBqIndex(vecs(0L until 40L), _),
        (d, b, id) => Similarity.appendToBqIndexCommitted(spark, d, b, id),
        d => Similarity.bqSearchIndexed(spark, d, corpus, queries, k = 5,
          cand = 20),
        IndexGen.compact(spark, _), Seq("bits"), None),
      ("BM25", false,
        TextOps.writeBm25Index(docs(0L until 6L), _, nBuckets = 4),
        (d, b, id) => TextOps.appendToBm25IndexCommitted(spark, d, b, id),
        d => TextOps.bm25SearchIndexed(spark, d, queryDocs, k = 5),
        TextOps.compactBm25Index(spark, _), Seq("postings"),
        Some(bm25Stats _)),
      ("gram", false,
        TextOps.writeGramIndex(docs(0L until 6L), _, nBuckets = 4),
        (d, b, id) => TextOps.appendToGramIndexCommitted(spark, d, b, id),
        d => TextOps.contaminationIndexed(spark, d, docs(Seq(2L))),
        IndexGen.compact(spark, _), Seq("postings", "docdim"), None))
    for ((name, isVec, build, append, probe, compact, subs, stats) <-
           formats) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"compact-$name").toString
      build(dir)
      def batch(ids: Seq[Long]): DataFrame =
        if (isVec) vecs(ids) else docs(ids)
      append(dir, batch(40L until 44L), 1L)
      append(dir, batch(44L until 48L), 2L)
      def commits(): Map[String, String] =
        new java.io.File(s"${iroot(dir)}/_commits").listFiles().toSeq
          .filter(_.getName.startsWith("batch-"))
          .map(f => f.getName -> new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).toMap
      val probeBefore = rows(probe(dir))
      val commitsBefore = commits()
      val statsBefore = stats.map(_(dir))
      assert(probeBefore.nonEmpty, s"$name: the probe must return rows")
      assert(commitsBefore.keySet == Set("batch-1", "batch-2"))
      assert(subs.exists(IndexGen.maxFilesPerPartition(spark, dir, _) > 1),
        s"$name: two appends must show file decay")

      compact(dir)
      subs.foreach { sub =>
        assert(IndexGen.maxFilesPerPartition(spark, dir, sub) == 1,
          s"$name: $sub must hold one file per partition after compaction")
      }
      assert(rows(probe(dir)) == probeBefore,
        s"$name: compaction changed the probe results")
      assert(commits() == commitsBefore,
        s"$name: compaction must carry the _commits markers forward")
      assert(stats.map(_(dir)) == statsBefore,
        s"$name: compaction moved the composite stats")
    }
  }

  test("driver-side query norm equals the engine's l2norm bit for bit") {
    // the probes score a driver-computed query norm against corpus
    // norms computed by l2norm: any last-bit difference can flip the
    // 4-decimal rounding of a cosine
    val rnd = new scala.util.Random(2024)
    val vs = (0 until 2000).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val engine = vs.toDF("vec_id", "embedding")
      .select($"vec_id", Similarity.l2norm($"embedding"))
      .as[(Long, Double)].collect().toMap
    val off = vs.count { case (id, v) =>
      java.lang.Double.doubleToLongBits(Similarity.queryNorm(v)) !=
        java.lang.Double.doubleToLongBits(engine(id))
    }
    assert(off == 0, s"$off of ${vs.size} norms differ")
  }

  test("SQ8 committed append fails by name on a layout without meta") {
    val dir = java.nio.file.Files.createTempDirectory("sq8-nometa").toString
    val v = (0L until 8L).map(i => (i, Array.fill(8)(i.toFloat + 1f)))
      .toDF("vec_id", "embedding")
    Similarity.writeSq8Index(v, dir)
    val meta = new java.io.File(s"${iroot(dir)}/meta")
    org.apache.commons.io.FileUtils.deleteDirectory(meta)
    val e = intercept[IllegalStateException](
      Similarity.appendToSq8IndexCommitted(spark, dir,
        (100L until 102L).map(i => (i, Array.fill(8)(1f)))
          .toDF("vec_id", "embedding"), 1L))
    assert(e.getMessage.contains("has no meta/"), e.getMessage)
    assert(!new java.io.File(s"${iroot(dir)}/_commits/batch-1").exists,
      "a refused batch must not commit")
  }

  test("single-writer lease: a second interleaved maintenance writer fails loudly with the named error, index intact; publish CAS stops a stale-lease loser from clobbering") {
    import graft.operators.IndexGen
    val docs = Seq(
      (0L, "apple banana cherry", "s"),
      (1L, "banana cherry date", "s"),
      (2L, "cherry date elder", "s")
    ).toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files
      .createTempDirectory("lease-bm25").toString
    TextOps.writeBm25Index(docs, dir, nBuckets = 2)
    def probe() = TextOps.bm25SearchIndexed(spark, dir,
      docs.filter($"doc_id" === 0L)
        .select($"doc_id".as("query_id"), $"text"), k = 2)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val expected = probe()
    assert(expected.nonEmpty)
    // writer A holds the lease (mid-compaction); writer B's whole
    // compaction fails AT THE SEAM with the named error
    val (n, _) = IndexGen.stage(spark, dir)
    val e = intercept[IndexGen.ConcurrentMaintenanceException] {
      TextOps.compactBm25Index(spark, dir)
    }
    assert(e.getMessage.contains("lease held"))
    assert(probe() == expected, "loser must leave the index intact")
    // A aborts (the buildFresh/advance failure path) → a retried
    // compaction acquires the lease and succeeds
    IndexGen.releaseLease(spark, dir, n)
    TextOps.compactBm25Index(spark, dir)
    assert(probe() == expected)
    // ownership belt: writer A stages, stalls past the lease timeout;
    // writer B breaks the stale lease and publishes first; A's
    // publish must fail the lease-ownership check (its lease is gone
    // — B broke it, published, and pruned it) without touching B's
    // generation
    // -1 (not 0): the break condition is age > timeout, and a
    // same-millisecond stage would tie at age 0
    spark.conf.set("graft.index.leaseTimeoutMs", "-1")
    try {
      val (n2, stg2) = IndexGen.stage(spark, dir)
      TextOps.compactBm25Index(spark, dir) // breaks A's stale lease, wins
      val rootAfterB = iroot(dir)
      val lost = intercept[IndexGen.ConcurrentMaintenanceException] {
        IndexGen.publish(spark, dir, n2, stg2)
      }
      assert(lost.getMessage.contains("lease-ownership"))
      assert(iroot(dir) == rootAfterB,
        "the ownership loser must not perturb the published generation")
      assert(probe() == expected)
    } finally spark.conf.unset("graft.index.leaseTimeoutMs")
  }

  test("stale-lease straggler cannot publish the rival's half-built staging: writer-unique staging + publish lease-ownership check (round-12 ADVICE hole)") {
    import graft.operators.IndexGen
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files
      .createTempDirectory("lease-straggler").toString
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new Path(dir).getFileSystem(hconf)
    def writeMarker(root: String, body: String): Unit = {
      val os = fs.create(new Path(root, "payload.txt"), true)
      try os.write(body.getBytes("UTF-8")) finally os.close()
    }
    def readMarker(root: String): String = {
      val in = fs.open(new Path(root, "payload.txt"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    // gen-0 exists (normal build)
    IndexGen.buildFresh(spark, dir)(root => writeMarker(root, "gen0"))
    assert(readMarker(IndexGen.root(spark, dir)) == "gen0")
    spark.conf.set("graft.index.leaseTimeoutMs", "-1")
    try {
      // writer A stages gen-1, builds, then stalls past the timeout
      val (nA, stgA) = IndexGen.stage(spark, dir)
      writeMarker(stgA, "A-half-built")
      // writer B breaks A's stale lease and stages the SAME generation
      val (nB, stgB) = IndexGen.stage(spark, dir)
      assert(nA == nB, "both writers contend for the same generation")
      assert(stgA != stgB, "staging roots must be writer-unique")
      // B is still building (its staging is half-written)
      writeMarker(stgB, "B-half-built")
      // A resumes and tries to publish: the pointer CAS would PASS
      // (published max is still gen-0) — only the lease-ownership
      // check stops A, and A's staging path can never alias B's
      val e = intercept[IndexGen.ConcurrentMaintenanceException] {
        IndexGen.publish(spark, dir, nA, stgA)
      }
      assert(e.getMessage.contains("lease-ownership"))
      assert(readMarker(IndexGen.root(spark, dir)) == "gen0",
        "the straggler must not publish anything")
      assert(fs.exists(new Path(stgB)),
        "the rival's in-progress staging must be untouched")
      // B finishes and publishes its OWN staging — clean win
      IndexGen.publish(spark, dir, nB, stgB)
      assert(readMarker(IndexGen.root(spark, dir)) == "B-half-built")
      // A's abandoned staging was pruned by B's publish
      assert(!fs.exists(new Path(stgA)),
        "the loser's abandoned staging is garbage-collected at publish")
    } finally spark.conf.unset("graft.index.leaseTimeoutMs")
  }

  test("md5_window_hashes: all three modes equal the shingle+hash HOF forms") {
    import graft.functions.Md5WindowHashes.{ModeAll, ModeDistinctSorted, ModeRle}
    val rng = new scala.util.Random(41)
    val texts =
      Seq("", "a", "one two three", "  padded   multi\tspace doc  ",
        "naïve café — ünïcode ✓ naïve café — ünïcode ✓ extra",
        ("dup dup dup dup " * 8).trim) ++
      (0 until 20).map(_ => (0 until (3 + rng.nextInt(40)))
        .map(_ => s"t${rng.nextInt(12)}").mkString(" "))
    val df = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    for (n <- Seq(3, 10)) {
      // ModeAll ≡ transform(shingles, md5Seeded(0, _)) — positions preserved
      val all = df.select(
        Dedup.windowHashes($"text", n, 0, ModeAll, Dedup.md5Seeded),
        transform(Dedup.shingles($"text", n), g => Dedup.md5Seeded(0, g)))
        .as[(Seq[Long], Seq[Long])].collect()
      all.foreach { case (got, want) => assert(got == want, s"ModeAll n=$n") }
      // ModeDistinctSorted ≡ sorted distinct of the same hashes
      val ds = df.select(
        Dedup.windowHashes($"text", n, 0, ModeDistinctSorted, Dedup.md5Seeded),
        transform(Dedup.shingles($"text", n), g => Dedup.md5Seeded(0, g)))
        .as[(Seq[Long], Seq[Long])].collect()
      ds.foreach { case (got, want) =>
        assert(got == want.distinct.sorted, s"ModeDistinctSorted n=$n") }
      // ModeRle ≡ sorted (h, count) histogram of the same hashes
      val rle = df.select(
        Dedup.windowHashes($"text", n, 0, ModeRle, Dedup.md5Seeded),
        transform(Dedup.shingles($"text", n), g => Dedup.md5Seeded(0, g)))
        .as[(Seq[(Long, Long)], Seq[Long])].collect()
      rle.foreach { case (got, want) =>
        val hist = want.groupBy(identity).view
          .mapValues(_.length.toLong).toSeq.sortBy(_._1)
        assert(got == hist, s"ModeRle n=$n")
      }
      // the composed fallback (non-md5 families route here) matches
      // the native shapes under the md5 family too
      val comp = df.select(
        Dedup.windowHashes($"text", n, 0, ModeRle, Dedup.md5Seeded),
        Dedup.windowHashesComposed($"text", n, 0, ModeRle, Dedup.md5Seeded))
        .as[(Seq[(Long, Long)], Seq[(Long, Long)])].collect()
      comp.foreach { case (got, want) => assert(got == want, s"composed RLE n=$n") }
    }
    // non-md5 family dispatches to the composed form (xx values)
    val xx = df.select(
      Dedup.windowHashes($"text", 3, 0, ModeAll, Dedup.xxSeeded),
      transform(Dedup.shingles($"text", 3), g => Dedup.xxSeeded(0, g)))
      .as[(Seq[Long], Seq[Long])].collect()
    xx.foreach { case (got, want) => assert(got == want, "xx fallback") }
  }

  test("minhash_band_keys_tokens equals minhash_band_keys over distinct shingles, bit-exact") {
    val rng = new scala.util.Random(43)
    val texts =
      Seq("", "a", "one two", "one two three",
        ("dup dup dup dup " * 6).trim, // duplicate windows: min unmoved
        "  padded   multi\tspace  ", "naïve café ünïcode ✓ naïve café") ++
      (0 until 25).map(_ => (0 until (3 + rng.nextInt(30)))
        .map(_ => s"t${rng.nextInt(9)}").mkString(" "))
    val df = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    for ((k, bands, n) <- Seq((16, 4, 3), (8, 2, 2))) {
      val rows = df.select(
        graft.functions.MinHashBandKeys.minhash_band_keys_tokens(
          split(trim($"text"), "\\s+"), n, k, bands),
        graft.functions.MinHashBandKeys.minhash_band_keys(
          array_distinct(Dedup.shingles($"text", n)), k, bands))
        .as[(Seq[Long], Seq[Long])].collect()
      rows.foreach { case (got, want) =>
        assert(got == want, s"k=$k bands=$bands n=$n") }
    }
  }

  test("minhash_band_keys_tokens survives codegen with fallback disabled") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = Seq("a b c d e").toDF("text")
        .select(graft.functions.MinHashBandKeys.minhash_band_keys_tokens(
          split(trim($"text"), "\\s+"), 3, 16, 4),
          graft.functions.MinHashBandKeys.minhash_band_keys(
            array_distinct(Dedup.shingles($"text", 3)), 16, 4))
        .as[(Seq[Long], Seq[Long])].collect()(0)
      assert(got._1.length == 4 && got._1 == got._2)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("md5-family minhash pairs equal the explode+groupBy signature pipeline") {
    // the declared rows now band scan-locally via the tokens
    // expression; pin the end-to-end pair equality against the
    // reconstructed groupBy formulation (slot-tuple band equality)
    val rng = new scala.util.Random(11)
    def body(seed: Int) = (0 until 25)
      .map(i => s"w${(seed * 13 + i * 7) % 40}").mkString(" ")
    val docs = ((0 until 30).map(i => (i.toLong, body(i))) ++
      Seq((100L, body(3) + " tail"), (101L, body(7) + " x y")))
      .toDF("doc_id", "text")
    val got = Dedup.minhashNearDups(docs, threshold = 0.3,
      hashFn = Dedup.md5Seeded)
      .as[(Long, Long, Double)].collect().toSet
    // reconstructed reference: groupBy signatures, slot-tuple banding
    val sh = docs.select($"doc_id",
      explode(array_distinct(Dedup.shingles($"text", 3))).as("s"))
    val sig = sh.groupBy($"doc_id").agg(
      min(Dedup.md5Seeded(0, $"s")).as("h0"),
      (1 until 16).map(seed =>
        min(Dedup.md5Seeded(seed, $"s")).as(s"h$seed")): _*)
    val banded = sig.select($"doc_id", posexplode(array((0 until 4).map { b =>
      struct((0 until 4).map(r => col(s"h${b * 4 + r}").as(s"s$r")): _*)
    }: _*)).as(Seq("band", "slots")))
    val pairs = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.slots") === col("b.slots") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val shs = docs.select($"doc_id",
      array_distinct(Dedup.shingles($"text", 3)).as("sh"))
    val want = pairs
      .join(shs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(shs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        round(size(array_intersect($"sh_a", $"sh_b")).cast("double") /
          greatest(size(array_union($"sh_a", $"sh_b")).cast("double"),
            lit(1.0)), 4).as("j"))
      .filter($"j" >= 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("md5_window_hashes survives codegen with fallback disabled") {
    import graft.functions.Md5WindowHashes.{ModeAll, ModeRle}
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = Seq("a b c d a b c d").toDF("text")
        .select(
          Dedup.windowHashes($"text", 3, 0, ModeAll, Dedup.md5Seeded),
          Dedup.windowHashes($"text", 3, 0, ModeRle, Dedup.md5Seeded))
        .as[(Seq[Long], Seq[(Long, Long)])].collect()(0)
      assert(got._1.length == 6)
      // "a b c" and "b c d" occur twice each; the two bridge windows once
      assert(got._2.map(_._2).sorted == Seq(1L, 1L, 2L, 2L))
      assert(got._2.map(_._1) == got._2.map(_._1).sorted)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }
}
