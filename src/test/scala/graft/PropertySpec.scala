package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.Classify
import graft.operators.Detect

/** Property-based invariants (SURVEY §5.4): classifier totality,
  * severity monotonicity, lattice bijection. Generators are driven
  * with fixed seeds (deterministic CI).
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val opLabels = Set("SELECT", "INSERT", "UPDATE", "DELETE",
    "CREATE", "DROP", "ALTER", "TRUNCATE", "GRANT", "REVOKE",
    "PROCEDURE", "OTHER")

  test("C1 totality: arbitrary strings classify to exactly one label") {
    val gen = Gen.oneOf(
      Gen.alphaNumStr,
      Gen.asciiPrintableStr,
      Gen.oneOf("SELECT x", " update T", "zzz", "", "  ",
        "DROP TABLE t", "call p()", "0x41", "\nselect 1", "şELECT"))
    val strs = samples(gen, 200)
    val got = strs.toDF("sql")
      .select(Classify.operationType($"sql")).as[String].collect()
    assert(got.length == strs.length)
    got.foreach(l => assert(opLabels.contains(l)))
  }

  test("C2 totality: extractor always yields a non-empty table name") {
    val strs = samples(Gen.asciiPrintableStr, 200) ++
      Seq("FROM ", "from  x", "INTO\tt", "join j1 join j2")
    val got = strs.toDF("sql")
      .select(Classify.tableNameOf($"sql")).as[String].collect()
    got.foreach(t => assert(t != null && t.nonEmpty))
  }

  // NOTE: the reference's sequential fold is NOT globally monotone
  // (guest-write ASSIGNS High over a blacklist Critical; DetectSpec
  // proves the full 2^8 table) — these pairs exercise axes where
  // escalation does hold
  test("C4: adding a triggered rule never lowers severity on these axes") {
    def ordOf(rows: Seq[(Long, Long, String, String, String, String, String, String, Long)]): Map[Long, Long] = {
      val df = rows.toDF("activity_id", "user_id", "username", "role",
          "operation_type", "table_name", "operation_details", "ip_address",
          "rows_affected")
        .withColumn("access_timestamp", to_timestamp(lit("2024-01-10 12:00:00")))
        .withColumn("operation_status", lit("Success"))
      Detect.classify(df, Detect.ipBlacklist(spark))
        .select($"activity_id", $"severity_ord").as[(Long, Long)].collect().toMap
    }
    // pairs (base, escalated-by-one-more-rule) across rule axes
    val pairs = Seq(
      ((1L, 1L, "u", "User", "SELECT", "products", "SELECT 1", "10.0.0.1", 0L),
       (1L, 1L, "u", "User", "SELECT", "products", "SELECT password FROM t", "10.0.0.1", 0L)),
      ((1L, 1L, "u", "Guest", "DELETE", "products", "DELETE FROM products", "10.0.0.1", 0L),
       (1L, 1L, "u", "Guest", "DELETE", "products", "DELETE FROM products", "10.0.3.7", 0L)),
      ((1L, 1L, "u", "User", "SELECT", "accounts", "SELECT 1 FROM accounts", "10.0.0.1", 0L),
       (1L, 1L, "u", "User", "SELECT", "accounts", "SELECT 1 FROM accounts", "10.0.0.1", 9999L)))
    pairs.zipWithIndex.foreach { case ((b, e), i) =>
      val bo = ordOf(Seq(b))(1L)
      val eo = ordOf(Seq(e))(1L)
      assert(bo <= eo, s"pair $i: base=$bo escalated=$eo")
    }
  }

  test("severity ordinal ↔ name bijection over the lattice") {
    val df = Seq(0, 1, 2, 3).toDF("ord")
      .select(col("ord"), Detect.severityName(col("ord")).as("name"))
    assert(df.as[(Int, String)].collect().toSeq ==
      Seq((0, "Low"), (1, "Medium"), (2, "High"), (3, "Critical")))
  }

  test("lockouts match a reference fold over random status sequences") {
    // ground truth: walk the sequence with a counter, reset on success,
    // record positions where the counter hits exactly maxAttempts
    def reference(statuses: Seq[Boolean], maxAttempts: Int): Seq[Int] = {
      var streak = 0
      statuses.zipWithIndex.flatMap { case (failed, i) =>
        if (failed) { streak += 1; if (streak == maxAttempts) Some(i) else None }
        else { streak = 0; None }
      }
    }
    val gen = Gen.listOfN(40, Gen.oneOf(true, false))
    samples(gen, 30).zipWithIndex.foreach { case (statuses, caseId) =>
      val df = statuses.zipWithIndex.map { case (f, i) =>
        (i.toLong + 1, if (f) "Failed" else "Success")
      }.toDF("activity_id", "operation_status")
        .withColumn("username", lit(s"u$caseId"))
        .withColumn("access_timestamp",
          to_timestamp(lit("2024-01-10 00:00:00")) +
            expr("INTERVAL 1 MINUTE") * col("activity_id"))
      val got = Detect.lockouts(df, maxAttempts = 3)
        .select($"activity_id").as[Long].collect().toSeq.sorted
      val want = reference(statuses, 3).map(_.toLong + 1)
      assert(got == want, s"case $caseId: statuses=$statuses")
    }
  }

  test("redactPii is idempotent and total over arbitrary strings") {
    import graft.operators.TextOps
    val gen = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.oneOf("mail me at a.b+c@d-e.io now", "ssn 123-45-6789.",
        "call 555-123-4567 or 555 123 4567", "no pii here", "",
        "a@b.co x@y.museum", "123-45-678", "1234-56-7890"))
    val strs = samples(gen, 200)
    val df = strs.toDF("text")
      .select($"text",
        TextOps.redactPii($"text").as("once"))
      .select($"text", $"once",
        TextOps.redactPii($"once").as("twice"))
    df.as[(String, String, String)].collect().foreach { case (in, once, twice) =>
      assert(once == twice, s"not idempotent on: $in")
      TextOps.PiiPatterns.foreach { case (p, _) =>
        assert(!p.r.findFirstIn(once).isDefined || in.contains("<"),
          s"residual PII match after redaction of: $in")
      }
    }
  }

  test("clusterMembership equals reference union-find on random graphs") {
    // reference: textbook union-find with path compression
    def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical = min member: roots are minimal by the union rule
      edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
    }
    val edgeGen = for {
      n <- Gen.choose(2, 40) // node-id domain
      m <- Gen.choose(1, 60) // edge count (dups + self-pairs possible)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong)
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.filter(e => e._1 != e._2).distinct
    // a 40-node chain, numbered so that min labels travel the whole
    // path: many propagation rounds in the distributed regime
    val chain = (0L until 39L).map(i => (100L - i - 1, 100L - i))
    val graphs = samples(edgeGen, 12).filter(_.nonEmpty) :+ chain
    // the default budget finishes these on the driver; -1 disables it
    // and forces the distributed round loop
    for (threshold <- Seq(None, Some("-1"))) {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.getOption(key)
      threshold.foreach(spark.conf.set(key, _))
      try {
        graphs.foreach { edges =>
          val expected = ufComponents(edges)
          val sizes = expected.groupBy(_._2).view.mapValues(_.size.toLong).toMap
          val got = graft.operators.Dedup.clusterMembership(
            edges.toDF("doc_a", "doc_b"))
            .as[(Long, Long, Long)].collect()
          assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq,
            s"not in doc_id order (threshold $threshold)")
          val byId = got.map { case (id, cid, sz) => id -> ((cid, sz)) }.toMap
          assert(byId.keySet == expected.keySet)
          expected.foreach { case (id, root) =>
            assert(byId(id) == ((root, sizes(root))),
              s"node $id: got ${byId(id)}, want ($root, ${sizes(root)}) " +
                s"on edges $edges (threshold $threshold)")
          }
        }
        // no edges, no membership rows (and the observed edge count
        // of an optimized-away plan still arrives)
        assert(graft.operators.Dedup.clusterMembership(
          Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).isEmpty)
        // an Int id column stays Int, with the same components
        val ints = graft.operators.Dedup.clusterMembership(
          Seq((3, 1), (1, 2), (7, 8)).toDF("doc_a", "doc_b"))
        assert(ints.schema("doc_id").dataType == IntegerType)
        assert(ints.schema("cluster_id").dataType == IntegerType)
        assert(ints.as[(Int, Int, Long)].collect().toSeq ==
          Seq((1, 1, 3L), (2, 1, 3L), (3, 1, 3L), (7, 7, 2L), (8, 7, 2L)),
          s"threshold $threshold")
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("BPE: the driver learner equals the distributed one on 200 random corpora, and so do the applied vocabs") {
    import graft.operators.TextOps
    // symbols from ASCII to the supplementary plane: "\uE000" and
    // "\uFFFD" (UTF-8 ee.., ef..) sort BEFORE the emoji and the clef
    // (f0..) in UTF-8 bytes but AFTER them in UTF-16 units (d8..), so
    // a String.compareTo tie-break would pick other merges
    val symbols = Vector("a", "b", "é", "中", "\uE000", "\uFFFD",
      new String(Character.toChars(0x1F600)),
      new String(Character.toChars(0x1D11E)))
    for (seed <- 0L until 200L) {
      val rng = new scala.util.Random(seed)
      // a 2-4 symbol alphabet per corpus keeps pair counts tied often
      val alpha = rng.shuffle(symbols).take(2 + rng.nextInt(3))
      // every 20th corpus holds only one-symbol words: dry at step 1
      val maxLen = if (seed % 20 == 0) 1 else 6
      val docs = (1 to 1 + rng.nextInt(4)).map { d =>
        (d.toLong, Seq.fill(1 + rng.nextInt(5))(
          Seq.fill(1 + rng.nextInt(maxLen))(alpha(rng.nextInt(alpha.size)))
            .mkString).mkString(" "))
      }
      val merges = rng.nextInt(7)
      withClue(s"seed $seed, merges $merges, corpus $docs: ") {
        val df = docs.toDF("doc_id", "text")
        val local = TextOps.trainBpeState(df, merges)
        val dist = TextOps.trainBpeState(df, merges, maxWords = 0)
        assert(local.words.isDefined && dist.words.isEmpty)
        assert(local.rules == dist.rules)
        if (seed % 20 == 0) assert(local.rules.isEmpty)
        val vocab = dist.vocab.as[(String, Long, Seq[String])].collect()
        assert(local.words.get.sortBy(_._1) == vocab.toSeq.sortBy(_._1))
        assert(TextOps.subwordCounts(df, local).collect().toSeq ==
          TextOps.subwordCounts(df, dist).collect().toSeq)
        assert(TextOps.docIdSequences(df, local, 1 << 20).orderBy("doc_id")
          .collect().toSeq ==
          TextOps.docIdSequences(df, dist, 1 << 20).orderBy("doc_id")
            .collect().toSeq)
        dist.vocab.unpersist()
      }
    }
  }

  test("one-shot corpus statistics equal their dim forms on 100 random corpora") {
    import graft.operators.{Dedup, TextOps}
    import graft.functions.Md5WindowHashes
    val symbols = Vector("a", "b", "é", "中", "\uFFFD",
      new String(Character.toChars(0x1F600)),
      new String(Character.toChars(0x1D11E)))
    val (n, minCount) = (2, 2)
    for (seed <- 0L until 100L) {
      val rng = new scala.util.Random(seed)
      // a 2-4 symbol alphabet and short words make repeated bigrams
      // and repeated 2-token windows common
      val alpha = rng.shuffle(symbols).take(2 + rng.nextInt(3))
      def sym() = alpha(rng.nextInt(alpha.size))
      val docs = (1 to 1 + rng.nextInt(6)).map { d =>
        val text = rng.nextInt(5) match {
          case 0 => ""
          case 1 => sym()
          case _ => Seq.fill(1 + rng.nextInt(12))(
            Seq.fill(1 + rng.nextInt(3))(sym()).mkString).mkString(" ")
        }
        (d.toLong, text, s"src${rng.nextInt(3)}")
      }
      // every 10th corpus has no target docs, the next only target docs
      val isTarget = seed % 10 match {
        case 0 => lit(false)
        case 1 => lit(true)
        case _ => col("source") === "src0"
      }
      withClue(s"seed $seed, corpus $docs: ") {
        val df = docs.toDF("doc_id", "text", "source")
        assert(TextOps.bigramFamiliarity(df).collect().toSeq ==
          TextOps.bigramFamiliarityWithDim(df, TextOps.bigramDim(df))
            .collect().toSeq)
        def masses(m: org.apache.spark.sql.DataFrame) =
          m.select("doc_id", "n_bigrams", "tmass", "rmass").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2),
              r.getDecimal(3))).sortBy(_._1).toSeq
        assert(masses(TextOps.dsirMasses(df, isTarget)) ==
          masses(TextOps.dsirMassesWithDim(df, TextOps.dsirDim(df, isTarget))))
        val bench = df.filter(col("doc_id") % 2 === 0)
        assert(TextOps.contamination(df, bench, n).collect().toSeq ==
          TextOps.contaminationMatrix(df, Seq("b" -> bench), n)
            .drop("bench").collect().toSeq)
        // a doc's dup windows are its window positions whose hash the
        // corpus dim counts at least minCount times
        val dupH = TextOps.windowDim(df, n).filter(col("occ") >= minCount)
        val viaDim = df.select(col("doc_id"), explode(Dedup.windowHashes(
            col("text"), n, 0, Md5WindowHashes.ModeAll, Dedup.xxSeeded))
            .as("h"))
          .join(dupH, Seq("h"), "left_semi")
          .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
        val spans = TextOps.duplicateSpans(df, n, minCount)
          .select("doc_id", "dup_windows").as[(Long, Long)].collect()
        assert(spans.map(_._2).sum == viaDim.values.sum)
        spans.foreach { case (id, dup) =>
          assert(dup == viaDim.getOrElse(id, 0L), s"doc $id") }
      }
    }
  }

  test("stats invariants on real data: failed ≤ total, Σ by-type ≤ total") {
    val act = graft.sources.Tables.activity(spark, sf("sf0.001"))
    val r = graft.operators.Analytics.stats(act).collect()(0)
    val total = r.getAs[Long]("total_activities")
    assert(r.getAs[Long]("failed_activities") <= total)
    val byType = r.getAs[Long]("select_count") + r.getAs[Long]("insert_count") +
      r.getAs[Long]("update_count") + r.getAs[Long]("delete_count")
    assert(byType <= total)
    assert(total == 1000L)
  }

  test("chunkWindows invariants: exact starts/lengths and full coverage over a parameter grid") {
    import graft.operators.TextOps
    val texts = samples(Gen.choose(0, 40), 30).zipWithIndex.map {
      case (n, i) => (i.toLong, (0 until n).map(k => s"w$k").mkString(" "))
    }
    val docs = texts.toDF("doc_id", "text")
    // whitespace split of "" yields [""], so every doc has >= 1 token
    val ntok = texts.map { case (id, t) =>
      id -> math.max(1, t.split("\\s+").length)
    }.toMap
    for ((w, st) <- Seq((1, 1), (5, 2), (8, 8), (16, 5))) {
      val got = TextOps.chunkWindows(docs, width = w, stride = st)
        .select($"doc_id", $"chunk_idx", $"start_tok", $"chunk_len")
        .as[(Long, Long, Long, Long)].collect().toSeq.groupBy(_._1)
      texts.foreach { case (id, _) =>
        val n = ntok(id)
        val chunks = got(id).sortBy(_._2)
        val expStarts = (0L until n.toLong by st.toLong).toSeq
        assert(chunks.map(_._3) == expStarts, s"starts w=$w st=$st id=$id")
        assert(chunks.map(_._2) == chunks.indices.map(_.toLong),
          "chunk_idx must be consecutive from 0")
        chunks.foreach { case (_, _, s, l) =>
          assert(l == math.min(w.toLong, n - s), s"len w=$w st=$st id=$id")
        }
        val covered = chunks.flatMap { case (_, _, s, l) => s until s + l }.toSet
        assert(covered == (0L until n.toLong).toSet, s"coverage w=$w st=$st id=$id")
      }
    }
  }

  test("budgetSample equals a reference fold over random corpora") {
    import graft.operators.Sampling
    val sources = Seq("a", "b", "c")
    val lens = samples(Gen.choose(1, 12), 60)
    val docs = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, (1 to n).map(k => s"x$k").mkString(" "), sources(i % 3))
    }
    val budgets = Map("a" -> 40L, "b" -> 12L) // c unlisted -> dropped
    val shards = 2
    val kept = Sampling.budgetSample(docs.toDF("doc_id", "text", "source"),
      budgets, shards)
      .select($"doc_id").as[Long].collect().toSet
    // reference fold: per (source, shard) stream in doc_id order, keep
    // while the inclusive cumulative count fits the per-shard quota
    val expect = docs.filter(d => budgets.contains(d._3))
      .groupBy(d => (d._3, d._1 % shards)).flatMap { case ((src, _), ds) =>
        var cum = 0L
        ds.sortBy(_._1).flatMap { case (id, text, _) =>
          val n = text.split("\\s+").length.toLong
          cum += n
          if (cum <= budgets(src) / shards) Some(id) else None
        }
      }.toSet
    assert(kept == expect)
  }
}
