package graft.tools
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.LocalSession

/** sf0.1 → sf1 scaling checkpoint (round-10 verdict #7): every 100 TB
  * claim so far is argued from plan shape + sf0.1 Prof sweeps; this
  * runs the heaviest batch rows once at BOTH scales in one JVM and
  * reports the measured scaling exponent per row
  * (log10(t_sf1 / t_sf01), since the corpus grows exactly 10×) —
  * linear screens should land ≈1.0 (plus fixed-cost dilution below
  * it), the banding families at their measured candidate exponents,
  * and anything > 1.3 is a plan-audit flag.
  *
  * The sf1 fixture is SYNTHESIZED for profiling only (never for
  * correctness — oracles keep running on the driver's parquet): ten
  * copies of the sf0.1 documents with each copy's tokens prefixed by
  * a copy tag (copy 0 unprefixed). Disjoint vocabularies mean no
  * artificial cross-copy near-dups or shared n-grams: per-document
  * structure (dup density, quality signals, within-copy sharing) is
  * EXACTLY sf0.1's, corpus-level dims and joins grow 10× — the clean
  * null model for an engine-scaling exponent. Embeddings are id-
  * shifted copies (vector duplication doesn't change scan/ADC cost).
  */
object Scale1Prof {

  /** Synthesize the NON-document tables at 10× for the `tail` mode:
    * per copy k, primary keys shift by k·(max+1) and every foreign
    * key shifts by ITS table's stride, so referential joins stay
    * consistent and key cardinality scales 10×; region/nation stay
    * fixed (TPC-H keeps them constant with SF); event user_ids shift
    * so per-user row counts hold while the user population grows.
    */
  private def synthesizeAllTables(spark: SparkSession, sf01: String,
                                  sf1: String): Unit = {
    def stride(path: String, key: String): Long =
      spark.read.parquet(path).agg(max(col(key))).head().getLong(0) + 1
    def build(table: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val dst = s"$sf1/$table.parquet"
      if (!new java.io.File(dst).exists()) {
        val src = spark.read.parquet(s"$sf01/$table.parquet")
        (0 until 10).map(k => copy(src, k)).reduce(_ unionByName _)
          .repartition(32).write.mode("overwrite").parquet(dst)
        println(s"[scale1-tail] built $dst")
      }
    }
    def copyDim(table: String): Unit = {
      val dst = s"$sf1/$table.parquet"
      if (!new java.io.File(dst).exists()) {
        spark.read.parquet(s"$sf01/$table.parquet")
          .write.mode("overwrite").parquet(dst)
        println(s"[scale1-tail] copied dim $dst")
      }
    }
    copyDim("region"); copyDim("nation")
    val cust = stride(s"$sf01/customer.parquet", "c_custkey")
    val supp = stride(s"$sf01/supplier.parquet", "s_suppkey")
    val part = stride(s"$sf01/part.parquet", "p_partkey")
    val ord = stride(s"$sf01/orders.parquet", "o_orderkey")
    val ev = stride(s"$sf01/events.parquet", "event_id")
    val usr = stride(s"$sf01/events.parquet", "user_id")
    build("customer")((df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(k * cust)))
    build("supplier")((df, k) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(k * supp)))
    build("part")((df, k) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(k * part)))
    build("orders")((df, k) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(k * ord))
      .withColumn("o_custkey", col("o_custkey") + lit(k * cust)))
    build("lineitem")((df, k) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(k * ord))
      .withColumn("l_partkey", col("l_partkey") + lit(k * part))
      .withColumn("l_suppkey", col("l_suppkey") + lit(k * supp)))
    build("events")((df, k) => df
      .withColumn("event_id", col("event_id") + lit(k * ev))
      .withColumn("user_id", col("user_id") + lit(k * usr)))
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession("32")
    val sf01 = "/root/testdata/sf0.1"
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft-sf1")

    if (!new java.io.File(s"$sf1/documents.parquet").exists()) {
      val docs = spark.read.parquet(s"$sf01/documents.parquet")
      val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
      (0 until 10).map { k =>
        val tagged =
          if (k == 0) docs
          else docs.withColumn("text",
            array_join(transform(split(col("text"), " "),
              t => concat(lit(s"c$k"), t)), " "))
        tagged.withColumn("doc_id", col("doc_id") + lit(k * n))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$sf1/documents.parquet")
      val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
      val m = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
      (0 until 10).map(k =>
        emb.withColumn("vec_id", col("vec_id") + lit(k * m)))
        .reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$sf1/embeddings.parquet")
      println(s"[scale1] built $sf1")
    }

    // `tail` mode (round-11 verdict #5): the checkpoint above covers
    // the 10 heaviest rows; the battery's 180-row tail was argued
    // from plan shape only. This synthesizes the REMAINING tables at
    // 10× (key-shifted copies: primary and foreign keys shift
    // together so joins stay consistent and key cardinalities scale;
    // region/nation stay fixed dims, the TPC-H convention; event
    // timestamps keep their window — 10× traffic in the same hours,
    // the production shape) and runs the FULL battery at both
    // scales. Planted-fixture rows (doc_id < 300 etc.) are
    // constant-input by construction and should land ≈0; the audit
    // flag is exponent > 1.3 on any row.
    if (args.contains("tail")) {
      synthesizeAllTables(spark, sf01, sf1)
      val names = graft.SparkEntry.queries.keys.toSeq.sorted
      def time1(name: String, dir: String): Double = {
        val t0 = System.nanoTime()
        try {
          graft.SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(
              s"[scale1-tail] $name@$dir failed: ${e.getMessage}")
            -1.0
        }
      }
      // full warmup pass at BOTH scales: sf0.1 for JIT, and sf1 so
      // the timed sf1 run doesn't include one-time ensure*Index
      // builds over 10× data inside its window — a cold build
      // inflates an index-backed row's exponent far above its actual
      // probe scaling (the round-12 review's false->1.3-flag risk);
      // warm-vs-warm measures the serving path both sides
      names.foreach(time1(_, sf01))
      names.foreach(time1(_, sf1))
      var flagged = List.empty[String]
      names.foreach { name =>
        val t01 = time1(name, sf01)
        val t1 = time1(name, sf1)
        val exp =
          if (t01 > 0 && t1 > 0) math.log10(t1 / t01) else Double.NaN
        if (exp > 1.3) flagged ::= name
        println(f"[scale1-tail] $name%-32s sf0.1=$t01%7.2f  " +
          f"sf1=$t1%8.2f  exp=$exp%5.2f")
      }
      println(s"[scale1-tail] FLAGGED(>1.3): " +
        (if (flagged.isEmpty) "none" else flagged.sorted.mkString(", ")))
      spark.stop()
      return
    }

    // `sf10` mode (round-12 verdict #5): one more DECADE for the
    // connected-components / banding family — the highest measured
    // engine exponents (doc_simhash_clusters 0.57, doc_phrase_lookup
    // 0.47, doc_cluster_dedup 0.45 at sf0.1→sf1) are fine at 10× but
    // were unmeasured at 100×. Same synthesized-tables trick, 100
    // disjoint-vocabulary copies (c1..c99 token prefixes): per-copy
    // duplicate/banding structure is exactly sf0.1's, corpus-level
    // dims grow 100×. Prints BOTH decade exponents per row; the
    // audit flag stays exponent > 1.3 on either decade.
    if (args.contains("sf10")) {
      val sf10 = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR",
        "/tmp/graft-sf10")
      if (!new java.io.File(s"$sf10/documents.parquet").exists()) {
        val docs = spark.read.parquet(s"$sf01/documents.parquet")
        val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
        (0 until 100).map { k =>
          val tagged =
            if (k == 0) docs
            else docs.withColumn("text",
              array_join(transform(split(col("text"), " "),
                t => concat(lit(s"c$k"), t)), " "))
          tagged.withColumn("doc_id", col("doc_id") + lit(k * n))
        }.reduce(_ unionByName _)
          .repartition(64)
          .write.mode("overwrite").parquet(s"$sf10/documents.parquet")
        println(s"[scale1-sf10] built $sf10")
      }
      // 100× embeddings (id-shifted copies, as for the sf1
      // index-build measurement): the r13 follow-up decade for emb_semdedup's
      // auto-sized rung — at 100× the rung ladder selects nlist=4096
      // and the Lloyd-assignment FLOP term (n·nlist, scan-local) is
      // no longer dwarfed by the pair stage it bounds; this measures
      // whether that documented term flags at the third decade.
      if (!new java.io.File(s"$sf10/embeddings.parquet").exists()) {
        val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
        val m = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
        (0 until 100).map(k =>
          emb.withColumn("vec_id", col("vec_id") + lit(k * m)))
          .reduce(_ unionByName _)
          .repartition(64)
          .write.mode("overwrite").parquet(s"$sf10/embeddings.parquet")
        println(s"[scale1-sf10] built $sf10 embeddings")
      }
      // `sf10 semdedup decompose` splits the emb_semdedup row into
      // its stages at each scale — which term owns the third-decade
      // exponent (1.15): the rung-sizing count, the Lloyd TRAINING
      // passes (iters × [assignment scan + decimal-mean agg]), or
      // the assignment + Σ|c|² prune that semDedupWithCentroids
      // runs. The split decides whether the documented two-level
      // quantizer escape is worth building or the cost lives
      // elsewhere.
      if (args.contains("decompose")) {
        import graft.operators.Similarity
        def stage(tag: String, f: () => Unit): Double = {
          val t0 = System.nanoTime()
          f(); val t = (System.nanoTime() - t0) / 1e9
          println(f"[semdedup-decomp] $tag%-34s $t%8.2f s"); t
        }
        for (dir <- Seq(sf01, sf1, sf10)) {
          val emb = graft.rows.EmbRows.plantedEmbeddings(spark, dir)
          // warm the lineage once so stage 1 isn't also paying scan JIT
          emb.write.format("noop").mode("overwrite").save()
          println(s"[semdedup-decomp] --- $dir ---")
          var n = 0L
          stage("count (rung sizing)", () => { n = emb.count(); () })
          val k = Similarity.semDedupNlist(n)
          println(s"[semdedup-decomp] n=$n nlist=$k")
          var cents: Array[Array[Double]] = null
          stage(s"trainCentroids(k=$k, iters=3)",
            () => { cents = Similarity.trainCentroids(emb, k, 3); () })
          stage("assign+prune (semDedupWithCentroids)",
            () => Similarity.semDedupWithCentroids(emb, cents)
              .write.format("noop").mode("overwrite").save())
          stage("assign only (cid scan)",
            () => emb.withColumn("cid",
                Similarity.assignCentroid(col("embedding"), cents))
              .write.format("noop").mode("overwrite").save())
          // the prune's inner 'dropped' subquery alone (same shape as
          // the operator's): apportions the assign+prune residual
          // between the pair-scoring self-join and the final
          // keep-join + sort
          stage("pair-score join only (dropped)", () => {
            val assigned = emb
              .withColumn("cid",
                Similarity.assignCentroid(col("embedding"), cents))
              .withColumn("norm", Similarity.l2norm(col("embedding")))
              .select(col("vec_id"), col("cid"), col("embedding"),
                col("norm"))
            assigned.alias("a")
              .join(assigned.alias("b"),
                col("a.cid") === col("b.cid") &&
                  col("a.vec_id") < col("b.vec_id"))
              .filter(round(Similarity.dot(col("a.embedding"),
                col("b.embedding")) /
                (col("a.norm") * col("b.norm")), 4) >= 0.9)
              .select(col("b.vec_id").as("vec_id")).distinct()
              .write.format("noop").mode("overwrite").save()
          })
        }
        spark.stop()
        return
      }
      // `sf10 decontam-pinned`: the emb_decontam row FLAGGED at the
      // third decade (exp 1.87) because the fixture's eval set is a
      // corpus FRACTION (vec_id % 95) — the fixture scales the
      // benchmark with the corpus, which the operator's contract
      // (eval = a CONSTANT benchmark, broadcast literals) never does.
      // This isolates the corpus-scan exponent: same corpora, eval
      // set PINNED to sf0.1's 21 vectors at every scale.
      if (args.contains("decontam-pinned")) {
        import graft.operators.Similarity
        val ev = graft.sources.Tables.embeddings(spark, sf01)
          .filter(col("vec_id") % 95 === 0)
        for (dir <- Seq(sf01, sf1, sf10)) {
          def once(): Double = {
            val t0 = System.nanoTime()
            Similarity.semanticDecontam(
                graft.rows.EmbRows.plantedEmbeddings(spark, dir), ev,
                minCos = 0.9)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          once()
          println(f"[decontam-pinned] $dir%-22s ${Seq(once(), once()).min}%8.2f s")
        }
        spark.stop()
        return
      }
      // `sf10 semdedup` runs ONLY the auto-rung row at the third
      // decade (the CC family's decade is already recorded — no need
      // to re-pay its ~20 min alongside); `sf10 rows=a,b,c` names an
      // arbitrary row set
      val ccRows = args.find(_.startsWith("rows=")) match {
        case Some(r) => r.stripPrefix("rows=").split(",").toSeq
        case None =>
          if (args.contains("semdedup")) Seq("emb_semdedup")
          else Seq("doc_simhash_clusters", "doc_cluster_dedup",
            "doc_phrase_lookup", "doc_simhash_neardups", "doc_line_dedup")
      }
      def timeAt(name: String, dir: String): Double = {
        val t0 = System.nanoTime()
        try {
          graft.SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(
              s"[scale1-sf10] $name@$dir failed: ${e.getMessage}")
            -1.0
        }
      }
      // warm pass per scale: JIT + one-time ensure* index builds land
      // outside the timed window (the tail-mode discipline)
      ccRows.foreach(timeAt(_, sf01))
      ccRows.foreach(timeAt(_, sf1))
      ccRows.foreach(timeAt(_, sf10))
      var flagged = List.empty[String]
      ccRows.foreach { name =>
        val t01 = timeAt(name, sf01)
        val t1 = timeAt(name, sf1)
        val t10 = timeAt(name, sf10)
        val e1 = if (t01 > 0 && t1 > 0) math.log10(t1 / t01) else Double.NaN
        val e2 = if (t1 > 0 && t10 > 0) math.log10(t10 / t1) else Double.NaN
        if (e1 > 1.3 || e2 > 1.3) flagged ::= name
        println(f"[scale1-sf10] $name%-24s sf0.1=$t01%7.2f  sf1=$t1%8.2f" +
          f"  sf10=$t10%9.2f  exp01_1=$e1%5.2f  exp1_10=$e2%5.2f")
      }
      println(s"[scale1-sf10] FLAGGED(>1.3): " +
        (if (flagged.isEmpty) "none" else flagged.sorted.mkString(", ")))
      spark.stop()
      return
    }

    val rows = Seq(
      "doc_substring_dupes", "doc_decontam_normalized",
      "doc_split_leakage", "doc_line_dedup", "doc_cluster_dedup",
      "doc_simhash_clusters", "doc_jaccard_pairs", "doc_bpe_tokens",
      "emb_ivfpq_ann", "doc_phrase_lookup",
      // round-12 verdict #1 re-measure: the battery's one superlinear
      // row (exponent 1.26 under fixed nlist=8) with the auto-sized
      // rung (480 -> 8, 4800 -> 128; cell stays <= 64)
      "emb_semdedup")
    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[scale1] $name@$dir failed: ${e.getMessage}")
          -1.0
      }
    }
    // one JIT warmup on the small scale so sf0.1 cold-start doesn't
    // deflate the measured ratio
    rows.foreach(time(_, sf01))
    rows.foreach { name =>
      val t01 = time(name, sf01)
      val t1 = time(name, sf1)
      val exp =
        if (t01 > 0 && t1 > 0) math.log10(t1 / t01) else Double.NaN
      println(f"[scale1] $name%-24s sf0.1=$t01%7.2f s  sf1=$t1%8.2f s" +
        f"  ratio=${t1 / t01}%6.2f  exponent=$exp%5.2f")
    }
    spark.stop()
  }
}
