package dambench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.SparkEntry
import graft.sources.Tables

/** `curation_batch`: a closed loop over a fixed list of heavy LLM-data
  * rows of `SparkEntry.queries`, each run to the noop sink. The first
  * warm-up pass writes every row's output as parquet, with its oracle
  * SQL, for the launcher's DuckDB digest check.
  */
object CurationBatch {
  /** Heavy LLM-data rows: simhash and minhash dedup (`Dedup`), the IVF
    * read path (`Similarity`), n-gram decontamination and BPE encoding
    * (`TextOps`). */
  val Rows: Seq[String] = Seq(
    "doc_simhash_clusters", "doc_minhash_neardups", "doc_decontam_normalized",
    "emb_ivf_indexed", "doc_bpe_ids")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    // set-up: stage the tables into the set-up directory and build the
    // durable IVF index the `emb_ivf_indexed` read path probes
    val (dir, setupS) = ctx.setup { d =>
      val tables = s"$d/tables"
      new java.io.File(tables).mkdirs()
      Seq("documents", "embeddings").foreach { t =>
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"${ctx.dataDir}/$t.parquet"),
          java.nio.file.Paths.get(s"$tables/$t.parquet"))
      }
      graft.operators.Similarity.ensureIvfIndex(spark, s"$tables/embeddings.parquet",
        Tables.embeddings(spark, tables))
      tables
    }
    // the warm-up pass writes every row's output, with its oracle SQL,
    // for the launcher's DuckDB digest check. It is not timed, so its
    // rows run side by side, each on its own thread.
    val pool = Executors.newFixedThreadPool(Rows.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val (_, warmupS) = Stats.timed(try Await.result(Future.traverse(Rows) { row => Future {
      SparkEntry.queries(row)(spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(s"${ctx.workDir}/out/$row")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${ctx.workDir}/out/$row.sql"), SparkEntry.oracleSql(row))
    }}, Duration.Inf) finally pool.shutdown())
    r.note("warmup_s", f"$warmupS%.3f")
    r.note("oracle_rows", Rows.mkString(","))
    // the rows run round-robin, in whole passes, for the window and at
    // least two passes. A pass is read as the sum over rows of each
    // row's median time, and the rate as the rows per second of the
    // median pass's wall time, which also holds the Spark driver's
    // time between runs. A traced run measures twice as long, in groups of
    // four passes traced in the order untraced, traced, traced,
    // untraced, so warm-up drift weighs on both sets alike.
    final case class Window(times: Map[(String, Boolean), Seq[Double]],
                            passes: Seq[(Boolean, Double)], rows: Int)
    def window(seconds: Int, group: Int, traced: Int => Boolean): Window = {
      val times = scala.collection.mutable.Map.empty[(String, Boolean), Seq[Double]]
      val passes = Seq.newBuilder[(Boolean, Double)]
      val t0 = System.nanoTime()
      var n = 0
      var p = 0
      while ((System.nanoTime() - t0) / 1e9 < seconds || p < 2 || p % group != 0) {
        val on = traced(p)
        ctx.tracer.foreach(_.enabled = on)
        val (_, wallS) = Stats.timed(Rows.foreach { row =>
          def go(): Unit = SparkEntry.queries(row)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          val (_, s) = Stats.timed(ctx.tracer.fold(go())(t =>
            t.op(s"run-$n")(t.span(s"curation.$row", "curation")(go()))))
          times((row, on)) = times.getOrElse((row, on), Seq.empty) :+ s * 1000
          n += 1
        })
        passes += on -> wallS
        p += 1
      }
      ctx.tracer.foreach(_.enabled = false)
      Window(times.toMap, passes.result(), n)
    }
    def passMs(w: Window, traced: Boolean): Double =
      w.times.collect { case ((_, `traced`), ms) => Stats.median(ms) }.sum
    ctx.tracer.foreach(_.mark())
    val w = ctx.tracer.fold(window(ctx.seconds, 1, _ => false))(_ =>
      window(2 * ctx.seconds, 4, p => p % 4 == 1 || p % 4 == 2))
    val passS = passMs(w, traced = false) / 1000
    val passWallS = w.passes.collect { case (false, s) => s }
    r.metric("setup_s", setupS, "s")
    r.metric("pass_s", passS, "s")
    r.metric("op_p50_ms", passS * 1000, "ms")
    r.metric("rate_per_s", Rows.size / Stats.median(passWallS), "1/s")
    r.note("pass_wall_s", passWallS.map(s => f"$s%.3f").mkString(" "))
    r.note("row_runs", w.rows)
    r.note("row_ms", w.times.toSeq.sortBy(_._1._1).collect { case ((row, false), ms) =>
      s"$row=${ms.map(x => f"$x%.0f").mkString("/")}" }.mkString(" "))
    w.times.foreach { case ((row, false), ms) => r.metric(s"$row.ms_p50", Stats.median(ms), "ms")
                      case _ => }
    ctx.tracer.foreach { t =>
      val tracedRuns = w.times.collect { case ((_, true), ms) => ms.size }.sum.toDouble
      t.overheadMetric(r, passMs(w, traced = true), passMs(w, traced = false))
      t.engineMetrics(r, perOp = tracedRuns / Rows.size)
      t.rowMetrics(r, Rows)
      t.selfTimes(r)
    }
  }
}
