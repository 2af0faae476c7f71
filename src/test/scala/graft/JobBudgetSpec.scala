package graft

import org.apache.spark.sql.functions.col

import graft.operators.{Curation, Dedup}

/** Job ceilings of the curation rows whose cost is set by job count,
  * not data volume, on the sf0.01 fixture: BPE learns its merges on
  * the driver after one vocab pass, connected components of a small
  * pair graph finish on the driver after the edge checkpoint, DSIR
  * rolls its grain up once, and a curation maintenance step builds
  * its stages once. A per-merge or per-round job loop, a re-forked
  * one-shot statistic or a second text-layer pass coming back breaks
  * these.
  */
class JobBudgetSpec extends SparkSpecBase {
  import spark.implicits._

  private def rowJobs(name: String): Int = {
    val q = SparkEntry.queries(name)
    def once() = QueryMetrics.measure(spark) {
      q(spark, sf("sf0.01")).write.format("noop").mode("overwrite").save()
    }
    once() // warm: file listings, codegen
    once().jobs
  }

  test("job budget: doc_bpe_ids, doc_bpe_merges and doc_simhash_clusters stay within their ceilings") {
    // one vocab pass (spread, aggregate, collect), then the apply
    // query (spread, broadcast build, per-doc regroup, 3-job sort);
    // the per-merge loop ran 3 jobs per merge on top
    val bpeIds = rowJobs("doc_bpe_ids")
    assert(bpeIds <= 10, s"doc_bpe_ids ran $bpeIds jobs")
    // the vocab pass (spread, aggregate, collect), then the write of
    // the driver-built rule table, already in step order
    val bpeMerges = rowJobs("doc_bpe_merges")
    assert(bpeMerges <= 5, s"doc_bpe_merges ran $bpeMerges jobs")
    // the pair lineage and the edge checkpoint, then one collect and
    // the write of the local membership relation
    val simhash = rowJobs("doc_simhash_clusters")
    info(s"jobs: doc_bpe_ids $bpeIds, doc_bpe_merges $bpeMerges, " +
      s"doc_simhash_clusters $simhash")
    assert(simhash <= 8, s"doc_simhash_clusters ran $simhash jobs")
  }

  test("job budget: doc_dsir_weight rolls its grain up once") {
    // the grain checkpoint, then ONE (rc, tc) roll-up broadcast back;
    // two roll-ups and two broadcast joins (the re-forked one-shot)
    // ran 12 jobs
    val dsir = rowJobs("doc_dsir_weight")
    info(s"jobs: doc_dsir_weight $dsir")
    assert(dsir <= 10, s"doc_dsir_weight ran $dsir jobs")
  }

  test("job budget: one curation maintenance step builds the batch text layer once") {
    import java.nio.file.Files
    def body(i: Long): String =
      (0 until 60).map(j => s"w${i * 7 + j}").mkString(" ")
    val corpus = (0L until 40L)
      .map(i => (i, s"BOILER HEADER\n${body(i)}\nBOILER FOOTER", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    val batch = Seq(
      (1003L, body(3) + " tail", "src0"),
      (1100L, s"BOILER HEADER\n${body(100)}\nBOILER FOOTER", "src0"),
      (1101L, body(200), "src1"))
      .toDF("doc_id", "text", "source")
    val state = Curation.stateOf(corpus)
    // each step advances a fresh state dir (first run warms the
    // listings and codegen), so both measure the same work
    def step(): QueryMetrics = {
      val dir = Files.createTempDirectory("maint_jobs").toString
      Curation.writeState(state, s"$dir/state")
      QueryMetrics.measure(spark) {
        Curation.maintenanceStep(batch, 0L, s"$dir/state", s"$dir/out",
          lineMinDf = 5, minJaccard = 0.3, benchMod = 29, decontamN = 8,
          targetSources = Seq("src0", "src2", "src4"), budget = 512,
          shards = 4)
      }
    }
    step()
    val m = step()
    info(m.toString)
    // the product is written through the curateIncremental join and
    // the advance reuses the stages' pinned text layer; a second
    // quality + line-dedup pass over the batch ran 85 jobs
    assert(m.jobs <= 63, s"maintenanceStep: $m")
  }

  test("job budget: driver-side connected components take at most 3 jobs past the edge checkpoint") {
    // 40-node chain: the distributed loop needs several rounds here
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .localCheckpoint(true)
    val m = QueryMetrics.measure(spark) {
      Dedup.clusterMembership(pairs).write.format("noop").mode("overwrite").save()
    }
    info(m.toString)
    // the edge checkpoint over the materialized pairs is one job
    assert(m.jobs - 1 <= 3, s"clusterMembership: $m")
    assert(Dedup.clusterMembership(pairs).filter(col("cluster_id") =!= 0L)
      .isEmpty)
  }
}
