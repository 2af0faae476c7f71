package graft

import org.apache.spark.sql.functions.col

import graft.operators.Dedup

/** Job ceilings of the curation rows whose cost is set by job count,
  * not data volume, on the sf0.01 fixture: BPE learns its merges on
  * the driver after one vocab pass, and connected components of a
  * small pair graph finish on the driver after the edge checkpoint.
  * A per-merge or per-round job loop coming back breaks these.
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
    // the vocab pass, then the 8-row rule table's sort
    val bpeMerges = rowJobs("doc_bpe_merges")
    assert(bpeMerges <= 7, s"doc_bpe_merges ran $bpeMerges jobs")
    // the pair lineage and the edge checkpoint, then one collect and
    // the write of the local membership relation
    val simhash = rowJobs("doc_simhash_clusters")
    info(s"jobs: doc_bpe_ids $bpeIds, doc_bpe_merges $bpeMerges, " +
      s"doc_simhash_clusters $simhash")
    assert(simhash <= 8, s"doc_simhash_clusters ran $simhash jobs")
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
