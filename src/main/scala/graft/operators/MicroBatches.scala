package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The one micro-batch loop: every stream of the library starts here
  * (the E1 ingest and rejects streams, index maintenance, serving,
  * sampling, drift, span dedup, curation) — append output mode, a
  * checkpoint, a processing-time trigger, and a body that receives
  * each batch with its id, the id every replay-idempotent body keys
  * its output or commit marker on.
  */
object MicroBatches {
  def start(source: DataFrame, checkpointDir: String, triggerMs: Long)
           (body: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch(body)
      .start()

  /** The stateless serving loop: `op` runs on each micro-batch and its
    * result lands under `outDir/batch_id=<id>` ([[writeBatch]]).
    *
    * Replay contract: a batch replayed after a crash (its output
    * landed, its checkpoint commit did not) recomputes `op` over the
    * same input and OVERWRITES its own partition, so the sink holds
    * each batch's rows once; an empty batch touches no partition.
    * `op` re-reads whatever durable inputs it names on every batch,
    * so an index append lands in the NEXT batch's results with no
    * restart. Composed forms: ANN serving
    * (`serve(…)(b => Similarity.knnJoinIndexed(b.sparkSession, dir, b, k, nprobe))`),
    * prefix-IVF serving ([[Similarity.prefixIvfKnnJoin]]), BM25
    * serving ([[TextOps.bm25SearchIndexed]]) and the drift monitor
    * ([[TextOps.bigramDriftDims]] against a persisted baseline).
    */
  def serve(source: DataFrame, checkpointDir: String, outDir: String,
            triggerMs: Long)(op: DataFrame => DataFrame): StreamingQuery =
    start(source, checkpointDir, triggerMs) { (batch, id) =>
      writeBatch(op(batch), outDir, "batch_id", id)
    }

  /** The replay-idempotent per-batch output: `df` lands under
    * `<leading…>/<batchCol>=<id>` in `dir` by DYNAMIC partition
    * overwrite, so a batch replayed after a crash rewrites its own
    * partition instead of appending a second copy (a plain append is
    * at-least-once across the window between the write and the
    * checkpoint commit). `leading` partition columns must already be
    * in `df`.
    */
  def writeBatch(df: DataFrame, dir: String, batchCol: String, id: Long,
                 leading: String*): Unit =
    df.withColumn(batchCol, lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(leading :+ batchCol: _*)
      .parquet(dir)
}
