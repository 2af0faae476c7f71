package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The one stream starter behind the operators' replayable
  * micro-batch loops (index maintenance, serving, sampling, drift,
  * curation): append output mode, a checkpoint, a processing-time
  * trigger, and a body that receives each batch with its id — the id
  * every replay-idempotent body keys its output or commit marker on.
  */
private[graft] object MicroBatches {
  def start(source: DataFrame, checkpointDir: String, triggerMs: Long)
           (body: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch(body)
      .start()

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
