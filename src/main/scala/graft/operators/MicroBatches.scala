package graft.operators

import org.apache.spark.sql.DataFrame
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
}
