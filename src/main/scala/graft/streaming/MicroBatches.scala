package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** How every stream graft starts is attached and checkpointed: the
  * `Pipeline` apply and each streaming monitor run `body` once per
  * micro-batch of `input`, with the batch id Spark assigns, and keep
  * their source offsets and commits at `checkpointPath`. A batch whose
  * commit did not land before a stop or crash is handed to `body` again,
  * with the same id, on the next start from that checkpoint; the bodies
  * make that replay harmless (the [[BatchLog]] partition per id, the
  * upsert watermark).
  *
  * This is the one place a per-micro-batch concern (a progress record,
  * admission sizing) is added for every stream at once. */
private[graft] object MicroBatches {

  def start(input: DataFrame, checkpointPath: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch(body)
      .start()
}
