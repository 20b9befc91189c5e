package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Exactly-once micro-batch sink for `foreachBatch`: Structured
  * Streaming guarantees at-least-once delivery to the sink function —
  * after a crash between a successful write and the checkpoint commit,
  * the SAME batchId is replayed. This sink makes the write idempotent,
  * which upgrades the pipeline to exactly-once: each batch is one
  * [[Store.Append]] commit to the `batches` table of the store at `root`
  * carrying the batch id as the head's `txn`, and a batch id at or below
  * the head's txn is skipped (Delta's SetTransaction rule). A crash before the
  * commit leaves torn files no reader sees, swept by the replay's commit.
  */
object IdempotentSink {

  private val Table = "batches"

  def alreadyCommitted(root: String, batchId: Long): Boolean =
    Store.head(root).txn.exists(batchId <= _)

  /** Write one micro-batch; returns false when the batchId was already
    * committed (the replay case) and nothing was written. */
  def writeBatch(df: DataFrame, root: String, batchId: Long): Boolean =
    Store.commit(root, Seq(Store.Append(Table, df)), Some(batchId))

  /** Ready-made `foreachBatch` function. */
  def sink(root: String): (DataFrame, Long) => Unit =
    (df, batchId) => { writeBatch(df, root, batchId); () }

  /** Every committed batch (torn writes invisible); `schema` covers the
    * zero-committed-batches case. */
  def readCommitted(spark: SparkSession, root: String,
                    schema: StructType): DataFrame =
    Store.read(spark, root, Table, schema)
}
