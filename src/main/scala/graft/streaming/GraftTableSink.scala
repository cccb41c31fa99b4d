package graft.streaming

import graft.txn.{CommitInfo, TableWriter, TxnLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming sink INTO the graft table format: each micro-batch appends
  * as one transaction-log commit, so the table's CDC stream can be
  * tailed right back out — the write half of an end-to-end
  * stream → table → CDC pipeline.
  *
  * Exactly-once across restarts comes from a txn marker (Delta's
  * appId/version idea): the batchId is recorded in the CommitInfo
  * operation, and a re-delivered batch that is already in the log is
  * skipped. Markers are checked newest-first and the scan stops at the
  * first OLDER stream batch (batch ids commit in order), so the check
  * reads O(1) commits in steady state, not the whole log.
  */
object GraftTableSink {

  private def marker(batchId: Long) = s"STREAM_BATCH_$batchId"
  private val MarkerRe = "STREAM_BATCH_(\\d+)".r

  /** Commit one micro-batch idempotently; returns true if it wrote. */
  def commitBatch(
      batch: DataFrame,
      tablePath: String,
      batchId: Long,
      partitionBy: Seq[String] = Seq.empty,
      commitTs: Long = System.currentTimeMillis()): Boolean = {
    val spark = batch.sparkSession
    val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
    val versions = log.versions()
    val committed = versions.reverse.view.map { v =>
      log.read(v).collectFirst { case c: CommitInfo => c.operation }
    }.collectFirst {
      case Some(op) if op == marker(batchId) => true
      case Some(MarkerRe(k)) if k.toLong < batchId => false
    }.getOrElse(false)
    if (committed) return false
    // the batch writes on the snapshot of the version the marker check saw
    val base = versions.lastOption.map(log.snapshot)
    TableWriter.writeOn(spark, batch, tablePath, base, partitionBy,
      version = base.fold(0L)(_.version + 1), commitTs = commitTs,
      operation = marker(batchId))
    true
  }

  /** Start a streaming append of `df` into the table. */
  def append(
      df: DataFrame,
      tablePath: String,
      checkpointLocation: String,
      partitionBy: Seq[String] = Seq.empty): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch, tablePath, batchId, partitionBy)
        ()
      }
      .start()

  /** Streaming MATERIALIZED VIEW: an update-mode aggregation whose
    * per-batch changed rows MERGE into the table by key — the table
    * always holds the current aggregate state, queryable by any batch
    * reader mid-stream, with time travel over its refresh history.
    * Idempotence: replayed batches re-merge the same rows (merge is
    * idempotent for identical source rows), so a restart cannot
    * double-count.
    */
  def upsertAggregate(
      aggregated: DataFrame,
      tablePath: String,
      keyCols: Seq[String],
      checkpointLocation: String): StreamingQuery =
    aggregated.writeStream
      .outputMode("update") // only changed keys reach each batch
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
        val next = log.latestVersion().map(_ + 1).getOrElse(0L)
        if (next == 0L)
          TableWriter.write(spark, batch, tablePath, version = 0L,
            commitTs = System.currentTimeMillis(),
            operation = marker(batchId))
        else if (!batch.isEmpty)
          TableWriter.mergeUpsert(spark, tablePath, batch, keyCols,
            version = next, commitTs = System.currentTimeMillis())
        ()
      }
      .start()
}
