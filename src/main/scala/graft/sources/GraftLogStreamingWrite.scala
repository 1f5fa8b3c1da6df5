package graft.sources

import graft.io.CommitLog

/** Structured-Streaming SINK over the transactional commit log — what
  * `df.writeStream.format("graftlog").start(dir)`,
  * `df.writeStream.toTable("graft.ns.t")` and every other
  * `STREAMING_WRITE` route plan, so log → transform → log pipelines
  * compose without a hand-written `foreachBatch`. Executor tasks write
  * each epoch's parquet files straight into the table dir through the
  * same per-task writer the row-level DML path uses (invisible until
  * committed), and the driver lands ONE txn-marked commit per epoch
  * ([[CommitLog.txnCommitFiles]]). The transaction identity is the
  * `txnAppId` option, else the `checkpointLocation` (stable across
  * restarts of one query, distinct between queries), marker
  * `<identity>:<epochId>` ([[CommitLog.streamingBatchWriter]] is the
  * `foreachBatch` form of the same contract). A crash-replayed epoch is recognized in the log, commits nothing, and
  * its re-staged files are deleted as garbage: exactly-once, end to end,
  * with no rows moving through the driver (the public Delta sink's
  * idempotence contract). `OutputMode.Complete` maps to an atomic
  * whole-snapshot replacement in the same commit, also replay-skipped via
  * the marker; Update mode is refused — the log is append/replace-only by
  * design. */
private[sources] final class GraftLogStreamingWrite(
    table: String, txnPrefix: String, complete: Boolean,
    schema: org.apache.spark.sql.types.StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val kit = org.apache.spark.sql.GraftSqlShim.parquetWriteKit(
    org.apache.spark.sql.SparkSession.active,
    graft.io.CommitLog.physicalizeNames(table, schema)) // physical names for renamed columns

  // per-row write invariants at stream START (CHECK constraints + NOT
  // NULL columns; logical names, bound by position): every epoch's rows
  // validate executor-side, so a streaming ingest cannot land rows a
  // batch append would refuse
  private val checks = graft.io.CommitLog.rowCheckSpecs(table).map {
    case (n, e) => (n, org.apache.spark.sql.GraftSqlShim.rowCheck(
      org.apache.spark.sql.SparkSession.active, schema, e))
  }

  private def txnId(epochId: Long) = s"$txnPrefix:$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftLogStreamingWriterFactory(new GraftParquetWriterFactory(table, kit, checks))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val added = messages.toSeq.collect { case GraftFilesMessage(fs) => fs }.flatten
    if (CommitLog.txnCommitFiles(table, added, txnId(epochId), replace = complete).isEmpty) {
      // a recognized replay: the epoch already committed, so this
      // attempt's re-staged files are unreferenced garbage — reclaim now
      added.foreach(f =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(table, f)))
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.collect { case GraftFilesMessage(fs) => fs }.flatten
      .foreach(f =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(table, f)))

  override def toString: String =
    s"GraftLogStreamingWrite[$table, ${if (complete) "complete" else "append"}]"
}

/** Ships to executors (must not capture the driver-side write object):
  * epoch-agnostic — file uniqueness comes from the per-attempt names, and
  * epoch identity lives in the driver's txn-marked commit. */
private[sources] final case class GraftLogStreamingWriterFactory(
    delegate: GraftParquetWriterFactory)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    delegate.createWriter(partitionId, taskId)
}
