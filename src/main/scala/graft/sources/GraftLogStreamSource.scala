package graft.sources

import java.nio.file.NoSuchFileException

import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.types.StructType

import graft.io.CommitLog

/** A commit-log version as a streaming offset. Serialized as the bare
  * version number, so a checkpoint written by one engine build replays in
  * any other ({{"0"}} in the offset log means "everything through commit
  * v0 has been delivered"). */
final case class GraftLogOffset(version: Long) extends Offset {
  override def json: String = version.toString
}

object GraftLogOffset {
  /** Offsets come back from the checkpoint log as `SerializedOffset`
    * wrappers; the version is whatever `json` says either way. */
  def versionOf(o: Offset): Long = o match {
    case GraftLogOffset(v) => v
    case other => other.json.trim.toLong
  }
}

/** Version pacing shared by the log's two streaming readers (the V1
  * change-feed [[GraftLogStreamSource]] and the V2 snapshot
  * [[GraftLogMicroBatchStream]]). `offered` is the highest
  * version offered as a batch end. It is driver-local: after a restart it
  * re-seeds from the offsets the engine hands back ([[seen]]), since the
  * engine replays the in-flight batch before asking for new offsets.
  * `Trigger.AvailableNow` pins the log head once at query start
  * ([[pinHead]]); the engine then keeps triggering until the offset stops
  * advancing, so a drain still honors `maxVersionsPerTrigger` batch by
  * batch. */
private[sources] final class VersionPacer(path: String, val startingVersion: Long,
                                          maxVersionsPerTrigger: Option[Long]) {
  require(startingVersion >= 0,
    s"graftlog: startingVersion must be >= 0, got $startingVersion")
  maxVersionsPerTrigger.foreach(m => require(m > 0,
    s"graftlog: maxVersionsPerTrigger must be positive, got $m"))

  private var offered: Long = startingVersion - 1
  private var availableNowCap: Option[Long] = None

  def pinHead(): Unit = availableNowCap = Some(CommitLog.currentVersion(path))

  /** Re-seeds the cursor from a version the engine already holds. */
  def seen(version: Long): Unit = offered = math.max(offered, version)

  /** Moves the cursor to the next batch end: at most
    * `maxVersionsPerTrigger` past it, never past the (pinned) head. Returns
    * the cursor; an unchanged value means an empty trigger. */
  def advance(): Long = {
    val current = CommitLog.currentVersion(path)
    val head = availableNowCap.fold(current)(math.min(_, current))
    offered = math.max(offered,
      maxVersionsPerTrigger.fold(head)(m => math.min(head, offered + m)))
    offered
  }
}

/** The commit log's CHANGE FEED as a Structured-Streaming source — what
  * `spark.readStream.format("graftlog").option("readChangeFeed", true)`
  * and `spark.readStream.table("<cat>.<ns>.<t>.changes")` plan (the
  * `.changes` relation reaches it through its V1 fallback table).
  * Snapshot streams run on the V2 [[GraftLogMicroBatchStream]] instead.
  *
  * Offsets ARE log versions, exactly as on the snapshot stream: micro-batch
  * N is [[graft.io.CommitLog.changes]] over precisely the commit window
  * `(lastVersion, thisVersion]`, with `_change_type`/`_commit_version`/
  * `_commit_timestamp` appended — so the accumulated feed equals the batch
  * `changes()` over the same window, recovery from a streaming checkpoint
  * is replay-exact, and rewrite commits arrive as delete+insert rather
  * than failing or duplicating. Layout-only commits (compact, cluster,
  * checkpoint, purge) deliver nothing. At 100 TB the per-trigger driver
  * work is O(commits in the batch), independent of table size.
  *
  * Options: `startingVersion`/`startingTimestamp` (first commit to
  * deliver; default 0, the whole history) and `maxVersionsPerTrigger`
  * (at most N commits per micro-batch). The schema is pinned at stream
  * start; each window aligns to it PER SCHEMA ERA (split at every DROP
  * COLUMN, [[CommitLog.changeWindows]]) through the physical-name mapping,
  * so neither a mid-stream RENAME nor a mid-stream DROP kills the stream —
  * pre-drop commits keep the dropped column's real values, post-drop ones
  * serve NULL for it.
  */
final class GraftLogStreamSource(
    spark: SparkSession,
    path: String,
    schema0: StructType,
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val pacer = new VersionPacer(path, startingVersion, maxVersionsPerTrigger)

  override def schema: StructType = schema0

  // without SupportsTriggerAvailableNow a V1 source drains AvailableNow in
  // one unlimited batch
  override def prepareForTriggerAvailableNow(): Unit = pacer.pinHead()

  /** The next batch end; with nothing new the last offered version again
    * (an empty trigger), or None before the first deliverable commit. */
  override def getOffset: Option[Offset] = {
    val v = pacer.advance()
    if (v >= startingVersion) Some(GraftLogOffset(v)) else None
  }

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): the engine
  // calls THIS instead of getOffset for sources that declare it. The read
  // pacing is this source's own maxVersionsPerTrigger option, so the
  // engine-side limit stays allAvailable and `getOffset` does the work.
  override def getDefaultReadLimit:
      org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit):
      org.apache.spark.sql.connector.read.streaming.Offset = {
    // re-seed the pacing cursor from the engine's committed offset (this
    // is what makes restart-with-rate-limit resume from the checkpoint,
    // not from startingVersion)
    if (start != null) pacer.seen(start.json.trim.toLong)
    getOffset.orNull
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = GraftLogOffset.versionOf(end)
    val startV = start.map(GraftLogOffset.versionOf).getOrElse(startingVersion - 1L)
    pacer.seen(endV) // restart re-seed (start==checkpointed offset)
    val cdf = CommitLog.changeWindows(path, startV, endV).map { case (s, e) =>
      CommitLog.alignToPinned(path, CommitLog.changes(spark, path, s, e), schema0, Some(e))
    }.reduce(_ unionByName _)
    GraftSqlShim.asStreamingBatch(cdf)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftLogStreamSource[$path @ >=v$startingVersion]"
}

object GraftLogMicroBatchStream {

  /** Initial-snapshot fast path (the Delta streaming-source semantics):
    * a FRESH stream (no prior offset, default `startingVersion` 0) on a
    * CHECKPOINTED table serves the live snapshot at its first offered
    * version as batch 0 — one checkpoint read + the commit tail — instead
    * of replaying every commit since v0. On a months-old table (10⁴+
    * commits) that turns cold catch-up from ∝ commits into ∝ live data.
    * Row-wise the snapshot equals the replay for append+layout histories;
    * for rewrite histories it is strictly better — exactly the live rows,
    * once, where the replay either refused (no `ignoreChanges`) or
    * re-delivered superseded rows. Live deletion vectors at the batch end
    * are part of the snapshot's meaning: the caller applies them per task.
    * Uncheckpointed tables keep the replay path and its spec-pinned
    * refusal semantics (their whole history is necessarily still
    * retained). An explicit `startingVersion` also keeps replay
    * semantics — the caller asked for commits, not a snapshot. (Recovery
    * nuance, documented not hidden: the choice is re-evaluated when an
    * IN-FLIGHT first batch replays after a crash; it can only flip if a
    * checkpoint landed at exactly the batch-end version inside the crash
    * window, and only `ignoreChanges` consumers over rewrite histories
    * could observe different rows.) */
  private[sources] def initialSnapshotFiles(path: String, startV: Long,
                                            startingVersion: Long,
                                            endV: Long): Option[Seq[String]] =
    if (startV == startingVersion - 1 && startingVersion == 0L && endV >= 0L &&
        CommitLog.lastCheckpoint(path).exists(_ <= endV))
      Some(CommitLog.snapshotFiles(path, Some(endV)))
    else None

  /** Files ADDED by commits in `(startV, endV]` — the delta one
    * micro-batch delivers past the initial snapshot: compactions deliver
    * nothing, remove-carrying commits fail loudly unless `ignoreChanges`. */
  private[sources] def deltaFiles(path: String, startV: Long, endV: Long,
                                  ignoreChanges: Boolean): Seq[String] = {
    val files = Seq.newBuilder[String]
    var v = startV + 1
    while (v <= endV) {
      val c =
        try CommitLog.readCommit(path, v)
        catch {
          case e: NoSuchFileException => throw new IllegalStateException(
            s"graftlog stream on $path needs commit v$v, but it was expired " +
              "from the retained log (expireLog ran past this stream's " +
              "offset) — restart the stream from a fresh checkpoint", e)
        }
      c.op match {
        // content-identical rewrites: nothing new to deliver. Must match
        // CommitLog.changes's layoutOps set exactly — a 'cluster' commit
        // (CALL graft.system.cluster / compactClustered) rewrites layout
        // only, and delivering its adds would re-emit every row as a dup;
        // 'purge' rewrites identical logical rows minus tombstoned bytes.
        case "compact" | "cluster" | "checkpoint" | "purge" =>
        case op =>
          // a restore re-declares already-delivered files as adds — an
          // append-only stream would re-deliver every restored row; same
          // contract as removes (with ignoreChanges, nothing is delivered:
          // the adds are not NEW data). Checked FIRST so the refusal names
          // the rollback, not the incidental removes it carries.
          if (op == "restore" && !ignoreChanges) throw new IllegalStateException(
            s"graftlog stream on $path hit a 'restore' commit at v$v; an " +
              "append-only stream cannot express a rollback. Set " +
              "option(\"ignoreChanges\", true) to skip it, or stream the " +
              "change feed instead.")
          if (c.remove.nonEmpty && !ignoreChanges) throw new IllegalStateException(
            s"graftlog stream on $path hit a '$op' commit at v$v that removes " +
              s"${c.remove.size} file(s); an append-only stream cannot express " +
              "updates. Set option(\"ignoreChanges\", true) to stream the " +
              "commit's added files anyway (rewritten rows will be delivered " +
              "again, as in the public Delta source).")
          // a deletion-vector commit suppresses already-delivered rows —
          // exactly as inexpressible downstream as a remove; with
          // ignoreChanges it delivers nothing (its adds are empty), the
          // Delta ignoreDeletes behavior. Change-feed streams (CDF) carry
          // the suppressed rows as explicit delete records instead.
          if (c.dv.nonEmpty && !ignoreChanges) throw new IllegalStateException(
            s"graftlog stream on $path hit a '$op' commit at v$v that adds " +
              s"deletion vectors on ${c.dv.size} file(s); an append-only " +
              "stream cannot express deletes. Set option(\"ignoreChanges\", " +
              "true) to skip them, or stream the change feed instead.")
          if (op != "restore") files ++= c.add
      }
      v += 1
    }
    files.result()
  }
}

/** The snapshot stream — what `spark.readStream.format("graftlog")`,
  * `spark.readStream.table("<cat>.<ns>.<t>")` and any other
  * MICRO_BATCH_READ route plan. Offsets ARE log versions: micro-batch N
  * delivers exactly the files ADDED by commits in
  * `(lastVersion, thisVersion]`, so recovery from a streaming checkpoint
  * is replay-exact — a restarted query re-reads precisely the commits the
  * offset log says were in flight, never a file-listing diff (the public
  * Delta streaming-source design; contrast `FileStreamSource`, which must
  * remember every seen FILE because a directory has no versions).
  * Admission control honors `maxVersionsPerTrigger`, and
  * `Trigger.AvailableNow` pins the head once and drains batch by batch.
  *
  * Commit-type semantics (mirrors the public Delta source contract):
  *   - `append` / `txn-append` commits stream their added files;
  *   - layout-only commits (compact, cluster, checkpoint, purge) are
  *     SKIPPED: replaying their adds would duplicate every row downstream;
  *   - remove-, vector- or restore-carrying commits fail loudly unless
  *     `ignoreChanges=true`, which (as in Delta) streams just the added
  *     files and documents that updated rows arrive again.
  *
  * Every batch is planned through [[GraftDvNativeScan]]'s partitions and
  * reader factory, a native columnar parquet scan (the delegate the batch
  * surface uses), so streamed rows never bridge through driver-side
  * `Row`s and column pruning reaches the scan. The initial-snapshot batch
  * carries the live deletion vectors at its end version and suppresses
  * them per task (a fresh stream on a checkpointed vectored table catches
  * up ∝ live data, without waiting for a compact); later batches carry no
  * sidecar, and their partitions pass through the reader zero-copy. */
final class GraftLogMicroBatchStream(
    path: String,
    tableSchema: StructType,
    readSchema: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    ignoreChanges: Boolean,
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => COffset, ReadLimit}

  private val pacer = new VersionPacer(path, startingVersion, maxVersionsPerTrigger)

  override def initialOffset(): COffset = GraftLogOffset(startingVersion - 1)
  override def deserializeOffset(json: String): COffset = GraftLogOffset(json.trim.toLong)
  override def commit(end: COffset): Unit = ()
  override def stop(): Unit = ()
  override def prepareForTriggerAvailableNow(): Unit = pacer.pinHead()

  // the read pacing is this stream's own maxVersionsPerTrigger option, so
  // the engine-side limit stays allAvailable and latestOffset always
  // returns the cursor
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): COffset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) is the admission-controlled form")

  override def latestOffset(start: COffset, limit: ReadLimit): COffset = {
    if (start != null) pacer.seen(start.json.trim.toLong)
    GraftLogOffset(pacer.advance())
  }

  private def scan(version: Long, files: Seq[String],
                   dvs: Map[String, (String, Long)]) =
    new GraftDvNativeScan(path, version, tableSchema, readSchema, pushed,
      files, dvs).toBatch

  override def planInputPartitions(start: COffset, end: COffset)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val startV = start.json.trim.toLong
    val endV = end.json.trim.toLong
    pacer.seen(endV)
    (GraftLogMicroBatchStream.initialSnapshotFiles(path, startV, startingVersion, endV) match {
      case Some(fs) => scan(endV, fs, CommitLog.dvFor(path, Some(endV)))
      case None =>
        scan(endV, GraftLogMicroBatchStream.deltaFiles(path, startV, endV, ignoreChanges),
          Map.empty)
    }).planInputPartitions()
  }

  /** One factory serves every batch's partitions: the reader is
    * parameterized by schemas and conf, and each partition carries its own
    * file and sidecar, so the zero-file template scan builds the factory
    * the per-batch scans would. */
  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    scan(CommitLog.currentVersion(path), Seq.empty, Map.empty).createReaderFactory()

  override def toString: String =
    s"GraftLogMicroBatchStream[$path @ >=v$startingVersion]"
}
