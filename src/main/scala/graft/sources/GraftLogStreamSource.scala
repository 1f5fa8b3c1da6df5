package graft.sources

import java.nio.file.NoSuchFileException

import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.types.StructType

import graft.io.{CommitLog, Sinks}

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

/** Version pacing shared by the log's three streaming readers (the V1
  * [[GraftLogStreamSource]], the V2 [[GraftLogMicroBatchStream]] and the V2
  * change feed [[GraftLogCdfMicroBatchStream]]). `offered` is the highest
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

/** The offset protocol of the two V2 micro-batch streams over a
  * [[VersionPacer]]: the read pacing is the stream's own
  * `maxVersionsPerTrigger` option, so the engine-side limit stays
  * `allAvailable` and `latestOffset` always returns the cursor. */
private[sources] trait PacedMicroBatchStream
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => COffset, ReadLimit}

  protected def pacer: VersionPacer

  override def initialOffset(): COffset = GraftLogOffset(pacer.startingVersion - 1)
  override def deserializeOffset(json: String): COffset = GraftLogOffset(json.trim.toLong)
  override def stop(): Unit = ()
  override def prepareForTriggerAvailableNow(): Unit = pacer.pinHead()
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): COffset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) is the admission-controlled form")

  override def latestOffset(start: COffset, limit: ReadLimit): COffset = {
    if (start != null) pacer.seen(start.json.trim.toLong)
    GraftLogOffset(pacer.advance())
  }
}

/** Structured-Streaming SOURCE over the transactional commit log — the
  * read-side counterpart of [[graft.io.CommitLog.streamingBatchWriter]]'s
  * exactly-once sink, completing the log's streaming story:
  *
  * {{{
  *   spark.readStream.format("graftlog").load(table)        // follow the log
  *     .writeStream...                                      // downstream
  * }}}
  *
  * Offsets ARE log versions: micro-batch N delivers exactly the files
  * ADDED by commits in `(lastVersion, thisVersion]`, so recovery from a
  * streaming checkpoint is replay-exact — a restarted query re-reads
  * precisely the commits the offset log says were in flight, never a
  * file-listing diff (the public Delta streaming-source design; contrast
  * `FileStreamSource`, which must remember every seen FILE because a
  * directory has no versions). At 100 TB the per-trigger driver work is
  * O(commits in the batch), independent of table size.
  *
  * Commit-type semantics (mirrors the public Delta source contract):
  *   - `append` / `txn-append` commits stream their added files.
  *   - `compact` commits are SKIPPED entirely: a compaction rewrites
  *     identical content into fewer files; replaying its adds would
  *     duplicate every compacted row downstream.
  *   - `overwrite` / `upsert` commits REMOVE files — an append-only
  *     stream cannot express that, so the source fails loudly unless
  *     `ignoreChanges=true`, which (as in Delta) streams just the added
  *     files and documents that updated rows arrive again.
  *
  * Options: `startingVersion` (first commit to deliver; default 0 — the
  * whole table), `maxVersionsPerTrigger` (rate limit: at most N commits
  * per micro-batch), `ignoreChanges`, `mergeSchema`. The schema is pinned
  * at stream start (parquet serves nulls for columns a file predates).
  *
  * `changeFeed = true` (the `readChangeFeed` option) streams CHANGE rows
  * instead of snapshot rows: each micro-batch is
  * [[graft.io.CommitLog.changes]] over exactly the commit window its
  * offsets span, with `_change_type`/`_commit_version` appended — so the
  * accumulated feed equals the batch `changes()` over the same window,
  * and rewrite commits arrive as delete+insert rather than failing or
  * duplicating. Offsets, admission control, and AvailableNow semantics
  * are identical to the snapshot stream.
  */
final class GraftLogStreamSource(
    spark: SparkSession,
    path: String,
    schema0: StructType,
    mergeSchema: Boolean,
    ignoreChanges: Boolean,
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long],
    changeFeed: Boolean = false) extends Source
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
    if (changeFeed) {
      // change-row mode: the batch IS the commit window's CDF. changes()
      // skips layout-only commits and expresses rewrites as delete+insert,
      // so no commit type needs refusing. Columns align to the pinned
      // stream schema PER SCHEMA ERA (split at drops) through the
      // physical-name mapping, so neither a mid-stream RENAME nor a
      // mid-stream DROP kills the stream — pre-drop commits keep their
      // real values, post-drop ones serve NULL for the dropped column.
      val cdf = GraftLogStreamSource.alignedWindowChanges(
        spark, path, startV, endV, schema0)
      return GraftSqlShim.asStreamingBatch(cdf)
    }
    // pin the stream schema: parquet fills columns a file lacks with
    // nulls and prunes extras, so early files read under late schemas.
    // Physical names on the wire (renames are metadata-only; the
    // physical name is fixed at first write, so the pinned mapping
    // stays valid however the table evolves mid-stream).
    def readRaw(fs: Seq[String]): DataFrame =
      spark.read.option("mergeSchema", mergeSchema)
        .schema(CommitLog.toPhysical(schema0))
        .parquet(fs.map(f => java.nio.file.Paths.get(path, f).toString): _*)
        .toDF(schema0.fieldNames.toIndexedSeq: _*)
    val batch = GraftLogStreamSource
      .initialSnapshotFiles(path, startV, startingVersion, endV,
        allowVectored = true) match {
      case Some(Nil) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema0)
      case Some(fs) =>
        // batch 0 is the SNAPSHOT: live deletion vectors are part of its
        // meaning, applied per-task (each reader loads only its file's
        // sidecar) — a months-old vectored table catches up ∝ live data,
        // not ∝ commits, without waiting for a compact
        CommitLog.suppressVectored(readRaw(fs), path, Some(endV))
      case None =>
        GraftLogStreamSource.deltaFiles(path, startV, endV, ignoreChanges) match {
          case Nil => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema0)
          case fs => readRaw(fs)
        }
    }
    GraftSqlShim.asStreamingBatch(batch)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftLogStreamSource[$path @ >=v$startingVersion]"
}

object GraftLogStreamSource {

  /** Projects a `changes()` frame onto the feed's PINNED schema —
    * delegates to [[CommitLog.alignToPinned]] (physical-name matching,
    * NULL-fill for columns the era lacks). Kept as the streaming-side
    * name both stream classes share. */
  private[sources] def alignToPinned(path: String, cdf: DataFrame,
                                     pinned: StructType,
                                     asOf: Option[Long] = None): DataFrame =
    CommitLog.alignToPinned(path, cdf, pinned, asOf)

  /** The stream's change rows for `(startV, endV]`, aligned per SCHEMA
    * ERA to the stream's pinned schema: the window splits at every DROP
    * COLUMN ([[CommitLog.changeWindows]]), each sub-window computes at
    * its own era and aligns by physical name — so a consumer pinned to
    * the PRE-drop schema keeps receiving the dropped column's real values
    * for pre-drop commits and NULLs after (a batch `changes()` over the
    * same window serves the window-end schema instead, where the column
    * is gone entirely). */
  private[sources] def alignedWindowChanges(spark: SparkSession, path: String,
                                            startV: Long, endV: Long,
                                            pinned: StructType): DataFrame =
    CommitLog.changeWindows(path, startV, endV).map { case (s, e) =>
      alignToPinned(path, CommitLog.changes(spark, path, s, e), pinned, Some(e))
    }.reduce(_ unionByName _)

  /** Initial-snapshot fast path (the Delta streaming-source semantics):
    * a FRESH stream (no prior offset, default `startingVersion` 0) on a
    * CHECKPOINTED table serves the live snapshot at its first offered
    * version as batch 0 — one checkpoint read + the commit tail — instead
    * of replaying every commit since v0. On a months-old table (10⁴+
    * commits) that turns cold catch-up from ∝ commits into ∝ live data.
    * Row-wise the snapshot equals the replay for append+layout histories;
    * for rewrite histories it is strictly better — exactly the live rows,
    * once, where the replay either refused (no `ignoreChanges`) or
    * re-delivered superseded rows. Uncheckpointed tables keep the replay
    * path and its spec-pinned refusal semantics (their whole history is
    * necessarily still retained). An explicit `startingVersion` also
    * keeps replay semantics — the caller asked for commits, not a
    * snapshot. (Recovery nuance, documented not hidden: the choice is
    * re-evaluated when an IN-FLIGHT first batch replays after a crash;
    * it can only flip if a checkpoint landed at exactly the batch-end
    * version inside the crash window, and only `ignoreChanges` consumers
    * over rewrite histories could observe different rows.)
    *
    * `allowVectored`: the V1 source applies live deletion vectors to its
    * snapshot batch (per-task sidecar probe), so a vectored table keeps
    * the fast path; the V2 micro-batch form plans raw file partitions
    * and must decline instead (its vectored route is refused upstream
    * anyway — the caller passes false). */
  private[sources] def initialSnapshotFiles(path: String, startV: Long,
                                            startingVersion: Long,
                                            endV: Long,
                                            allowVectored: Boolean = false)
      : Option[Seq[String]] =
    if (startV == startingVersion - 1 && startingVersion == 0L && endV >= 0L &&
        CommitLog.lastCheckpoint(path).exists(_ <= endV) &&
        (allowVectored || CommitLog.dvFor(path, Some(endV)).isEmpty))
      Some(CommitLog.snapshotFiles(path, Some(endV)))
    else None

  /** Files ADDED by commits in `(startV, endV]` — the delta one
    * micro-batch delivers, shared by the V1 source and the V2
    * [[GraftLogMicroBatchStream]] so both surfaces have identical
    * commit-type semantics: compactions deliver nothing, remove-carrying
    * commits fail loudly unless `ignoreChanges`. */
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

/** The V2 form of the source — what `spark.readStream.table("graft.ns.t")`
  * (and any MICRO_BATCH_READ route) plans. Same design as the V1 source —
  * offsets ARE log versions, each micro-batch reads exactly the files its
  * commits added, admission control honors `maxVersionsPerTrigger`,
  * `Trigger.AvailableNow` pins the head once and drains batch by batch —
  * but the per-batch read is a native columnar parquet scan (the same
  * delegate the batch surface uses), so streamed rows never bridge
  * through driver-side `Row`s. Column pruning from the streaming query
  * reaches the scan (`readSchema`); commit-type semantics are shared with
  * the V1 source via [[GraftLogStreamSource.deltaFiles]]. */
final class GraftLogMicroBatchStream(
    spark: SparkSession,
    path: String,
    tableSchema: StructType,
    readSchema: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    ignoreChanges: Boolean,
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long]) extends PacedMicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.{Offset => COffset}

  protected val pacer = new VersionPacer(path, startingVersion, maxVersionsPerTrigger)

  override def commit(end: COffset): Unit = ()

  override def planInputPartitions(start: COffset, end: COffset)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val startV = start.json.trim.toLong
    val endV = end.json.trim.toLong
    pacer.seen(endV)
    GraftLogStreamSource
      .initialSnapshotFiles(path, startV, startingVersion, endV)
      .getOrElse(GraftLogStreamSource.deltaFiles(path, startV, endV, ignoreChanges)) match {
      case Nil => Array.empty
      case fs =>
        // physical names for the parquet delegate (renamed columns keep
        // the name the files wear; batches bridge positionally)
        val declared = CommitLog.declaredSchema(path)
        GraftSqlShim.parquetScan(spark,
          fs.map(f => java.nio.file.Paths.get(path, f).toString),
          CommitLog.physicalizeNames(path, tableSchema),
          CommitLog.physicalizeNames(path, readSchema),
          pushed.flatMap(f => CommitLog.physicalizeFilter(declared, f)))
          .toBatch.planInputPartitions()
    }
  }

  /** One factory serves every batch's partitions: a `FilePartition`
    * reader is parameterized by schemas/conf, not by a file list, so the
    * zero-file template scan builds the same factory the per-batch scans
    * would. */
  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    GraftSqlShim.parquetScan(spark, Seq.empty,
        CommitLog.physicalizeNames(path, tableSchema),
        CommitLog.physicalizeNames(path, readSchema),
        pushed.flatMap(f =>
          CommitLog.physicalizeFilter(CommitLog.declaredSchema(path), f)))
      .toBatch.createReaderFactory()

  override def toString: String =
    s"GraftLogMicroBatchStream[$path @ >=v$startingVersion]"
}

/** Change-feed MICRO-BATCH stream for the catalog-identifier surface —
  * what `spark.readStream.table("graft.ns.t.changes")` (the `.changes`
  * metadata table, Iceberg-style) plans. Offsets ARE log versions,
  * identical to the snapshot streams; each micro-batch delivers
  * [[graft.io.CommitLog.changes]] over exactly the commit window its
  * offsets span, so the accumulated feed equals the batch `changes()`
  * over the same window and rewrite commits arrive as delete+insert.
  *
  * The change rows are a DERIVED distributed computation (broadcast-
  * manifest scan + sign-sum diff), not a file list — and a V2 micro-batch
  * stream can only plan `InputPartition`s. So each batch MATERIALIZES its
  * window's change rows once, as parquet under the stream's checkpoint
  * directory, and serves the native columnar scan of that
  * materialization — the read-time analogue of the public Delta design's
  * write-time `_change_data` files. Per-batch cost ∝ data changed in the
  * window, never table size; the materialization is deterministic per
  * window (commits are immutable), so a crash-replayed batch rewrites
  * identical content and checkpoint recovery stays exact. Columns align
  * to the schema pinned at stream start through the physical-name
  * mapping, PER SCHEMA ERA ([[GraftLogStreamSource.alignedWindowChanges]]),
  * so neither a mid-stream RENAME nor a mid-stream DROP kills the stream:
  * pre-drop commits keep the dropped column's real values, post-drop
  * ones serve NULL for it. */
final class GraftLogCdfMicroBatchStream(
    spark: SparkSession,
    path: String,
    pinned: StructType,
    checkpointLocation: String,
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long]) extends PacedMicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.{Offset => COffset}

  protected val pacer = new VersionPacer(path, startingVersion, maxVersionsPerTrigger)

  // parquet materializations are written/read under fully-nullable field
  // flags (FileFormatWriter relaxes nullability on write anyway; claiming
  // non-null on read would be an unverified promise to codegen)
  private val scanSchema: StructType =
    StructType(pinned.fields.map(_.copy(nullable = true)))

  // the engine hands the checkpoint location as a Hadoop-style URI
  // ("file:/..."); the local-listing side needs a filesystem path
  private val ckptDir: java.nio.file.Path =
    if (checkpointLocation.startsWith("file:"))
      java.nio.file.Paths.get(new java.net.URI(checkpointLocation))
    else java.nio.file.Paths.get(checkpointLocation)

  /** Reclaims materializations of windows ending BELOW `threshold` — a
    * committed batch is never re-planned (restart replays only past the
    * last COMMITTED offset), so those dirs are garbage; without this a
    * months-running stream accumulates one dir per trigger forever.
    * Window end is field 1 of the `<start>_<end>_h<schemaHash>` dir name
    * (with a last-field fallback for dirs an older build named
    * `<start>_<end>`, so an in-flight checkpoint upgrades cleanly). */
  private def reclaimBelow(threshold: Long): Unit = {
    val root = ckptDir.resolve("_graft_cdf")
    if (java.nio.file.Files.isDirectory(root)) {
      Sinks.listDir(root).foreach { d =>
        val parts = d.getFileName.toString.split('_')
        val endV = parts.lift(1).flatMap(_.toLongOption)
          .orElse(parts.lastOption.flatMap(_.toLongOption))
        if (endV.exists(_ < threshold)) Sinks.deleteTree(d)
      }
    }
  }

  /** Long-running cleanup: the just-committed window itself is kept one
    * cycle out of caution (the engine may re-inspect it). */
  override def commit(end: COffset): Unit =
    reclaimBelow(end.json.trim.toLong)

  override def planInputPartitions(start: COffset, end: COffset)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val startV = start.json.trim.toLong
    val endV = end.json.trim.toLong
    pacer.seen(endV)
    if (endV <= startV) return Array.empty
    // a batch is only ever planned FROM the last committed offset, so
    // every materialization ending at or below startV is committed —
    // reclaim here too (the engine calls commit() lazily, at the START
    // of the next batch, so a drain's final window would otherwise
    // survive until the stream's next restart)
    reclaimBelow(startV + 1)
    // the schema hash in the dir name is the REUSE GUARD: the files are
    // written under this run's pinned logical names, and a materialization
    // left by a crash could otherwise be replayed after the table was
    // RENAMEd and the stream restarted with a different pinned schema —
    // the old-named files would silently serve NULLs for the renamed
    // column. A different pinned schema hashes to a different dir, so the
    // stale materialization is never matched (and is reclaimed by name
    // once its window commits).
    val schemaHash = {
      val canonical = pinned.fields.map(f =>
        s"${f.name}|${CommitLog.physicalName(f)}|${f.dataType.catalogString}")
        .mkString(";")
      f"${scala.util.hashing.MurmurHash3.stringHash(canonical)}%08x"
    }
    val dir = ckptDir.resolve("_graft_cdf")
      .resolve(s"${startV + 1}_${endV}_h$schemaHash")
    // materialize ONCE per window: the engine plans the same batch several
    // times (columnar probe, execution, recovery), so a finished
    // materialization (_SUCCESS present) is reused as-is — rewriting would
    // invalidate partitions planned from the previous file names. A
    // crash-replayed HALF-write (no _SUCCESS) is overwritten; the window's
    // CDF is deterministic (commits are immutable), so recovery is exact.
    if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS")))
      GraftLogStreamSource.alignedWindowChanges(spark, path, startV, endV, pinned)
        .write.mode("overwrite").parquet(dir.toString)
    val files = Sinks.listDir(dir).map(_.toString).filter(_.endsWith(".parquet"))
    if (files.isEmpty) Array.empty
    else GraftSqlShim.parquetScan(spark, files, scanSchema, scanSchema,
      Array.empty).toBatch.planInputPartitions()
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    GraftSqlShim.parquetScan(spark, Seq.empty, scanSchema, scanSchema,
      Array.empty).toBatch.createReaderFactory()

  override def toString: String =
    s"GraftLogCdfMicroBatchStream[$path @ >=v$startingVersion]"
}
