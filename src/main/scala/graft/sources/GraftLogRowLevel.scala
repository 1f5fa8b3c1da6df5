package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.read.{SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.CommitLog

/** Group-based (copy-on-write) SQL row-level operations over a commit-log
  * table — what `DELETE FROM` / `UPDATE` / `MERGE INTO` on a `graftlog`
  * catalog identifier plan through (`SupportsRowLevelOperations`, the
  * connector surface Iceberg's copy-on-write mode uses):
  *
  *  - Spark rewrites the command into a [[org.apache.spark.sql.catalyst
  *    .plans.logical.ReplaceData]] plan: scan the AFFECTED groups (files),
  *    recompute their surviving/updated rows, write replacements, swap.
  *  - The scan here is the table's native columnar parquet scan over the
  *    snapshot's live files, GROUP-pruned by the command's condition
  *    against the log's zone maps. Per the `RowLevelOperation` contract
  *    the pushed condition selects *groups* only — it is NEVER compiled
  *    into the parquet reader (a row dropped by the scan would be a row
  *    silently deleted by the rewrite), so the scan returns every row of
  *    every possibly-matching file and files the zone maps prove
  *    untouched stay out of the rewrite entirely. At 100 TB a keyed
  *    `DELETE WHERE k BETWEEN ...` on a clustered table rewrites the few
  *    files covering the key range, not the table.
  *  - The write stages replacement parquet files into the table directory
  *    (invisible until committed — commit-log visibility, no rename
  *    dance), then lands ONE atomic commit removing exactly the scanned
  *    files and adding the replacements, conflict-checked against the
  *    snapshot version the rewrite read ([[CommitLog.replaceFiles]]).
  *    Readers see the table before or after the DML, never a mix, and the
  *    pre-DML snapshot stays time-travelable. When the rewritten files
  *    carried zone ranges on a named cluster column, the replacements'
  *    ranges are re-recorded from their parquet footers — data skipping
  *    survives DML instead of decaying with every rewrite.
  *
  * Reference behavior: the reference pipeline's tracker updates
  * (`az_proc.py:617-622`) are whole-file rewrites guarded by nothing; this
  * gives the same update semantics transactionally, addressable from SQL.
  */
private[sources] final class GraftRowLevelOperation(
    path: String, version: Long, tableSchema: StructType, cmd: Command)
    extends RowLevelOperation {

  /** Files the planned scan covers — the groups the replacement commit
    * removes. Until the scan is built (it always is before the write
    * executes), the safe default is every live file: a full rewrite is
    * correct, just not minimal. */
  @volatile private[sources] var affected: Seq[String] =
    CommitLog.snapshotFiles(path, Some(version))

  override def command(): Command = cmd

  override def description(): String =
    s"graftlog ${cmd.name.toLowerCase} $path@v$version (copy-on-write)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
      private var required: StructType = tableSchema
      private var pushed: Array[Filter] = Array.empty

      /** The command's condition arrives here for GROUP pruning only
        * (`GroupBasedRowLevelOperationScanPlanning`); every filter is
        * reported back as residual and none reaches the parquet reader —
        * the scan must surface every row of each affected file, matching
        * or not, or the rewrite would drop rows it never saw. */
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): org.apache.spark.sql.connector.read.Scan = {
        val files = GraftLogDataSource.prunedFileNames(path, version, pushed.toIndexedSeq)
        affected = files
        new GraftLogNativeScan(path, version, tableSchema, required,
          Array.empty, files)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val schema = info.schema()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def description(): String = GraftRowLevelOperation.this.description()
        override def toBatch: BatchWrite = {
          // the writer kit captures the session's parquet write conf on
          // the driver; tasks open one writer per non-empty partition
          // physical field names (renamed columns write under the name
          // the table's files have always worn — CommitLog column mapping)
          val kit = org.apache.spark.sql.GraftSqlShim.parquetWriteKit(
            SparkSession.active, CommitLog.physicalizeNames(path, schema))
          // per-row write invariants (CHECK constraints + NOT NULL
          // columns), resolved against the LOGICAL write schema and bound
          // by position (an UPDATE that SETs a violating value must
          // refuse exactly like a violating append)
          val checks = CommitLog.rowCheckSpecs(path, Some(version))
            .map { case (n, e) =>
              (n, org.apache.spark.sql.GraftSqlShim.rowCheck(
                SparkSession.active, schema, e))
            }
          new BatchWrite {
            override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
              new GraftParquetWriterFactory(path, kit, checks)

            override def commit(messages: Array[WriterCommitMessage]): Unit = {
              val added = messages.toSeq.collect {
                case GraftFilesMessage(fs) => fs
              }.flatten
              val removed = affected
              if (added.isEmpty && removed.isEmpty) return // zone maps proved a no-op
              // the rewrite's scan read RAW file bytes; on a file with a
              // live deletion vector the recomputed survivors would
              // RESURRECT the suppressed rows. Refuse loudly with the
              // materialization remedy rather than silently un-delete.
              // (Execution-time, not scan-planning-time: the group scan is
              // also built for DELETEs that the metadata or merge-on-read
              // paths end up serving without this rewrite.) Translatable
              // DELETEs on a dv-enabled table never get here.
              val dvHeld = removed.filter(
                CommitLog.dvFor(path, Some(version)).contains)
              if (dvHeld.nonEmpty) {
                (added).foreach(f => Files.deleteIfExists(Paths.get(path, f)))
                throw new IllegalStateException(
                  s"graftlog: cannot ${cmd.name.toLowerCase} $path by " +
                    s"copy-on-write rewrite — ${dvHeld.size} affected file(s) " +
                    "carry live deletion vectors and the rewrite would " +
                    "resurrect the deleted rows. CALL graft.system.compact(...) " +
                    "to materialize the vectors, then re-run the command")
              }
              // replacements inherit zone ranges when every rewritten file
              // had them on one named column (footer min/max re-read)
              val colsMap = CommitLog.fileStatsColumns(path, Some(version))
              val statsCol = removed.flatMap(colsMap.get).distinct match {
                case Seq(c) if removed.forall(f => colsMap.get(f).contains(c)) => Some(c)
                case _ => None
              }
              // a rewrite that empties the table must still leave a schema
              // source: one empty parquet file, as the catalog's CREATE does
              val emptyGuard =
                if (added.isEmpty &&
                    CommitLog.snapshotFiles(path, Some(version)).forall(removed.contains))
                  Seq(MetadataDelete.writeEmptyFile(path, schema))
                else Seq.empty
              // a lost race reclaims the staged files and their blooms
              CommitLog.replaceFiles(path, removed, added ++ emptyGuard, Some(version),
                op = cmd.name.toLowerCase, statsCol = statsCol)
              ()
            }

            override def abort(messages: Array[WriterCommitMessage]): Unit =
              messages.toSeq.collect { case GraftFilesMessage(fs) => fs }.flatten
                .foreach(f => Files.deleteIfExists(Paths.get(path, f)))
          }
        }
      }
    }
  }
}

/** Per-task parquet writer for commit-log writes: each non-empty partition
  * lands ONE uniquely-named file directly in the table directory, where it
  * stays invisible until a log commit references it (the commit-log
  * visibility model — no temp-dir rename protocol needed, and an aborted
  * or speculative attempt's file is deleted on abort or reclaimed by
  * vacuum as an unreferenced orphan). */
private[sources] final class GraftParquetWriterFactory(
    table: String, kit: org.apache.spark.sql.ParquetWriteKit,
    checks: Seq[(String, org.apache.spark.sql.GraftRowCheck)] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftParquetDataWriter(table, kit, checks, partitionId, taskId)
}

private[sources] final case class GraftFilesMessage(files: Seq[String])
    extends WriterCommitMessage

private final class GraftParquetDataWriter(
    table: String, kit: org.apache.spark.sql.ParquetWriteKit,
    checks: Seq[(String, org.apache.spark.sql.GraftRowCheck)],
    partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
  private var name: String = _
  // set on the first row: Spark's row-level rewrites prefix each row with
  // the int `__row_operation` protocol column (RowDeltaUtils), which the
  // runtime only strips for operations that declared metadata attributes —
  // a plain group-replacing write receives the raw [op | data...] rows and
  // must skip field 0 itself (a reusable shifted view, no copy per row)
  private var shifted: ShiftedInternalRow = _
  private var direct: Boolean = false

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      // unique per attempt (taskId differs across retries/speculation), so
      // two attempts never collide on a file name
      name = f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID()}.parquet"
      writer = kit.open(Paths.get(table, name).toString, partitionId, 0)
      direct = row.numFields == kit.schemaLength
      if (!direct) {
        require(row.numFields == kit.schemaLength + 1,
          s"row-level write rows must be [${kit.schemaLength}] data fields or " +
            s"[1 + ${kit.schemaLength}] with the __row_operation prefix, " +
            s"got ${row.numFields}")
        shifted = new ShiftedInternalRow
      }
    }
    val out = if (direct) row else { shifted.underlying = row; shifted }
    // CHECK constraints on the executor-direct paths (row-level DML
    // replacements, streaming epochs) — the same SQL CHECK semantics the
    // staging chokepoints enforce: a definite FALSE fails the task, which
    // fails the job, which aborts the write; nothing lands
    var i = 0
    while (i < checks.length) {
      val (cname, check) = checks(i)
      if (!check.ok(out)) throw new IllegalStateException(
        s"write to $table violates constraint '$cname'")
      i += 1
    }
    writer.write(out)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    GraftFilesMessage(Option(name).toSeq)
  }

  override def abort(): Unit = {
    if (writer != null) {
      try writer.close() catch { case scala.util.control.NonFatal(_) => () }
      Files.deleteIfExists(Paths.get(table, name))
    }
  }

  override def close(): Unit = ()
}

/** A zero-copy view of an [[InternalRow]] with its first field hidden —
  * how the writer consumes Spark's `[__row_operation | data...]` row-level
  * protocol rows without per-row allocation (one mutable instance per
  * writer, re-pointed at each incoming row). Read-only. */
private final class ShiftedInternalRow extends InternalRow {
  var underlying: InternalRow = _

  override def numFields: Int = underlying.numFields - 1
  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def update(i: Int, value: Any): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def copy(): InternalRow = {
    val c = new ShiftedInternalRow
    c.underlying = underlying.copy()
    c
  }
  override def isNullAt(i: Int): Boolean = underlying.isNullAt(i + 1)
  override def getBoolean(i: Int): Boolean = underlying.getBoolean(i + 1)
  override def getByte(i: Int): Byte = underlying.getByte(i + 1)
  override def getShort(i: Int): Short = underlying.getShort(i + 1)
  override def getInt(i: Int): Int = underlying.getInt(i + 1)
  override def getLong(i: Int): Long = underlying.getLong(i + 1)
  override def getFloat(i: Int): Float = underlying.getFloat(i + 1)
  override def getDouble(i: Int): Double = underlying.getDouble(i + 1)
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    underlying.getDecimal(i + 1, precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    underlying.getUTF8String(i + 1)
  override def getBinary(i: Int): Array[Byte] = underlying.getBinary(i + 1)
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    underlying.getInterval(i + 1)
  override def getStruct(i: Int, numFields: Int): InternalRow =
    underlying.getStruct(i + 1, numFields)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    underlying.getArray(i + 1)
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    underlying.getMap(i + 1)
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    underlying.getVariant(i + 1)
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    underlying.getGeography(i + 1)
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    underlying.getGeometry(i + 1)
  override def get(i: Int, dataType: org.apache.spark.sql.types.DataType): AnyRef =
    underlying.get(i + 1, dataType)
}

/** Delta-based (merge-on-read) SQL row-level operations — what `DELETE
  * FROM` / `UPDATE` / `MERGE INTO` plan through on a table that opted
  * into deletion vectors ([[graft.io.CommitLog.enableDv]]). This is the
  * `SupportsDelta` half of Spark's row-level connector API (the surface
  * Iceberg's merge-on-read mode uses; Delta Lake's deletion-vector DML is
  * the same design):
  *
  *  - [[rowId]] names the row identity: the table's (file, position)
  *    METADATA columns ([[GraftLogDataSource.GraftLogTable]] implements
  *    `SupportsMetadataColumns`), which the operation's scan serves from
  *    the parquet reader's own file/row-index metadata — suppressed rows
  *    excluded, so a statement can never re-serve or resurrect a deleted
  *    row.
  *  - Spark rewrites the command into a `WriteDelta` plan: only MATCHED
  *    rows flow, each tagged delete/update/insert, with the row identity
  *    projected alongside. No surviving row is recomputed or rewritten —
  *    at 100 TB an UPDATE of a sparse row set costs ∝ rows updated, not
  *    ∝ rows kept in every touched file (the group-based rewrite's bill).
  *  - Write tasks gather each touched file's fresh delete positions and
  *    land them as PARTIAL sidecars (executor-side, invisible until
  *    committed), appended images go to ordinary uniquely-named parquet
  *    files; the driver merges partials with each file's existing vector
  *    into one final sidecar per file and lands ONE conflict-checked
  *    commit ([[CommitLog.commitDeltaDml]]) — zero data files removed.
  *
  * The copy-on-write [[GraftRowLevelOperation]] remains the route for
  * tables that never opted in; [[GraftLogDataSource.GraftLogTable
  * .newRowLevelOperationBuilder]] picks per table, exactly as Delta picks
  * DML strategy from `enableDeletionVectors`. Translatable DELETEs still
  * short-circuit through `SupportsDelete` (metadata-only proof, then
  * [[CommitLog.dvDelete]]) before any rewrite is planned.
  */
private[sources] final class GraftDvRowLevelOperation(
    path: String, version: Long, tableSchema: StructType, cmd: Command)
    extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): Command = cmd

  override def description(): String =
    s"graftlog ${cmd.name.toLowerCase} $path@v$version (merge-on-read)"

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(CommitLog.DvFileCol),
      org.apache.spark.sql.connector.expressions.Expressions.column(CommitLog.DvPosCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
      private var required: StructType = tableSchema
      private var pushed: Array[Filter] = Array.empty

      /** Unlike the group-based scan, row filtering here is SAFE (only
        * matching rows become deltas; non-matching rows are simply not
        * touched), so pushed filters both zone-prune the candidate files
        * AND narrow the scanned rows. All reported residual — Spark
        * re-applies the full condition above. */
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): org.apache.spark.sql.connector.read.Scan = {
        val reqF = required
        val fseq = pushed.toIndexedSeq
        val files = GraftLogDataSource.prunedFileNames(path, version, fseq)
        // fully native columnar for vector-less AND vectored files: row
        // identity from the parquet reader's own row index + a constant
        // file vector; live vectors suppress in-scan (per-task sidecar
        // probe, batch-level selection views) — no
        // InternalRow→Row→InternalRow bridge on any DML scan
        val fileSet = files.toSet
        val dvSc = CommitLog.dvFor(path, Some(version))
          .filter { case (f, _) => fileSet(f) }
        new GraftDvNativeScan(path, version, tableSchema, reqF,
          fseq.toArray, files, dvSc)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder = {
    val rowSchema = info.schema()
    val idSchema = info.rowIdSchema().orElseThrow(() =>
      new IllegalStateException(
        s"graftlog: delta ${cmd.name.toLowerCase} on $path planned without a row-id schema"))
    val fileIdx = idSchema.fieldIndex(CommitLog.DvFileCol)
    val posIdx = idSchema.fieldIndex(CommitLog.DvPosCol)
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def description(): String = GraftDvRowLevelOperation.this.description()
          override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite = {
            val kit = org.apache.spark.sql.GraftSqlShim.parquetWriteKit(
              SparkSession.active, CommitLog.physicalizeNames(path, rowSchema))
            // per-row write invariants (CHECK constraints + NOT NULL
            // columns) on the inserted/updated images — resolved against
            // the LOGICAL write schema, bound by position, per-row in the
            // write task (the same semantics every staging chokepoint and
            // the group-based writers enforce)
            val checks = CommitLog.rowCheckSpecs(path, Some(version))
              .map { case (n, e) =>
                (n, org.apache.spark.sql.GraftSqlShim.rowCheck(
                  SparkSession.active, rowSchema, e))
              }
            new org.apache.spark.sql.connector.write.DeltaBatchWrite {
              override def createBatchWriterFactory(pi: PhysicalWriteInfo)
                  : org.apache.spark.sql.connector.write.DeltaWriterFactory =
                new GraftDeltaWriterFactory(path, kit, checks, fileIdx, posIdx)

              override def commit(messages: Array[WriterCommitMessage]): Unit = {
                val ms = messages.toSeq.collect { case m: GraftDeltaMessage => m }
                // one commit against the snapshot the scan read; a racing
                // commit aborts the statement (abort() reclaims the
                // partials and data files) — re-running re-scans, the
                // same serializability contract as the group rewrite
                CommitLog.commitDeltaDml(path, cmd.name.toLowerCase, version,
                  ms.flatMap(_.partials), ms.flatMap(_.files),
                  updPartials = ms.flatMap(_.updPartials),
                  postAdded = ms.flatMap(_.postFiles))
                ()
              }

              override def abort(messages: Array[WriterCommitMessage]): Unit =
                messages.toSeq.collect { case GraftDeltaMessage(fs, ps, parts, uparts) =>
                  fs ++ ps ++ parts.map(_._2) ++ uparts.map(_._2)
                }.flatten.foreach(f => Files.deleteIfExists(Paths.get(path, f)))
            }
          }
        }
    }
  }
}

/** Per-task writer for delta-based DML: delete positions accumulate per
  * touched file and land as PARTIAL sidecars at task commit (executor-
  * side, invisible until the driver's log commit — a lost speculative
  * attempt's partials are unreferenced orphans, vacuumed); inserted and
  * updated images stream into one uniquely-named parquet file per
  * non-empty task, exactly like the group-based writer's. */
private[sources] final class GraftDeltaWriterFactory(
    table: String, kit: org.apache.spark.sql.ParquetWriteKit,
    checks: Seq[(String, org.apache.spark.sql.GraftRowCheck)],
    fileIdx: Int, posIdx: Int)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaWriter(table, kit, checks, fileIdx, posIdx, partitionId, taskId)
}

/** `files` = appended plain-INSERT image files; `postFiles` = appended
  * update-POSTIMAGE files (CDF labels them `update_postimage`);
  * `partials` = (data file, partial dv sidecar) pairs for EVERY fresh
  * suppression; `updPartials` = the same shape restricted to positions
  * suppressed by update() calls (CDF preimage classification). */
private[sources] final case class GraftDeltaMessage(
    files: Seq[String], postFiles: Seq[String],
    partials: Seq[(String, String)], updPartials: Seq[(String, String)])
    extends WriterCommitMessage

private final class GraftDeltaWriter(
    table: String, kit: org.apache.spark.sql.ParquetWriteKit,
    checks: Seq[(String, org.apache.spark.sql.GraftRowCheck)],
    fileIdx: Int, posIdx: Int,
    partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  private val deletes =
    new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Long]]()
  // positions suppressed by update() specifically — a SUBSET of
  // `deletes`, kept separately so the change feed can label them
  // update_preimage while plain delete() positions stay deletes
  private val updDeletes =
    new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Long]]()
  // two image writers: update() images and insert() images land in
  // SEPARATE files so the commit can mark the update ones as
  // postimages — per-row tagging without a tag column in the data
  private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
  private var name: String = _
  private var writerU: org.apache.spark.sql.execution.datasources.OutputWriter = _
  private var nameU: String = _

  private def recordDelete(
      into: java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Long]],
      id: InternalRow): Unit = {
    require(id != null && !id.isNullAt(fileIdx) && !id.isNullAt(posIdx),
      s"delta delete on $table: null row identity — the scan must serve " +
        "(file, position) for every row")
    val f = id.getUTF8String(fileIdx).toString
    var buf = into.get(f)
    if (buf == null) {
      buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      into.put(f, buf)
    }
    buf += id.getLong(posIdx)
    ()
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    recordDelete(deletes, id)

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    recordDelete(deletes, id)
    recordDelete(updDeletes, id)
    checkRow(row)
    if (writerU == null) {
      nameU = f"part-$partitionId%05d-$taskId-u-${java.util.UUID.randomUUID()}.parquet"
      writerU = kit.open(Paths.get(table, nameU).toString, partitionId, 0)
    }
    writerU.write(row)
  }

  private def checkRow(row: InternalRow): Unit = {
    var i = 0
    while (i < checks.length) {
      val (cname, check) = checks(i)
      if (!check.ok(row)) throw new IllegalStateException(
        s"write to $table violates constraint '$cname'")
      i += 1
    }
  }

  override def insert(row: InternalRow): Unit = {
    checkRow(row)
    if (writer == null) {
      name = f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID()}.parquet"
      writer = kit.open(Paths.get(table, name).toString, partitionId, 0)
    }
    writer.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    if (writerU != null) writerU.close()
    def landed(
        m: java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Long]],
        tag: String): Seq[(String, String)] = {
      val out = Seq.newBuilder[(String, String)]
      m.forEach { (f, buf) =>
        val part = s"$f.$tag-${java.util.UUID.randomUUID()}"
        graft.io.DvSidecars.write(table, part, buf.distinct.sorted.toArray)
        out += (f -> part)
      }
      out.result()
    }
    GraftDeltaMessage(Option(name).toSeq, Option(nameU).toSeq,
      landed(deletes, "dvpart"), landed(updDeletes, "dvupart"))
  }

  override def abort(): Unit = {
    if (writer != null) {
      try writer.close() catch { case scala.util.control.NonFatal(_) => () }
      Files.deleteIfExists(Paths.get(table, name))
      ()
    }
    if (writerU != null) {
      try writerU.close() catch { case scala.util.control.NonFatal(_) => () }
      Files.deleteIfExists(Paths.get(table, nameU))
      ()
    }
  }

  override def close(): Unit = ()
}

/** NATIVE columnar scan serving the table's data columns PLUS the
  * (file, position) row-identity metadata columns — the read half of the
  * delta-based DML route, of `SELECT _graft_dv_file, _graft_dv_pos`, and
  * of plain snapshot reads over files carrying live deletion vectors.
  *
  * Shape: the position column rides Spark's own parquet row-index
  * machinery — the delegate's read schema appends
  * `ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME`, which the
  * vectorized reader fills with each row's index in its file (page/row-
  * group skipping accounted, exactly what `_metadata.row_index` uses) —
  * and the file column is a per-partition CONSTANT vector: the delegate's
  * bin-packed partitions are split one-file-per-partition so each task
  * knows its name. End-to-end columnar, no InternalRow→Row→InternalRow
  * bridge (the previous V1Scan form paid that double conversion on every
  * DML scan row). The row-based reader path (complex types) maps fields
  * through one reused mutable view.
  *
  * Files with a live vector (`dvs`: file → sidecar) SUPPRESS in-scan:
  * each task probes its file's decoded sorted positions (the
  * [[graft.io.DvSidecars]] LRU) against the batch's row-index vector —
  * a batch overlapping no suppressed position passes through ZERO-COPY;
  * an overlapping batch is served through [[SelectedColumnVector]] views
  * remapping ordinals to the surviving rows (no value copied, no
  * columnar→row drop). Sparse vectors therefore cost one range check per
  * batch on most batches — the dense regime is bounded by the
  * `graft.dv.maxRatio` materialization policy. */
private[sources] final class GraftDvNativeScan(
    path: String, version: Long, tableSchema: StructType,
    required: StructType, filters: Array[Filter], fileNames: Seq[String],
    dvs: Map[String, (String, Long)] = Map.empty,
    streamOpts: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Log-derived statistics, like [[GraftLogDataSource.GraftLogNativeScan]]
    * (a V1Scan could never report any — why the previous vectored
    * fallback lost auto-broadcast): numRows = footer counts MINUS the
    * scanned files' suppressed counts (exact when every file carries a
    * count); sizeInBytes scaled by the pruned column fraction, left
    * UNREDUCED by suppression — an over-estimate can only withhold a
    * broadcast, never wrongly grant one. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val sizes = CommitLog.fileSizeBytes(path, Some(version))
    val totalBytes = fileNames.map(f => sizes.getOrElse(f, 0L)).sum
    val fullSize = math.max(1L, tableSchema.defaultSize.toLong)
    val scaled = math.max(1L,
      (totalBytes.toDouble * required.defaultSize / fullSize).toLong)
    val counts = CommitLog.fileRowCounts(path, Some(version))
    val rows: Option[Long] =
      if (fileNames.forall(counts.contains))
        Some(fileNames.map(counts).sum - dvs.values.map(_._2).sum)
      else None // a legacy count-less file: undefined, never wrong
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(scaled)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }

  private val RowIdxCol = org.apache.spark.sql.execution.datasources.parquet
    .ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  private def isMeta(n: String): Boolean =
    n == CommitLog.DvFileCol || n == CommitLog.DvPosCol

  private val dataFields = required.fields.filter(f => !isMeta(f.name))

  // output ordinal i comes from: -1 = the partition's constant file name;
  // otherwise the delegate column at that index (data columns first, the
  // generated row index last)
  private val mapping: Array[Int] = {
    var next = -1
    required.fields.map { f =>
      if (f.name == CommitLog.DvFileCol) -1
      else if (f.name == CommitLog.DvPosCol) dataFields.length
      else { next += 1; next }
    }
  }

  private lazy val delegate
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = {
    val declared = CommitLog.declaredSchema(path, Some(version))
    val idxField = org.apache.spark.sql.types.StructField(
      RowIdxCol, org.apache.spark.sql.types.LongType)
    org.apache.spark.sql.GraftSqlShim.parquetScan(
      SparkSession.active,
      fileNames.map(f => Paths.get(path, f).toString),
      StructType(CommitLog.physicalizeNames(path, tableSchema, Some(version))
        .fields :+ idxField),
      StructType(CommitLog.physicalizeNames(path, StructType(dataFields),
        Some(version)).fields :+ idxField),
      filters.flatMap(f => CommitLog.physicalizeFilter(declared, f)))
  }

  override def readSchema(): StructType = required
  override def description(): String =
    s"graftlog $path@v$version (row-identity native scan), " +
      s"${fileNames.length} files, PushedFilters: ${filters.mkString("[", ", ", "]")}"

  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    new org.apache.spark.sql.connector.read.Batch {
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] =
        if (fileNames.isEmpty) Array.empty
        else {
          // one FILE per partition, so the reader knows its constant name
          // (the delegate may bin-pack splits of different files together)
          val inner = delegate.toBatch.planInputPartitions()
          inner.flatMap {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.map(pf =>
                (pf, pf.filePath.toPath.getName): (
                  org.apache.spark.sql.execution.datasources.PartitionedFile, String))
            case other => sys.error(
              s"graftlog: unexpected non-file partition ${other.getClass}")
          }.zipWithIndex.map { case ((pf, name), i) =>
            GraftDvInputPartition(
              org.apache.spark.sql.execution.datasources.FilePartition(i, Array(pf)),
              name, dvs.get(name).map(_._1))
          }.toArray
        }

      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        new GraftDvReaderFactory(path, delegate.toBatch.createReaderFactory(),
          mapping, required, dataFields.length)
    }

  /** A vectored (or row-identity) table streams like any other: the
    * snapshot stream applies the live vectors to its initial-snapshot
    * batch and refuses later vector commits without `ignoreChanges`. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    GraftLogDataSource.snapshotStream(path, tableSchema, required, filters, streamOpts)
}

private[sources] final case class GraftDvInputPartition(
    inner: org.apache.spark.sql.execution.datasources.FilePartition,
    fileName: String, sidecar: Option[String])
    extends org.apache.spark.sql.connector.read.InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** A zero-copy VIEW over a base column vector exposing only the SELECTED
  * ordinals: every accessor remaps `i → sel(i)` into the base. Children
  * remap too (struct field reads flow `getChild(f).getX(rowId)` with the
  * parent's ordinal), while array/map/decimal/string accessors delegate
  * whole — their return values index the base child DATA vectors by
  * offset, never by row ordinal. The suppression path wraps only batches
  * that actually contain a suppressed row. */
private[sources] final class SelectedColumnVector(
    base: org.apache.spark.sql.vectorized.ColumnVector, sel: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType()) {
  override def close(): Unit = base.close()
  // ColumnarToRowExec calls closeIfFreeable() after EACH batch; the default
  // implementation closes for real, which would free the parquet reader's
  // REUSED WritableColumnVectors mid-scan (use-after-free on the next
  // batch). Forward the call so a reused base stays its no-op self and a
  // genuinely freeable base still frees.
  override def closeIfFreeable(): Unit = base.closeIfFreeable()
  override def hasNull: Boolean = base.hasNull
  override def numNulls(): Int = {
    var n = 0; var i = 0
    while (i < sel.length) { if (base.isNullAt(sel(i))) n += 1; i += 1 }
    n
  }
  override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
  override def getByte(i: Int): Byte = base.getByte(sel(i))
  override def getShort(i: Int): Short = base.getShort(sel(i))
  override def getInt(i: Int): Int = base.getInt(sel(i))
  override def getLong(i: Int): Long = base.getLong(sel(i))
  override def getFloat(i: Int): Float = base.getFloat(sel(i))
  override def getDouble(i: Int): Double = base.getDouble(sel(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(sel(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    base.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    new SelectedColumnVector(base.getChild(ordinal), sel)
}

/** Wraps the delegate's per-partition readers, splicing the constant file
  * column and re-ordering (data..., rowIndex) into the required layout.
  * Columnar batches reuse the delegate's vectors (zero copy); the
  * row-based fallback maps through one mutable view per reader. A
  * partition whose file carries a live vector suppresses in-scan: the
  * sidecar NAME rides the partition, positions load per task through the
  * [[graft.io.DvSidecars]] LRU, and only batches overlapping a suppressed
  * position pay the [[SelectedColumnVector]] remap. */
private[sources] final class GraftDvReaderFactory(
    table: String,
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory,
    mapping: Array[Int], required: StructType, idxOrdinal: Int)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  override def supportColumnarReads(
      p: org.apache.spark.sql.connector.read.InputPartition): Boolean =
    inner.supportColumnarReads(p.asInstanceOf[GraftDvInputPartition].inner)

  /** Surviving ordinals of a batch, or null when NO row is suppressed
    * (the zero-copy fast path): one sorted-merge pass over the batch's
    * monotone row-index vector and the file's sorted positions, entered
    * only when the [first, last] range check says they overlap. */
  private def selectionOf(
      idx: org.apache.spark.sql.vectorized.ColumnVector, n: Int,
      sup: Array[Long]): Array[Int] = {
    if (sup == null || n == 0) return null
    val first = idx.getLong(0)
    val last = idx.getLong(n - 1)
    var lo = java.util.Arrays.binarySearch(sup, first)
    if (lo < 0) lo = -lo - 1
    if (lo >= sup.length || sup(lo) > last) return null
    val out = new Array[Int](n)
    var k = 0; var p = lo; var i = 0
    while (i < n) {
      val v = idx.getLong(i)
      while (p < sup.length && sup(p) < v) p += 1
      if (p >= sup.length || sup(p) != v) { out(k) = i; k += 1 }
      i += 1
    }
    if (k == n) null else java.util.Arrays.copyOf(out, k)
  }

  override def createColumnarReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val gp = p.asInstanceOf[GraftDvInputPartition]
    val r = inner.createColumnarReader(gp.inner)
    val sup = gp.sidecar.map(graft.io.DvSidecars.positions(table, _)).orNull
    val const = new org.apache.spark.sql.execution.vectorized.ConstantColumnVector(
      1, org.apache.spark.sql.types.StringType)
    const.setUtf8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(gp.fileName))
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = r.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = r.get()
        val n = b.numRows()
        val sel = selectionOf(if (sup == null) null else b.column(idxOrdinal), n, sup)
        val cols = mapping.map {
          case -1 => const: org.apache.spark.sql.vectorized.ColumnVector
          case j =>
            if (sel == null) b.column(j)
            else new SelectedColumnVector(b.column(j), sel)
        }
        new org.apache.spark.sql.vectorized.ColumnarBatch(cols,
          if (sel == null) n else sel.length)
      }
      override def close(): Unit = r.close()
    }
  }

  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftDvInputPartition]
    val r = inner.createReader(gp.inner)
    val sup = gp.sidecar.map(graft.io.DvSidecars.positions(table, _)).orNull
    val file = org.apache.spark.unsafe.types.UTF8String.fromString(gp.fileName)
    val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      mapping.length)
    val types = required.fields.map(_.dataType)
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      override def next(): Boolean = {
        var has = r.next()
        if (sup != null)
          while (has && java.util.Arrays.binarySearch(
              sup, r.get().getLong(idxOrdinal)) >= 0)
            has = r.next()
        has
      }
      override def get(): InternalRow = {
        val in = r.get()
        var i = 0
        while (i < mapping.length) {
          out.update(i,
            if (mapping(i) == -1) file
            else if (in.isNullAt(mapping(i))) null
            else in.get(mapping(i), types(i)))
          i += 1
        }
        out
      }
      override def close(): Unit = r.close()
    }
  }
}

/** The metadata-only DELETE planner behind `SupportsDelete.canDeleteWhere`
  * / `deleteWhere`: prove from the log's zone maps (plus a footer
  * null-count check on files about to be dropped) that every live file
  * either matches the predicate COMPLETELY (drop it from the log — no data
  * is read or written) or provably contains NO matching row (leave it).
  * Any file the proof can't classify makes the answer None and Spark falls
  * back to the copy-on-write rewrite — the proof is exact or it is not
  * used. This is the Delta "metadata delete" fast path: dropping a
  * partition's worth of keys from a 100 TB clustered table is one log
  * commit, zero data IO. */
private[sources] object MetadataDelete {

  /** One zero-row parquet file carrying `schema`, landed (uncommitted) in
    * the table dir — the schema source a table emptied by DML must keep so
    * the snapshot stays readable (the same shape the catalog's plain
    * `CREATE TABLE` commits as v0). Driver-side, a few hundred bytes. */
  private[sources] def writeEmptyFile(table: String,
                                      schema: StructType): String = {
    val name = s"empty-${java.util.UUID.randomUUID()}.parquet"
    org.apache.spark.sql.GraftSqlShim.parquetWriteKit(SparkSession.active,
      CommitLog.physicalizeNames(table, schema))
      .open(Paths.get(table, name).toString, 0, 0).close()
    name
  }

  /** Files to drop so that exactly the predicate-matching rows disappear,
    * or None when the filters/file stats can't prove file-exact coverage.
    * Round 12: the proof reads [[CommitLog.fileStatsOn]] — NAMED
    * clustering zones plus the plain-int footer MULTI-stats every add
    * records — so plain-append tables (tl30's) qualify too, not only the
    * explicitly clustered ones. The proof shape is unchanged: a file is
    * untouched when its range on ANY region column is disjoint, dropped
    * when the region bounds exactly ONE column, the file's range on it
    * lies inside, and the footer proves zero NULLs (a NULL row never
    * matches a comparison, so dropping it would over-delete); anything
    * else falls back to the rewrite. */
  def plan(path: String, version: Long, filters: Seq[Filter]): Option[Seq[String]] = {
    if (filters.exists(_.isInstanceOf[sources.AlwaysFalse]))
      return Some(Seq.empty) // matches nothing: a provable no-op
    exactRegion(filters).flatMap { region =>
      val live = CommitLog.snapshotFiles(path, Some(version))
      if (region.isEmpty) return Some(live) // TRUNCATE / DELETE without WHERE
      // region keys are the command's LOGICAL column names; fileStatsOn
      // translates to the PHYSICAL names stats are recorded under, and
      // footerNullCount needs the physical name to find the chunk — so a
      // renamed column still proves file coverage (never mis-proves it)
      val declared = CommitLog.declaredSchema(path, Some(version))
      val cols = region.toSeq.map { case (n, bounds) =>
        (CommitLog.physicalForIn(declared, n), bounds,
          CommitLog.fileStatsOn(path, n, Some(version)))
      }
      val classified = live.map { f =>
        val known = cols.flatMap { case (p, bounds, stats) =>
          stats.get(f).map(r => (p, bounds, r))
        }
        if (known.isEmpty) None // no usable stats: nothing provable
        else if (known.exists { case (_, (lo, hi), (flo, fhi)) =>
            fhi < lo || flo > hi })
          Some(false) // provably disjoint on some bounded column: untouched
        else if (region.size == 1 &&
            known.forall { case (_, (lo, hi), (flo, fhi)) =>
              flo >= lo && fhi <= hi } &&
            CommitLog.footerNullCount(path, f, known.head._1).contains(0L))
          Some(true) // provably all-matching, null-free: drop whole file
        else None
      }
      if (classified.forall(_.isDefined))
        Some(live.zip(classified).collect { case (f, Some(true)) => f })
      else None
    }
  }

  /** The EXACT region (per-column closed integral [lo, hi] boxes) described
    * by a v1 filter conjunction, or None if any filter falls outside the
    * vocabulary — unlike [[GraftLogDataSource.integralBounds]] (which may
    * under-approximate, safe for pruning), deletion needs equivalence:
    * strict bounds become ±1 on the integral domain, and any shape that
    * can't be represented rejects the whole proof. */
  private[sources] def exactRegion(filters: Seq[Filter]): Option[Map[String, (Long, Long)]] = {
    val empty = (1L, 0L) // lo > hi: matches nothing
    def lit(v: Any): Option[Long] = v match {
      case l: java.lang.Long    => Some(l)
      case i: java.lang.Integer => Some(i.toLong)
      case s: java.lang.Short   => Some(s.toLong)
      case b: java.lang.Byte    => Some(b.toLong)
      case _                    => None
    }
    def one(f: Filter): Option[Seq[(String, (Long, Long))]] = f match {
      case sources.AlwaysTrue() => Some(Seq.empty)
      case sources.EqualTo(a, v) => lit(v).map(x => Seq(a -> (x, x)))
      case sources.GreaterThan(a, v) => lit(v).map(x =>
        Seq(a -> (if (x == Long.MaxValue) empty else (x + 1, Long.MaxValue))))
      case sources.GreaterThanOrEqual(a, v) => lit(v).map(x => Seq(a -> (x, Long.MaxValue)))
      case sources.LessThan(a, v) => lit(v).map(x =>
        Seq(a -> (if (x == Long.MinValue) empty else (Long.MinValue, x - 1))))
      case sources.LessThanOrEqual(a, v) => lit(v).map(x => Seq(a -> (Long.MinValue, x)))
      case sources.And(l, r) => for (ls <- one(l); rs <- one(r)) yield ls ++ rs
      // IsNotNull often rides along with comparisons on the same column; on
      // an integral column it is implied by any satisfied comparison, so it
      // adds no constraint — but ONLY if that column is otherwise bounded
      // (checked below); alone it would assert "delete all non-null rows",
      // which zone maps cannot prove.
      case sources.IsNotNull(a) => Some(Seq(a -> (Long.MinValue, Long.MaxValue)))
      case _ => None
    }
    filters.map(one).foldLeft(Option(Seq.empty[(String, (Long, Long))])) {
      (acc, cur) => for (a <- acc; c <- cur) yield a ++ c
    }.flatMap { bounds =>
      val region = bounds.groupBy(_._1.toLowerCase).map { case (_, bs) =>
        bs.head._1 -> bs.map(_._2).reduce((x, y) =>
          (math.max(x._1, y._1), math.min(x._2, y._2)))
      }
      // a column bounded ONLY by the degenerate full range came from a bare
      // IsNotNull — "all non-null rows of a column" is not a provable
      // file-drop region (a drop would also delete that file's null rows)
      if (region.values.exists(r => r == (Long.MinValue, Long.MaxValue))) None
      else Some(region)
    }
  }
}
