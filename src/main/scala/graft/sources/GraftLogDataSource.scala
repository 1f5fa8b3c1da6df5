package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, InsertableRelation, StreamSourceProvider, TableScan}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.CommitLog

/** SQL/DataSource surface for the transactional commit-log table format
  * ([[graft.io.CommitLog]]) — the way Delta exposes its log to Spark:
  *
  * {{{
  *   spark.read.format("graftlog").load("/path/to/table")            // current snapshot
  *   spark.read.format("graftlog")
  *     .option("versionAsOf", 0).load(path)                          // version time travel
  *   spark.read.format("graftlog")
  *     .option("timestampAsOf", "2026-08-14T12:00:00Z").load(path)   // timestamp time travel
  *   spark.read.format("graftlog")
  *     .option("mergeSchema", true).load(path)                       // additive evolution
  *   df.write.format("graftlog").mode("append").save(path)           // transactional append
  *   df.write.format("graftlog").mode("overwrite").save(path)        // one-commit replace
  * }}}
  *
  * Registered under the short name `graftlog` via the standard
  * `DataSourceRegister` service file, so SQL users reach snapshots,
  * time travel, schema evolution AND transactional writes without
  * touching the Scala API (`CREATE TEMPORARY VIEW t USING graftlog
  * OPTIONS (path '...')` works through the same provider).
  *
  * Implementation: a DataSource **V2** `TableProvider` whose batch read
  * is a NATIVE V2 scan ([[GraftLogNativeScan]]) delegating to Spark's own
  * columnar parquet scan over the snapshot's zone-pruned live files —
  * vectorized reading and whole-stage codegen end-to-end. The scan
  * builder implements the V2 pushdown interfaces
  * (`SupportsPushDownRequiredColumns` / `SupportsPushDownFilters` /
  * `SupportsPushDownAggregates`), so a `SELECT two_cols ... WHERE pred`
  * reads exactly those columns with the predicate compiled to parquet
  * row-group/page skipping, zone maps drop whole files before the scan is
  * planned, whole-snapshot `count(*)`/`min`/`max` are answered from log
  * metadata without opening a file, and the scan reports real statistics
  * (numRows + sizeInBytes from the commit vocabulary) so Catalyst
  * auto-broadcasts small snapshots. Pushed filters are all reported back
  * as residuals, so Spark re-applies them above the scan — every pushdown
  * is a strict optimization, never a correctness dependency. Only the
  * metadata-aggregate scan still rides the [[V1Scan]] bridge (a one-row
  * constant needs no columnar path).
  *
  * Writes bridge through [[V1Write]]/[[InsertableRelation]] to
  * [[CommitLog.append]] / [[CommitLog.overwrite]]: staging is Spark's own
  * distributed parquet write, the commit is one atomic version flip, and
  * `mode("overwrite")` lands adds+removes in a single commit (readers see
  * old or new, never a mix). Writing to a time-travel snapshot is refused
  * at analysis time. Version resolution happens once per query planning
  * (driver-side log replay, O(retained commits)); `inferSchema` caches
  * the resolved table and `getTable` consumes it, so one `load()` never
  * resolves twice — and cannot pin a different version than the schema it
  * just inferred (the TOCTOU a commit landing between the two calls
  * would otherwise open).
  */
class GraftLogDataSource extends TableProvider with DataSourceRegister
    with StreamSourceProvider {

  override def shortName(): String = "graftlog"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftLogDataSource.resolveCached(options.asCaseSensitiveMap()).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    GraftLogDataSource.consumeCached(properties)

  // ------------------------------------------------------------------ streaming read
  // `spark.readStream.format("graftlog")` resolves `sourceSchema` eagerly
  // for every path-form stream, so `resolveForStream` is where a pinned or
  // missing snapshot is refused at analysis. The V1 source itself serves
  // change feeds only: the path form with `readChangeFeed` (whose relation
  // withholds MICRO_BATCH_READ) and the `.changes` identifier (through its
  // V1 fallback table, [[GraftLogDataSource.resolveChanges]]). A snapshot
  // stream plans the V2 [[GraftLogMicroBatchStream]] from the table's scan.
  // Streaming writes plan the V2 [[GraftLogStreamingWrite]]; a relation
  // without STREAMING_WRITE (a change feed) has no sink to fall back to.

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      GraftLogDataSource.resolveForStream(parameters).schema0))

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val t = GraftLogDataSource.resolveForStream(parameters)
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    require(opts.get("readchangefeed").exists(_.toBoolean),
      s"graftlog: the V1 stream source serves change feeds only; a snapshot " +
        s"stream of ${t.path} plans the V2 micro-batch stream")
    new GraftLogStreamSource(
      ctx.sparkSession, t.path,
      schema.getOrElse(t.schema0),
      startingVersion = GraftLogDataSource.streamStartVersion(t.path, opts)
        .getOrElse(0L),
      maxVersionsPerTrigger = GraftLogDataSource.maxVersionsPerTrigger(opts))
  }
}

/** The graftlog batch read: a NATIVE V2 scan that delegates execution to
  * Spark's own columnar parquet scan over the snapshot's zone-pruned live
  * files — whole-stage codegen and vectorized reading end-to-end, no
  * per-row `Row` bridge — while reporting REAL table statistics from the
  * commit log ([[org.apache.spark.sql.connector.read.SupportsReportStatistics]]):
  * numRows from the footer-count vocabulary (only when every read file
  * carries one), sizeInBytes from the byte-size vocabulary scaled by the
  * pruned column fraction (FileScan's own convention). A V1Scan cannot
  * report statistics at all — Spark wraps it in `V1ScanWrapper`, which
  * hides the interface (why JDBC never auto-broadcasts); reporting them
  * requires exactly this native form. */
private[graft] final class GraftLogNativeScan(
    path: String, version: Long, tableSchema: StructType,
    req: StructType, filters: Array[Filter], fileNames: Seq[String],
    streamOpts: Map[String, String] = Map.empty)
    extends Scan with SupportsReportStatistics {

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    GraftLogDataSource.snapshotStream(path, tableSchema, req, filters, streamOpts)

  /** Spark's own V2 parquet scan over the pruned file list; built lazily
    * at first planning use (one driver-side file-status listing). The
    * delegate runs under PHYSICAL column names (renamed columns keep the
    * name their files wear; widened columns keep the declared wide type —
    * the parquet reader promotes old narrow pages); `readSchema()` reports
    * the LOGICAL projection, and the bridge is positional (columnar
    * batches carry no names), so the planner binds correctly. Filters a
    * rename makes untranslatable are dropped from the delegate only —
    * every filter is re-applied above the scan regardless. */
  private[graft] lazy val delegate
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = {
    val declared = CommitLog.declaredSchema(path, Some(version)) // ONE replay
    org.apache.spark.sql.GraftSqlShim.parquetScan(
      SparkSession.active,
      fileNames.map(f => java.nio.file.Paths.get(path, f).toString),
      CommitLog.physicalizeNames(path, tableSchema, Some(version)),
      CommitLog.physicalizeNames(path, req, Some(version)),
      filters.flatMap(f => CommitLog.physicalizeFilter(declared, f)))
  }

  override def readSchema(): StructType = req
  override def toBatch: org.apache.spark.sql.connector.read.Batch = delegate.toBatch
  override def description(): String =
    s"graftlog $path@v$version, ${fileNames.length} files, " +
      s"PushedFilters: ${filters.mkString("[", ", ", "]")}"

  override def estimateStatistics(): Statistics = {
    val sizes = CommitLog.fileSizeBytes(path, Some(version))
    val totalBytes = fileNames.map(f => sizes.getOrElse(f, 0L)).sum
    val fullSize = math.max(1L, tableSchema.defaultSize.toLong)
    val scaled = math.max(1L,
      (totalBytes.toDouble * req.defaultSize / fullSize).toLong)
    val counts = CommitLog.fileRowCounts(path, Some(version))
    val rows: Option[Long] =
      if (fileNames.forall(counts.contains)) Some(fileNames.map(counts).sum)
      else None // a legacy count-less file: undefined, never wrong
    new Statistics {
      override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(scaled)
      override def numRows(): util.OptionalLong =
        rows.fold(util.OptionalLong.empty())(util.OptionalLong.of)
    }
  }
}

object GraftLogDataSource {

  /** One-shot handoff from `inferSchema` to `getTable`: Spark calls both
    * on the SAME thread within one `load()`
    * (`DataSourceV2Utils.getTableFromProvider`), so the handoff is a
    * ThreadLocal — NOT a map keyed by the option map, where two concurrent
    * `load()`s of the same table could swap entries (thread A consuming
    * B's table resolved at a newer version than the schema A inferred —
    * re-opening the version/schema TOCTOU the handoff exists to close).
    * `getTable` consumes the entry, so a LATER `load()` of the same path
    * re-resolves and sees new commits — the handoff only pins
    * version/schema agreement within a single load. */
  private val pending =
    new ThreadLocal[(Map[String, String], GraftLogTable)]

  private def optKey(properties: util.Map[String, String]): Map[String, String] =
    properties.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap

  private[sources] def resolveCached(properties: util.Map[String, String]): GraftLogTable = {
    val key = optKey(properties)
    val t = resolve(key)
    pending.set(key -> t)
    t
  }

  private[sources] def consumeCached(properties: util.Map[String, String]): GraftLogTable = {
    val key = optKey(properties)
    val entry = pending.get()
    pending.remove()
    entry match {
      case (k, t) if k == key => t
      case _                  => resolve(key)
    }
  }

  /** A resolved snapshot: table path + pinned version + read options.
    * `snapshotVersion == -1` marks a not-yet-created table — write-only
    * (the first append/overwrite creates it), accepting any schema. Not
    * final: the `.changes` relation adds its V1 fallback table
    * ([[resolveChanges]]). */
  case class GraftLogTable(path: String, snapshotVersion: Long,
                           mergeSchema: Boolean, timeTravel: Boolean,
                           schema0: StructType,
                           changeFeed: Option[(Long, Long)] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

    private def exists: Boolean = snapshotVersion >= 0
    private def isCdf: Boolean = changeFeed.isDefined

    /** The table's row identity as METADATA columns (Iceberg's `_file`/
      * `_pos` shape): data file name + row position within it, straight
      * from the parquet reader's own metadata — `SELECT _graft_dv_file,
      * _graft_dv_pos FROM t` works, and the delta-based (merge-on-read)
      * DML route resolves its [[GraftDvRowLevelOperation.rowId]] against
      * them. Never part of `schema()`; Spark appends them only when
      * referenced. */
    override def metadataColumns()
        : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
      if (!exists || isCdf) Array.empty
      else Array(
        new org.apache.spark.sql.connector.catalog.MetadataColumn {
          override def name(): String = CommitLog.DvFileCol
          override def dataType(): org.apache.spark.sql.types.DataType =
            org.apache.spark.sql.types.StringType
          override def isNullable: Boolean = false
          override def comment(): String = "data file serving this row"
        },
        new org.apache.spark.sql.connector.catalog.MetadataColumn {
          override def name(): String = CommitLog.DvPosCol
          override def dataType(): org.apache.spark.sql.types.DataType = LongType
          override def isNullable: Boolean = false
          override def comment(): String = "row position within its data file"
        })

    override def name(): String =
      if (isCdf) s"graftlog.`$path`@changes${changeFeed.get}"
      else if (exists) s"graftlog.`$path`@v$snapshotVersion"
      else s"graftlog.`$path`@new"
    override def schema(): StructType = schema0

    /** DESCRIBE-visible facts: the pinned version and the declared
      * clustering spec (driver-side log replay, DESCRIBE-frequency). */
    override def properties(): util.Map[String, String] = {
      val m = new util.HashMap[String, String]()
      m.put("format", "graftlog")
      if (exists) {
        m.put("version", snapshotVersion.toString)
        CommitLog.declaredClustering(path, Some(snapshotVersion)).foreach {
          case (c, b) =>
            m.put("cluster-by", c)
            m.put("cluster-buckets", b.toString)
        }
        // the graft.* opt-ins round-trip: what CREATE/ALTER SET
        // TBLPROPERTIES accepted, SHOW TBLPROPERTIES reports back
        // (the bloom column at its CURRENT logical name)
        if (CommitLog.dvEnabled(path, Some(snapshotVersion)))
          m.put("graft.dv.enabled", "true")
        CommitLog.dvMaxRatioOf(path, Some(snapshotVersion)).foreach(r =>
          m.put("graft.dv.maxRatio", r.toString))
        CommitLog.declaredBloom(path, Some(snapshotVersion)).foreach(c =>
          m.put("graft.bloom.column", CommitLog.logicalFor(path, c)))
      }
      m
    }

    /** The declared clustering surfaces as the table's partitioning, so
      * DESCRIBE/SHOW CREATE show `bucket(n, col)` back to the user. A
      * composite `z(a,b)` spec is NOT a parseable column reference —
      * Spark's write planning parses every transform's field names — so
      * it rides the `cluster-by` table property instead (the layout
      * itself is honored by every write through the log-declared spec). */
    override def partitioning(): Array[Transform] =
      if (!exists) Array.empty
      else CommitLog.declaredClustering(path, Some(snapshotVersion)).collect {
        case (c, b) if CommitLog.zSpecColumns(c).isEmpty =>
          org.apache.spark.sql.connector.expressions.Expressions.bucket(b, c)
      }.toArray
    override def capabilities(): util.Set[TableCapability] =
      if (isCdf) // a change feed is a derived, read-only relation; it
        // streams through the V1 change-feed source, not MICRO_BATCH_READ
        util.EnumSet.of(TableCapability.BATCH_READ)
      else if (exists && !timeTravel)
        util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
          TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
          TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)
      else if (exists) // a pinned snapshot: batch surfaces only (a stream
        // follows the LIVE log; startingVersion is the streaming analogue,
        // and the V1 fallback's resolveForStream names it)
        util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
          TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
          TableCapability.STREAMING_WRITE)
      else // no snapshot to read or to check schemas against yet
        util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
          TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA,
          TableCapability.STREAMING_WRITE)

    // ------------------------------------------------------------------ read
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      // the change-feed relation: a derived computation (per-commit
      // multiset diffs), served through the V1 bridge — the diff itself
      // is a full distributed Catalyst plan; only the hand-off is V1.
      // The `.changes` metadata-table form re-pins its batch window from
      // reader options (the path form folded its options into the pinned
      // window at resolve; re-deriving here from the same options is
      // identical).
      changeFeed.foreach { case (fromV0, toV0) =>
        val opts = options.asCaseSensitiveMap().asScala
          .map { case (k, v) => k.toLowerCase -> v }.toMap
        def longOpt(key: String, name: String): Option[Long] = opts.get(key).map { v =>
          try v.trim.toLong
          catch {
            case e: NumberFormatException => throw new IllegalArgumentException(
              s"graftlog: $name must be a version number, got '$v'", e)
          }
        }
        // timestamp windows resolve through the same commit-time source
        // version time travel uses: startingTimestamp ts = changes SINCE
        // that moment (commits strictly after the snapshot current at
        // ts), endingTimestamp ts = changes THROUGH it
        require(!(opts.contains("startingversion") && opts.contains("startingtimestamp")),
          "graftlog: startingVersion and startingTimestamp are mutually exclusive")
        require(!(opts.contains("endingversion") && opts.contains("endingtimestamp")),
          "graftlog: endingVersion and endingTimestamp are mutually exclusive")
        val fromV = longOpt("startingversion", "startingVersion")
          .map(_ - 1L)
          .orElse(opts.get("startingtimestamp").map { ts =>
            // a start before the retained history means "the whole feed"
            try CommitLog.versionAt(path, parseTs(ts))
            catch { case _: IllegalArgumentException => -1L }
          })
          .getOrElse(fromV0)
        val toV = longOpt("endingversion", "endingVersion")
          .orElse(opts.get("endingtimestamp")
            .map(ts => CommitLog.versionAt(path, parseTs(ts))))
          .getOrElse(toV0)
        require(fromV + 1 >= 0 && fromV <= toV && toV <= toV0,
          s"graftlog: change-feed window [${fromV + 1}, $toV] must lie " +
            s"within [0, $toV0]")
        return new ScanBuilder {
          override def build(): Scan = new V1Scan {
            override def readSchema(): StructType = schema0
            override def toV1TableScan[T <: BaseRelation with TableScan](
                context: SQLContext): T =
              new BaseRelation with TableScan {
                override def sqlContext: SQLContext = context
                override def schema: StructType = schema0
                override def buildScan(): RDD[Row] =
                  CommitLog.alignToPinned(path,
                      CommitLog.changes(context.sparkSession, path, fromV, toV),
                      schema0, Some(toV))
                    .rdd
              }.asInstanceOf[T]
          }
        }
      }
      new ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
          with SupportsPushDownAggregates {
        private var required: StructType = schema0
        private var pushed: Array[Filter] = Array.empty
        // reader options, kept for the streaming form of the scan
        private val streamOpts: Map[String, String] =
          options.asCaseSensitiveMap().asScala
            .map { case (k, v) => k.toLowerCase -> v }.toMap
        // a pushed aggregation the LOG answers outright: output schema +
        // the single result row (no data file is ever opened)
        private var metaAgg: Option[(StructType, Seq[Any])] = None

        override def pruneColumns(requiredSchema: StructType): Unit =
          required = requiredSchema

        // ---------------------------------------------------- aggregate pushdown
        /** `count(*)` / `min(col)` / `max(col)` answered from commit-log
          * metadata alone — footer row counts and named zone ranges (the
          * Delta/Iceberg metadata-query shape, through the same
          * `SupportsPushDownAggregates` surface Spark's JDBC source uses).
          * Pushed ONLY on a whole-snapshot scan (no filters, no group-by)
          * and only when the log's answer is exact ([[CommitLog
          * .snapshotRowCount]] / [[CommitLog.snapshotMinMax]] defined);
          * everything else declines, and Spark plans the ordinary
          * scan + aggregate — pushdown is an optimization, never a
          * correctness dependency. At 100 TB this answers `SELECT
          * count(*)` in milliseconds where a scan is minutes. */
        override def supportCompletePushDown(agg: Aggregation): Boolean =
          metadataAnswer(agg).isDefined

        override def pushAggregation(agg: Aggregation): Boolean =
          metadataAnswer(agg) match {
            case Some(ans) => metaAgg = Some(ans); true
            case None      => false
          }

        private def metadataAnswer(agg: Aggregation): Option[(StructType, Seq[Any])] = {
          if (agg.groupByExpressions.nonEmpty || agg.aggregateExpressions.isEmpty ||
              pushed.nonEmpty) return None
          val answered = agg.aggregateExpressions.toSeq.map(answerOne)
          if (answered.forall(_.isDefined)) {
            val cols = answered.flatten
            Some((StructType(cols.map(_._1)), cols.map(_._2)))
          } else None
        }

        /** One aggregate function → (output field, metadata value), or
          * None when the log cannot answer it exactly. Min/max are only
          * served for integral columns with full named-zone coverage —
          * the vocabulary the ranges are recorded in. */
        private def answerOne(f: AggregateFunc): Option[(StructField, Any)] = f match {
          case _: CountStar =>
            CommitLog.snapshotRowCount(path, Some(snapshotVersion))
              .map(n => (StructField("count(*)", LongType, nullable = false), n))
          case m: Min => minMax(m.column, isMin = true)
          case m: Max => minMax(m.column, isMin = false)
          case _      => None
        }

        private def minMax(column: org.apache.spark.sql.connector.expressions.Expression,
                           isMin: Boolean): Option[(StructField, Any)] = column match {
          case nr: NamedReference if nr.fieldNames.length == 1 =>
            val name = nr.fieldNames()(0)
            schema0.find(_.name.equalsIgnoreCase(name)).flatMap { field =>
              val cast: Long => Any = field.dataType match {
                case LongType    => identity[Long]
                case IntegerType => (v: Long) => v.toInt
                case _           => return None // zone ranges are integral
              }
              CommitLog.snapshotMinMax(path, name, Some(snapshotVersion)).map { case (lo, hi) =>
                val label = s"${if (isMin) "min" else "max"}(${field.name})"
                (StructField(label, field.dataType, nullable = true),
                  cast(if (isMin) lo else hi))
              }
            }
          case _ => None
        }

        /** Push what translates; report EVERYTHING as residual so Spark
          * re-applies above the scan — the pushed copy only exists to
          * reach the parquet scan's row-group/page skipping. */
        override def pushFilters(filters: Array[Filter]): Array[Filter] = {
          pushed = filters.filter(translate(_).isDefined)
          filters
        }
        override def pushedFilters(): Array[Filter] = pushed

        override def build(): Scan = metaAgg match {
          // a metadata-answered aggregation: one constant row, zero data
          // reads — the snapshot's files are never opened (they don't
          // even have to exist; spec-pinned by deleting them)
          case Some((aggSchema, row)) => new V1Scan {
            override def readSchema(): StructType = aggSchema
            override def toV1TableScan[T <: BaseRelation with TableScan](
                context: SQLContext): T =
              new BaseRelation with TableScan {
                override def sqlContext: SQLContext = context
                override def schema: StructType = aggSchema
                override def buildScan(): RDD[Row] =
                  context.sparkContext.parallelize(Seq(Row(row: _*)), 1)
              }.asInstanceOf[T]
          }
          case None =>
            val fs = prunedFileNames(path, snapshotVersion, pushed.toIndexedSeq)
            val dvd = CommitLog.dvFor(path, Some(snapshotVersion))
            val wantsRowId = required.fieldNames.exists(n =>
              n == CommitLog.DvFileCol || n == CommitLog.DvPosCol)
            val anyDv = fs.exists(dvd.contains)
            if (wantsRowId || anyDv) {
              // the (file, position) METADATA columns were referenced, or
              // a scanned file carries a live deletion vector: both serve
              // NATIVELY through [[GraftDvNativeScan]] (the parquet
              // reader's own row index + a constant file vector); live
              // vectors suppress in-scan via per-task sidecar probes and
              // batch-level selection views — no V1 row bridge in either
              // regime
              val fsSet = fs.toSet
              val dvSc = dvd.filter { case (f, _) => fsSet(f) }
              new GraftDvNativeScan(path, snapshotVersion, schema0,
                required, pushed, fs, dvSc, streamOpts)
            } else new GraftLogNativeScan(path, snapshotVersion, schema0, required,
              pushed, fs, streamOpts)
        }
      }
    }

    // ------------------------------------------------------------------ row-level DML
    /** `DELETE FROM` / `UPDATE` / `MERGE INTO` — the strategy is the
      * TABLE's: a table that opted into deletion vectors
      * ([[CommitLog.enableDv]] / `TBLPROPERTIES ('graft.dv.enabled')`)
      * plans the delta-based merge-on-read operation
      * ([[GraftDvRowLevelOperation]]: matched rows suppressed via merged
      * per-file vectors, images appended, ONE commit, zero files
      * rewritten — Delta's behavior when `enableDeletionVectors` is set);
      * everything else plans the group-based copy-on-write rewrite
      * ([[GraftRowLevelOperation]]). Translatable DELETEs still
      * short-circuit through `SupportsDelete` first on both. */
    override def newRowLevelOperationBuilder(
        info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
        : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
      require(!isCdf,
        s"graftlog: a change-feed relation of $path is read-only")
      require(!timeTravel,
        s"graftlog: cannot ${info.command.name.toLowerCase} rows of a time-travel " +
          s"snapshot of $path (drop versionAsOf/timestampAsOf to modify the head)")
      require(exists, s"graftlog: $path has no commits — nothing to ${info.command}")
      () =>
        if (CommitLog.dvEnabled(path, Some(snapshotVersion)))
          new GraftDvRowLevelOperation(path, snapshotVersion, schema0, info.command)
        else
          new GraftRowLevelOperation(path, snapshotVersion, schema0, info.command)
    }

    /** A DELETE is served without a copy-on-write rewrite when either
      * proof applies, tried cheapest-first:
      *  1. metadata-only — zone maps prove file-exact coverage: one
      *     commit of whole-file drops, zero data IO;
      *  2. merge-on-read — the table opted in ([[CommitLog.enableDv]])
      *     and every filter translates to a Catalyst predicate: the
      *     matching positions land as deletion-vector sidecars, one
      *     'delete' commit, no data file rewritten (cost ∝ candidate
      *     files scanned + rows deleted, not ∝ rows kept).
      * Anything else falls back to Spark's row-level rewrite. */
    override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
      !timeTravel && !isCdf && exists &&
        (MetadataDelete.plan(path, snapshotVersion, filters.toIndexedSeq).isDefined ||
          (CommitLog.dvEnabled(path, Some(snapshotVersion)) &&
            filters.forall(translate(_).isDefined)))

    override def deleteWhere(filters: Array[sources.Filter]): Unit = {
      require(!isCdf, s"graftlog: a change-feed relation of $path is read-only")
      require(!timeTravel,
        s"graftlog: cannot DELETE from a time-travel snapshot of $path")
      // re-derive against the CURRENT tip: the proof was planned on this
      // table's pinned snapshot, but the delete must apply serializably
      // to the head (a racing commit aborts the attempt and re-proves)
      CommitLog.serializably(path) { tip =>
        MetadataDelete.plan(path, tip, filters.toIndexedSeq) match {
          case None if CommitLog.dvEnabled(path, Some(tip)) &&
              filters.forall(translate(_).isDefined) =>
            // merge-on-read: suppress the matching positions, rewrite
            // nothing. Candidates re-prune per retry at the current tip.
            val cond = filters.toIndexedSeq.flatMap(translate)
              .reduceOption(_ && _).getOrElse(lit(true))
            CommitLog.dvDelete(SparkSession.active, path, cond,
              Some(v => prunedFileNames(path, v, filters.toIndexedSeq)))
            ()
          case None => throw new IllegalStateException(
            s"graftlog: metadata DELETE on $path is no longer provable at " +
              s"v$tip (the table changed since planning) — re-run the DELETE")
          case Some(drops) if drops.isEmpty => () // provably matches nothing
          case Some(drops) =>
            // dropping every live file (TRUNCATE / delete-all) must leave a
            // schema source: one empty parquet file, as CREATE TABLE does;
            // a lost race reclaims it
            val emptyGuard =
              if (CommitLog.snapshotFiles(path, Some(tip)).forall(drops.contains))
                Seq(MetadataDelete.writeEmptyFile(path, schema0))
              else Seq.empty
            CommitLog.replaceFiles(path, drops, emptyGuard, Some(tip), op = "delete")
            ()
        }
      }
    }

    // ------------------------------------------------------------------ write
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      require(!isCdf,
        s"graftlog: a change-feed relation of $path is read-only")
      require(!timeTravel,
        s"graftlog: cannot write to a time-travel snapshot of $path " +
          "(drop versionAsOf/timestampAsOf to write to the table head)")
      new WriteBuilder with SupportsTruncate {
        private var replace = false
        override def truncate(): WriteBuilder = { replace = true; this }
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: DataFrame, overwrite: Boolean): Unit = {
                // a table that DECLARED a clustering spec gets it applied
                // to every write: range-partition on the column, zone
                // ranges recorded — INSERTs keep the layout data skipping
                // depends on without the writer knowing the policy
                (CommitLog.declaredClustering(path), replace || overwrite) match {
                  case (Some((c, b)), false) =>
                    CommitLog.appendClustered(data.sparkSession, data, path, c, b)
                  case (Some((c, b)), true) =>
                    CommitLog.overwriteClustered(data.sparkSession, data, path, c, b)
                  case (None, false) => CommitLog.append(data, path)
                  case (None, true)  => CommitLog.overwrite(data, path)
                }
                ()
              }
            }
          /** `df.writeStream.toTable(...)` and every STREAMING_WRITE
            * route: exactly-once txn-marked epoch commits (identity:
            * txnAppId, else the checkpoint location); Complete mode
            * (truncate) = atomic replacement per epoch. */
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            // last resort is the streaming QUERY id — persisted in the
            // checkpoint's metadata file, so stable across restarts of one
            // query and distinct per query. Never a path constant: a fresh
            // temp-checkpoint run restarts batchIds at 0 and a path-keyed
            // identity would skip its batches as replays (data loss).
            val txnPrefix = Option(info.options().get("txnAppId"))
              .orElse(Option(info.options().get("checkpointLocation")))
              .getOrElse(s"graftlog-sink:query=${info.queryId()}")
            new GraftLogStreamingWrite(path, txnPrefix, replace, info.schema())
          }
        }
      }
    }
  }

  /** The snapshot's live files surviving zone-map pruning for a pushed
    * filter conjunction (table-relative names, as [[CommitLog
    * .snapshotFiles]] serves them) — THE file list both read surfaces
    * consume: the native scan's parquet file index and the Scala-API
    * [[narrowedRead]]. The pushed filters are matched against the commit
    * log's zone maps (file-level [lo, hi] ranges recorded by
    * [[CommitLog.appendClustered]] with the column NAMED): files whose
    * recorded range cannot overlap the filters' implied bounds are
    * dropped from the read entirely — Delta/Iceberg data skipping. At
    * 100 TB this is the difference between listing every file of a
    * clustered table and touching only the key ranges a `WHERE k BETWEEN
    * ...` names. Skipping only ever acts on positive evidence
    * (named-column stats that cannot match); stats-less files,
    * foreign-column stats, and filter shapes [[integralBounds]] does not
    * understand are always read, and every filter is still re-applied
    * above the scan. */
  private[graft] def prunedFileNames(path: String, version: Long,
                                     filters: Seq[Filter]): Seq[String] = {
    val all = CommitLog.snapshotFiles(path, Some(version))
    val bounds = integralBounds(filters)
    val intPruned =
      if (bounds.isEmpty) all
      else {
        val byColumn = bounds.foldLeft(all) { case (files, (colName, (lo, hi))) =>
          val stats = CommitLog.fileStatsOn(path, colName, Some(version))
          if (stats.isEmpty) files
          else files.filter(f => stats.get(f) match {
            case Some((flo, fhi)) => fhi >= lo && flo <= hi
            case None             => true // no recorded range: never skipped
          })
        }
        zOrderPrune(path, version, bounds, byColumn)
      }
    typedPrune(path, version, filters, intPruned)
  }

  /** TYPED file skipping — date/timestamp/decimal/string predicates
    * matched against the typed footer stats every add records
    * ([[CommitLog.footerSummary]]'s 'd'/'t'/'c' kinds and string byte
    * bounds). The filter literal converts to the STAT's unit — epoch days
    * for dates, epoch micros for timestamps (the exact parquet physical
    * units, so no unit mismatch is possible), exact `BigDecimal`
    * comparison at the annotated scale for decimals, UTF-8 unsigned byte
    * order for strings (parquet's own string stat order). A stat whose
    * kind differs from the literal's reads the file; stats-less files are
    * never skipped; every filter is re-applied above the scan — same
    * fail-safe contract as the integral pass. This is the commonest
    * real-world prune (a time-range query over a plain-append event
    * table), which before round 12 read every file. */
  private def typedPrune(path: String, version: Long,
                         filters: Seq[Filter], files: Seq[String]): Seq[String] = {
    val afterUnit = unitBounds(filters).foldLeft(files) {
      case (fs, (colName, (kind, lo, hi))) =>
        val stats = CommitLog.typedStatsOn(path, colName, Some(version))
        if (stats.isEmpty) fs
        else fs.filter(f => stats.get(f) match {
          case Some(cs) if cs.kind == kind => cs.hi >= lo && cs.lo <= hi
          case _                           => true // absent or foreign kind: read
        })
    }
    val afterDec = decimalBounds(filters).foldLeft(afterUnit) {
      case (fs, (colName, (lo, hi))) =>
        val stats = CommitLog.typedStatsOn(path, colName, Some(version))
        if (stats.isEmpty) fs
        else fs.filter(f => stats.get(f) match {
          case Some(cs) if cs.kind == 'c' =>
            // exact: the file range re-scaled to a real value, no rounding
            java.math.BigDecimal.valueOf(cs.hi, cs.scale).compareTo(lo) >= 0 &&
              java.math.BigDecimal.valueOf(cs.lo, cs.scale).compareTo(hi) <= 0
          case _ => true
        })
    }
    stringBounds(filters).foldLeft(afterDec) { case (fs, (colName, (plo, phi))) =>
      val stats = CommitLog.stringStatsOn(path, colName, Some(version))
      if (stats.isEmpty) fs
      else fs.filter(f => stats.get(f) match {
        case Some((flo, fhi)) =>
          phi.forall(h => java.util.Arrays.compareUnsigned(flo, h) <= 0) &&
            plo.forall(l => java.util.Arrays.compareUnsigned(fhi, l) >= 0)
        case None => true
      })
    }
  }

  /** Per-column [lo, hi] bounds in the typed stats' own units, from
    * date/timestamp literals: 'd' = epoch days, 't' = epoch micros. Both
    * `java.time` and legacy `java.sql` literal classes are understood
    * (Spark hands whichever `datetimeJava8ApiEnabled` selects);
    * TimestampNTZ literals arrive as `LocalDateTime` and convert at UTC —
    * exactly the micros parquet stores for NTZ columns. Same
    * closed-bound/conjunction rules as [[integralBounds]]. */
  private[graft] def unitBounds(filters: Seq[Filter]): Map[String, (Char, Long, Long)] = {
    def lit(v: Any): Option[(Char, Long)] = v match {
      case d: java.sql.Date       => Some(('d', d.toLocalDate.toEpochDay))
      case d: java.time.LocalDate => Some(('d', d.toEpochDay))
      case t: java.sql.Timestamp =>
        try Some(('t', math.addExact(math.multiplyExact(t.getTime, 1000L),
          ((t.getNanos / 1000) % 1000).toLong)))
        catch { case _: ArithmeticException => None }
      case i: java.time.Instant =>
        try Some(('t', math.addExact(
          math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong)))
        catch { case _: ArithmeticException => None }
      case l: java.time.LocalDateTime =>
        try Some(('t', math.addExact(math.multiplyExact(
          l.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
          (l.getNano / 1000).toLong)))
        catch { case _: ArithmeticException => None }
      case _ => None
    }
    def one(f: Filter): Seq[(String, (Char, Long, Long))] = f match {
      case sources.EqualTo(a, v)            => lit(v).map { case (k, x) => a -> (k, x, x) }.toSeq
      case sources.GreaterThan(a, v)        => lit(v).map { case (k, x) => a -> (k, x, Long.MaxValue) }.toSeq
      case sources.GreaterThanOrEqual(a, v) => lit(v).map { case (k, x) => a -> (k, x, Long.MaxValue) }.toSeq
      case sources.LessThan(a, v)           => lit(v).map { case (k, x) => a -> (k, Long.MinValue, x) }.toSeq
      case sources.LessThanOrEqual(a, v)    => lit(v).map { case (k, x) => a -> (k, Long.MinValue, x) }.toSeq
      case sources.In(a, vs) =>
        val ls = vs.toSeq.map(lit)
        if (ls.nonEmpty && ls.forall(_.isDefined) && ls.flatten.map(_._1).distinct.size == 1) {
          val xs = ls.flatten
          Seq(a -> (xs.head._1, xs.map(_._2).min, xs.map(_._2).max))
        } else Seq.empty
      case sources.And(l, r) => one(l) ++ one(r)
      case _                 => Seq.empty
    }
    filters.flatMap(one).groupBy(_._1).flatMap { case (c, bs) =>
      // a column is only ever one kind; mixed kinds would mean a broken
      // plan — contribute nothing rather than guess
      if (bs.map(_._2._1).distinct.size != 1) None
      else Some(c -> bs.map(_._2).reduce[(Char, Long, Long)] {
        case ((k, l1, h1), (_, l2, h2)) => (k, math.max(l1, l2), math.min(h1, h2))
      })
    }
  }

  /** Per-column exact decimal bounds from `BigDecimal` literals. */
  private[graft] def decimalBounds(filters: Seq[Filter])
      : Map[String, (java.math.BigDecimal, java.math.BigDecimal)] = {
    val MaxDec = java.math.BigDecimal.valueOf(Long.MaxValue).scaleByPowerOfTen(18)
    val MinDec = MaxDec.negate
    def lit(v: Any): Option[java.math.BigDecimal] = v match {
      case b: java.math.BigDecimal => Some(b)
      case b: scala.math.BigDecimal => Some(b.bigDecimal)
      case _ => None
    }
    def one(f: Filter): Seq[(String, (java.math.BigDecimal, java.math.BigDecimal))] = f match {
      case sources.EqualTo(a, v)            => lit(v).map(x => a -> (x, x)).toSeq
      case sources.GreaterThan(a, v)        => lit(v).map(x => a -> (x, MaxDec)).toSeq
      case sources.GreaterThanOrEqual(a, v) => lit(v).map(x => a -> (x, MaxDec)).toSeq
      case sources.LessThan(a, v)           => lit(v).map(x => a -> (MinDec, x)).toSeq
      case sources.LessThanOrEqual(a, v)    => lit(v).map(x => a -> (MinDec, x)).toSeq
      case sources.In(a, vs) =>
        val ls = vs.toSeq.map(lit)
        if (ls.nonEmpty && ls.forall(_.isDefined)) {
          val xs = ls.flatten
          Seq(a -> (xs.reduce(_ min _), xs.reduce(_ max _)))
        } else Seq.empty
      case sources.And(l, r) => one(l) ++ one(r)
      case _                 => Seq.empty
    }
    filters.flatMap(one).groupBy(_._1).map { case (c, bs) =>
      c -> bs.map(_._2).reduce[(java.math.BigDecimal, java.math.BigDecimal)] {
        case ((l1, h1), (l2, h2)) => (l1.max(l2), h1.min(h2))
      }
    }
  }

  /** Per-column string bounds as UTF-8 byte arrays in unsigned order
    * (None = unbounded on that side). `StringStartsWith` prunes too: the
    * prefix is the lower bound and the prefix with its last non-0xFF byte
    * incremented the upper. */
  private[graft] def stringBounds(filters: Seq[Filter])
      : Map[String, (Option[Array[Byte]], Option[Array[Byte]])] = {
    def utf8(v: Any): Option[Array[Byte]] = v match {
      case s: String => Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case _         => None
    }
    def inc(b: Array[Byte]): Option[Array[Byte]] = {
      var i = b.length - 1
      while (i >= 0 && b(i) == 0xFF.toByte) i -= 1
      if (i < 0) None
      else { val out = b.take(i + 1); out(i) = (out(i) + 1).toByte; Some(out) }
    }
    type B = (Option[Array[Byte]], Option[Array[Byte]])
    def one(f: Filter): Seq[(String, B)] = f match {
      case sources.EqualTo(a, v) => utf8(v).map(x => a -> (Some(x): Option[Array[Byte]], Some(x): Option[Array[Byte]])).toSeq
      case sources.GreaterThan(a, v)        => utf8(v).map(x => a -> (Some(x): Option[Array[Byte]], None: Option[Array[Byte]])).toSeq
      case sources.GreaterThanOrEqual(a, v) => utf8(v).map(x => a -> (Some(x): Option[Array[Byte]], None: Option[Array[Byte]])).toSeq
      case sources.LessThan(a, v)           => utf8(v).map(x => a -> (None: Option[Array[Byte]], Some(x): Option[Array[Byte]])).toSeq
      case sources.LessThanOrEqual(a, v)    => utf8(v).map(x => a -> (None: Option[Array[Byte]], Some(x): Option[Array[Byte]])).toSeq
      case sources.StringStartsWith(a, v) =>
        utf8(v).map(p => a -> (Some(p): Option[Array[Byte]], inc(p))).toSeq
      case sources.In(a, vs) =>
        val ls = vs.toSeq.map(utf8)
        if (ls.nonEmpty && ls.forall(_.isDefined)) {
          val xs = ls.flatten
          val lo = xs.reduce((x, y) => if (java.util.Arrays.compareUnsigned(x, y) <= 0) x else y)
          val hi = xs.reduce((x, y) => if (java.util.Arrays.compareUnsigned(x, y) >= 0) x else y)
          Seq(a -> (Some(lo): Option[Array[Byte]], Some(hi): Option[Array[Byte]]))
        } else Seq.empty
      case sources.And(l, r) => one(l) ++ one(r)
      case _                 => Seq.empty
    }
    def tighterLo(a: Option[Array[Byte]], b: Option[Array[Byte]]): Option[Array[Byte]] =
      (a, b) match {
        case (Some(x), Some(y)) => Some(if (java.util.Arrays.compareUnsigned(x, y) >= 0) x else y)
        case (x, y)             => x.orElse(y)
      }
    def tighterHi(a: Option[Array[Byte]], b: Option[Array[Byte]]): Option[Array[Byte]] =
      (a, b) match {
        case (Some(x), Some(y)) => Some(if (java.util.Arrays.compareUnsigned(x, y) <= 0) x else y)
        case (x, y)             => x.orElse(y)
      }
    filters.flatMap(one).groupBy(_._1).map { case (c, bs) =>
      c -> bs.map(_._2).reduce[B] { case ((l1, h1), (l2, h2)) =>
        (tighterLo(l1, l2), tighterHi(h1, h2))
      }
    }
  }

  /** Z-ORDER file skipping: files clustered under a composite
    * `z(c1,c2[,c3])` spec record ZKEY ranges; a filter conjunction
    * bounding the inner columns becomes a 16-bit box, decomposed into
    * zkey intervals ([[graft.functions.ZOrder.zRangesForBoxN]] — a
    * SUPERSET cover, so skipping stays conservative), and a file is read
    * unless its range misses EVERY interval. An unbounded dimension
    * defaults to the full 16-bit domain, so partial predicates still
    * prune; predicate ranges are clamped to the domain the write side
    * enforced, so an impossible box skips every z-covered file outright.
    * Stats-less files are never skipped. */
  private def zOrderPrune(path: String, version: Long,
                          bounds: Map[String, (Long, Long)],
                          files: Seq[String]): Seq[String] = {
    val statsCols = CommitLog.fileStatsColumns(path, Some(version))
    val zSpecs = statsCols.values.toSet
      .filter(s => CommitLog.zSpecColumns(s).nonEmpty)
    if (zSpecs.isEmpty) return files
    val physBounds = bounds.map { case (n, b) =>
      CommitLog.physicalFor(path, n, Some(version)).toLowerCase -> b
    }
    val ranges = CommitLog.fileStats(path, Some(version))
    zSpecs.foldLeft(files) { (fs, spec) =>
      val cols = CommitLog.zSpecColumns(spec).get
      val dims = cols.map(p => physBounds.get(p.toLowerCase).map {
        case (lo, hi) => (math.max(lo, 0L), math.min(hi, 65535L))
      })
      if (dims.forall(_.isEmpty)) fs // no dimension constrained
      else {
        val box = dims.map(_.getOrElse((0L, 65535L)))
        def covered(f: String): Boolean =
          statsCols.get(f).contains(spec) && ranges.contains(f)
        if (box.exists { case (lo, hi) => lo > hi }) fs.filterNot(covered)
        else {
          val ivs = graft.functions.ZOrder.zRangesForBoxN(box)
          fs.filter { f =>
            !covered(f) || {
              val (flo, fhi) = ranges(f)
              ivs.exists { case (ilo, ihi) => ihi >= flo && ilo <= fhi }
            }
          }
        }
      }
    }
  }

  /** The zone-pruned, filtered, column-pruned snapshot as a Catalyst
    * DataFrame — the Scala-API twin of the native scan (same
    * [[prunedFileNames]] decision, same residual filters), kept as the
    * programmatic pruned-read surface and the probe the tl9 gate and
    * specs REQUIRE file counts from. */
  private[graft] def narrowedRead(spark: SparkSession, path: String, version: Long,
                                  mergeSchema: Boolean, required: StructType,
                                  filters: Seq[Filter]): DataFrame = {
    val all = CommitLog.snapshotFiles(path, Some(version))
    val fs = prunedFileNames(path, version, filters)
    val base =
      if (fs.isEmpty)
        // every file skipped: serve the snapshot's schema with zero rows
        // (limit 0 folds to an empty relation — no scan is planned)
        CommitLog.read(spark, path, Some(version), mergeSchema).limit(0)
      else if (fs.size < all.size)
        CommitLog.readFiles(spark, path, fs, mergeSchema, Some(version))
      else CommitLog.read(spark, path, Some(version), mergeSchema)
    val filtered = filters.flatMap(translate).foldLeft(base)((df, c) => df.filter(c))
    filtered.select(required.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
  }

  /** Conservative per-column [lo, hi] bounds implied by the pushed-filter
    * conjunction, from integral literals only — the shape the zone-map
    * vocabulary records. Any filter shape not understood contributes
    * nothing, so unknown predicates can only cause reads, never skips.
    * Strict comparisons keep the closed bound (`>` x prunes as `>=` x):
    * marginally weaker pruning, no ±1 overflow edge. An impossible
    * conjunction (lo > hi) is legitimate — no file range overlaps it. */
  private[graft] def integralBounds(filters: Seq[Filter]): Map[String, (Long, Long)] = {
    def lit(v: Any): Option[Long] = v match {
      case l: java.lang.Long    => Some(l)
      case i: java.lang.Integer => Some(i.toLong)
      case s: java.lang.Short   => Some(s.toLong)
      case b: java.lang.Byte    => Some(b.toLong)
      case _                    => None
    }
    def one(f: Filter): Seq[(String, (Long, Long))] = f match {
      case sources.EqualTo(a, v)            => lit(v).map(x => a -> (x, x)).toSeq
      case sources.GreaterThan(a, v)        => lit(v).map(x => a -> (x, Long.MaxValue)).toSeq
      case sources.GreaterThanOrEqual(a, v) => lit(v).map(x => a -> (x, Long.MaxValue)).toSeq
      case sources.LessThan(a, v)           => lit(v).map(x => a -> (Long.MinValue, x)).toSeq
      case sources.LessThanOrEqual(a, v)    => lit(v).map(x => a -> (Long.MinValue, x)).toSeq
      case sources.In(a, vs) =>
        val ls = vs.toSeq.map(lit)
        if (ls.nonEmpty && ls.forall(_.isDefined)) {
          val xs = ls.flatten
          Seq(a -> (xs.min, xs.max))
        } else Seq.empty
      case sources.And(l, r) => one(l) ++ one(r)
      case _                 => Seq.empty
    }
    // the top-level filter array is a conjunction: intersect per column
    filters.flatMap(one).groupBy(_._1).map { case (c, bs) =>
      c -> bs.map(_._2).reduce((x, y) => (math.max(x._1, y._1), math.min(x._2, y._2)))
    }
  }

  /** Best-effort source-filter → Column translation for parquet pushdown.
    * Unsupported shapes return None and simply aren't pushed (Spark
    * evaluates every filter above the scan regardless). */
  private[graft] def translate(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v)            => Some(col(s"`$a`") === v)
    case sources.EqualNullSafe(a, v)      => Some(col(s"`$a`") <=> v)
    case sources.GreaterThan(a, v)        => Some(col(s"`$a`") > v)
    case sources.GreaterThanOrEqual(a, v) => Some(col(s"`$a`") >= v)
    case sources.LessThan(a, v)           => Some(col(s"`$a`") < v)
    case sources.LessThanOrEqual(a, v)    => Some(col(s"`$a`") <= v)
    case sources.In(a, vs)                => Some(col(s"`$a`").isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a)                => Some(col(s"`$a`").isNull)
    case sources.IsNotNull(a)             => Some(col(s"`$a`").isNotNull)
    case sources.StringStartsWith(a, v)   => Some(col(s"`$a`").startsWith(v))
    case sources.StringEndsWith(a, v)     => Some(col(s"`$a`").endsWith(v))
    case sources.StringContains(a, v)     => Some(col(s"`$a`").contains(v))
    case sources.And(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc || rc
    case sources.Not(c) => translate(c).map(!_)
    case _ => None
  }

  /** Resolve `path` + time-travel options to a pinned snapshot version.
    * `versionAsOf` and `timestampAsOf` are mutually exclusive, exactly as
    * in Delta; a missing/empty table resolves to the write-only "new
    * table" sentinel (reads of it fail at analysis, the first write
    * creates it). */
  def resolve(opts: Map[String, String]): GraftLogTable = {
    val path = opts.getOrElse("path",
      throw new IllegalArgumentException(
        "graftlog requires a path: spark.read.format(\"graftlog\").load(\"/table/dir\")"))
    val versionAsOf = opts.get("versionasof").map { v =>
      try v.trim.toLong
      catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"graftlog: versionAsOf must be a version number, got '$v'", e)
      }
    }
    val tsAsOf = opts.get("timestampasof").map(parseTs)
    require(versionAsOf.isEmpty || tsAsOf.isEmpty,
      "graftlog: versionAsOf and timestampAsOf are mutually exclusive")
    val timeTravel = versionAsOf.nonEmpty || tsAsOf.nonEmpty
    val mergeSchema = opts.get("mergeschema").exists(_.toBoolean)
    val head = CommitLog.currentVersion(path)
    if (head < 0) {
      require(!timeTravel,
        s"commit-log table $path has no commits — nothing to time-travel to")
      require(!opts.get("readchangefeed").exists(_.toBoolean),
        s"commit-log table $path has no commits — no changes to read")
      return GraftLogTable(path, -1L, mergeSchema, timeTravel = false, new StructType())
    }
    // readChangeFeed: the relation serves row-level changes over an
    // INCLUSIVE [startingVersion, endingVersion] window (Delta's CDF
    // option shape) instead of a snapshot — read-only, derived
    if (opts.get("readchangefeed").exists(_.toBoolean)) {
      require(!timeTravel,
        "graftlog: readChangeFeed and versionAsOf/timestampAsOf are mutually exclusive")
      def longOpt(key: String, name: String): Option[Long] = opts.get(key).map { v =>
        try v.trim.toLong
        catch {
          case e: NumberFormatException => throw new IllegalArgumentException(
            s"graftlog: $name must be a version number, got '$v'", e)
        }
      }
      val startV = longOpt("startingversion", "startingVersion").getOrElse(0L)
      val endV = longOpt("endingversion", "endingVersion").getOrElse(head)
      require(startV >= 0 && startV <= endV && endV <= head,
        s"graftlog: change-feed window [$startV, $endV] must lie within [0, $head]")
      val dataSchema = CommitLog.read(SparkSession.active, path, Some(endV), mergeSchema).schema
      val cdfSchema = dataSchema
        .add("_change_type", org.apache.spark.sql.types.StringType, nullable = false)
        .add("_commit_version", LongType, nullable = false)
        .add("_commit_timestamp", org.apache.spark.sql.types.TimestampType)
      return GraftLogTable(path, endV, mergeSchema, timeTravel = false,
        cdfSchema, changeFeed = Some((startV - 1, endV)))
    }
    val version = versionAsOf
      .orElse(tsAsOf.map(ts => CommitLog.versionAt(path, ts)))
      .getOrElse(head)
    require(version >= 0,
      s"commit-log table $path: versionAsOf must be >= 0, got $version")
    // a version past the log head would otherwise silently replay to the
    // current snapshot — refuse it here, at analysis time
    require(version <= head,
      s"commit-log table $path is at version $head; versionAsOf $version does not exist")
    // pin the schema at resolution so planning and execution agree even if
    // the log advances between them (one driver-side read, reused by both
    // inferSchema and getTable via the pending cache)
    val schema = CommitLog.read(SparkSession.active, path, Some(version), mergeSchema).schema
    GraftLogTable(path, version, mergeSchema, timeTravel, schema)
  }

  def resolve(properties: util.Map[String, String]): GraftLogTable =
    resolve(optKey(properties))

  /** The `.changes` METADATA TABLE (Iceberg-style `ns.t.changes`
    * identifier): the table's change data feed as a read-only relation —
    * batch (window re-pinned from `startingVersion`/`endingVersion`
    * reader options; default the full history) AND streaming
    * (`spark.readStream.table("cat.ns.t.changes")`). The schema is the
    * head snapshot's plus `_change_type`/`_commit_version`. This is the
    * identifier-surface twin of the path form's `readChangeFeed` option —
    * an OPTION cannot add columns to a catalog table's analysis-time
    * schema, a metadata IDENTIFIER can.
    *
    * The relation withholds MICRO_BATCH_READ and carries a V1 fallback
    * table naming the path form with `readChangeFeed`, so its stream is
    * the same [[GraftLogStreamSource]] the path form plans (and
    * `resolveForStream` refuses the same options on both). Only this
    * relation carries the fallback: Spark builds the V1 streaming relation
    * eagerly for every table that has one. The fallback's identifier
    * carries a database and its location stays unset — a location would
    * reach `createSource` as a `file:` URI instead of the table path. */
  def resolveChanges(path: String): GraftLogTable = {
    val head = CommitLog.currentVersion(path)
    require(head >= 0,
      s"graftlog: cannot read changes of $path — the table has no commits yet")
    val dataSchema = CommitLog.read(SparkSession.active, path, Some(head),
      mergeSchema = false).schema
    val cdfSchema = dataSchema
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_version", LongType)
      .add("_commit_timestamp", org.apache.spark.sql.types.TimestampType)
    new GraftLogTable(path, head, mergeSchema = false, timeTravel = false,
        cdfSchema, changeFeed = Some((-1L, head)))
        with org.apache.spark.sql.GraftV1FallbackTable {
      override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
        import org.apache.spark.sql.catalyst.catalog._
        CatalogTable(
          identifier = org.apache.spark.sql.catalyst.TableIdentifier("changes", Some(this.path)),
          tableType = CatalogTableType.EXTERNAL,
          storage = CatalogStorageFormat.empty.copy(
            properties = Map("path" -> this.path, "readChangeFeed" -> "true")),
          schema = schema0,
          provider = Some("graftlog"))
      }
    }
  }

  /** Resolution for the STREAMING read path: the table must exist (a
    * stream needs a schema before any data arrives — create the table
    * with one batch write first, as with Delta), and time travel is a
    * batch-only concept (`startingVersion` is the streaming analogue).
    *
    * `readChangeFeed=true` switches the stream to CHANGE rows: each
    * micro-batch emits [[graft.io.CommitLog.changes]] over exactly the
    * commit window its offsets span (`_change_type`/`_commit_version`
    * columns appended) — the standard incremental-downstream pattern
    * (stream the CDF into a derived table). Rewrite commits are then
    * EXPRESSIBLE (delete+insert), so `ignoreChanges` is refused rather
    * than silently ignored; `endingVersion` is batch-only (a stream
    * follows the live log). */
  private[sources] def resolveForStream(parameters: Map[String, String]): GraftLogTable = {
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    require(!opts.contains("versionasof") && !opts.contains("timestampasof"),
      "graftlog: versionAsOf/timestampAsOf are batch read options; for a " +
        "stream use startingVersion to choose where to begin")
    val cdf = opts.get("readchangefeed").exists(_.toBoolean)
    if (cdf) {
      require(!opts.contains("endingversion") && !opts.contains("endingtimestamp"),
        "graftlog: endingVersion/endingTimestamp are batch CDF options — a " +
          "change-feed stream follows the live log (stop the query to bound it)")
      require(!opts.get("ignorechanges").exists(_.toBoolean),
        "graftlog: ignoreChanges does not apply to a change-feed stream — " +
          "rewrite commits are delivered exactly, as delete+insert rows")
    }
    // resolve the LIVE snapshot (strip the CDF flag: resolve()'s batch CDF
    // branch pins an [start, end] window, but a stream follows the head);
    // the change columns ride on top of the pinned data schema
    val t0 = resolve(opts - "readchangefeed")
    val t =
      if (cdf) t0.copy(schema0 = t0.schema0
        .add("_change_type", org.apache.spark.sql.types.StringType, nullable = false)
        .add("_commit_version", LongType, nullable = false)
        .add("_commit_timestamp", org.apache.spark.sql.types.TimestampType))
      else t0
    require(t.snapshotVersion >= 0,
      s"graftlog: cannot stream from ${t.path} — the table has no commits " +
        "yet (write one batch first so the stream has a schema)")
    t
  }

  /** Streaming start resolution, shared by both stream readers (the V1
    * change-feed source and the V2 snapshot micro-batch stream): an
    * explicit `startingVersion`, or `startingTimestamp` resolved to the
    * FIRST commit at or after that moment
    * ([[CommitLog.versionFrom]] — the Delta streaming contract); the two
    * are mutually exclusive. None when neither is given (caller defaults
    * to 0, the whole history). Keys arrive lowercased. */
  private[sources] def streamStartVersion(
      path: String, opts: Map[String, String]): Option[Long] = {
    require(!(opts.contains("startingversion") &&
        opts.contains("startingtimestamp")),
      "graftlog: startingVersion and startingTimestamp are mutually exclusive")
    opts.get("startingversion").map { v =>
      try v.trim.toLong
      catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"graftlog: startingVersion must be a version number, got '$v'", e)
      }
    }.orElse(opts.get("startingtimestamp").map(ts =>
      CommitLog.versionFrom(path, parseTs(ts))))
  }

  /** The `maxVersionsPerTrigger` reader option, shared by both stream
    * readers: at most this many commits per micro-batch (the stream's
    * [[VersionPacer]] refuses a count below 1). Keys arrive lowercased. */
  private[sources] def maxVersionsPerTrigger(opts: Map[String, String]): Option[Long] =
    opts.get("maxversionspertrigger").map { v =>
      try v.trim.toLong
      catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"graftlog: maxVersionsPerTrigger must be a positive count, got '$v'", e)
      }
    }

  /** The snapshot stream behind both native scans' `toMicroBatchStream`
    * (`spark.readStream.table(...)` and every other MICRO_BATCH_READ
    * route); reader options (`startingVersion`, `maxVersionsPerTrigger`,
    * `ignoreChanges`) arrive through the scan builder's option map. A
    * reader OPTION cannot add the CDF columns to a catalog table's
    * analysis-time schema, so `readChangeFeed` is refused here rather than
    * silently streaming snapshot rows to a caller who asked for changes. */
  private[sources] def snapshotStream(path: String, tableSchema: StructType,
                                      required: StructType, filters: Array[Filter],
                                      opts: Map[String, String]): GraftLogMicroBatchStream = {
    require(!opts.get("readchangefeed").exists(_.toBoolean),
      "graftlog: readChangeFeed does not apply to a snapshot-table stream " +
        "— stream changes via the `.changes` metadata table " +
        "(spark.readStream.table(\"<cat>.<ns>.<t>.changes\")) or the path " +
        "form (spark.readStream.format(\"graftlog\")" +
        ".option(\"readChangeFeed\", true).load(dir))")
    new GraftLogMicroBatchStream(path, tableSchema, required, filters,
      ignoreChanges = opts.get("ignorechanges").exists(_.toBoolean),
      startingVersion = streamStartVersion(path, opts).getOrElse(0L),
      maxVersionsPerTrigger = maxVersionsPerTrigger(opts))
  }

  /** Epoch millis, an ISO-8601 instant, or an ISO local date-time/date
    * (interpreted as UTC, the engine's session zone). */
  private def parseTs(s: String): Long =
    if (s.nonEmpty && s.forall(c => c.isDigit)) s.toLong
    else try java.time.Instant.parse(s).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        try java.time.LocalDateTime.parse(s)
          .atZone(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            try java.time.LocalDate.parse(s).atStartOfDay(java.time.ZoneOffset.UTC)
              .toInstant.toEpochMilli
            catch {
              case _: java.time.format.DateTimeParseException =>
                throw new IllegalArgumentException(
                  s"graftlog: timestampAsOf '$s' is not epoch millis, an " +
                    "ISO-8601 instant, or an ISO local date-time/date")
            }
        }
    }
}
