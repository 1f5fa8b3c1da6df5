package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{CommitLog, Sinks}

/** A Spark `TableCatalog` over a warehouse directory of commit-log
  * tables, completing the SQL surface the path-based `USING graftlog`
  * views can't reach:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  *
  *   CREATE NAMESPACE graft.curation
  *   CREATE TABLE graft.curation.docs AS SELECT ...        -- CTAS
  *   INSERT INTO graft.curation.docs SELECT ...            -- txn append
  *   INSERT OVERWRITE graft.curation.docs SELECT ...       -- atomic replace
  *   SELECT * FROM graft.curation.docs VERSION AS OF 3     -- time travel
  *   SELECT * FROM graft.curation.docs TIMESTAMP AS OF '...'
  *   SHOW TABLES IN graft.curation; DROP TABLE graft.curation.docs
  * }}}
  *
  * Identifiers map to directories (`warehouse/ns/.../name`); a table IS
  * its commit log, so every catalog operation is the corresponding log
  * operation and all ACID/time-travel semantics come from
  * [[graft.io.CommitLog]] unchanged. `loadTable` resolves through
  * [[GraftLogDataSource.resolve]], returning the same
  * [[GraftLogDataSource.GraftLogTable]] the path surface serves —
  * reads get the native columnar scan, reported statistics, zone-map
  * skipping and metadata-answered aggregates; writes get transactional
  * append/overwrite. The `VERSION AS OF` / `TIMESTAMP AS OF` overloads
  * pin a snapshot exactly as the reader options do (timestamps arrive in
  * MICROseconds per the connector contract).
  *
  * `CREATE TABLE` (no data) lands the declared schema as commit v0 with
  * one empty data file — the table is immediately readable as empty, and
  * the schema rides the log like any other commit (no side-channel
  * metastore state). CTAS is the same create followed by the query's
  * write, so a failed CTAS leaves an empty table, never a torn one.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: java.nio.file.Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"graft catalog '$name' needs a warehouse dir: set spark.sql.catalog.$name.warehouse")
    warehouse = Paths.get(w)
    Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): java.nio.file.Path =
    ident.namespace().foldLeft(warehouse)(_.resolve(_)).resolve(ident.name())

  private def dirOf(namespace: Array[String]): java.nio.file.Path =
    namespace.foldLeft(warehouse)(_.resolve(_))

  private def isTableDir(p: java.nio.file.Path): Boolean =
    Files.isDirectory(p.resolve("_log"))

  // ------------------------------------------------------------------ tables
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    Sinks.listDir(dir)
      .filter(isTableDir)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = isTableDir(dirOf(ident))

  override def loadTable(ident: Identifier): Table = load(ident, Map.empty)

  /** `VERSION AS OF <v>` — the connector passes the version verbatim. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Map("versionasof" -> version))

  /** `TIMESTAMP AS OF <t>` — the connector passes MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident, Map("timestampasof" -> (timestamp / 1000L).toString))

  private def load(ident: Identifier, extra: Map[String, String]): Table = {
    val dir = dirOf(ident)
    if (isTableDir(dir))
      return GraftLogDataSource.resolve(Map("path" -> dir.toString) ++ extra)
    // Iceberg-style metadata tables: `ns.t.changes` (the change data
    // feed — batch + micro-batch streaming), `ns.t.history` (the retained
    // commit log), `ns.t.files` (the live snapshot's file vocabulary),
    // `ns.t.detail` (the one-row DESCRIBE DETAIL summary).
    // All read-only; a REAL table directory with the name wins (above).
    val metaName = ident.name.toLowerCase
    if (Seq("changes", "history", "files", "detail").contains(metaName) &&
        ident.namespace().nonEmpty) {
      val base = Identifier.of(ident.namespace().init, ident.namespace().last)
      val baseDir = dirOf(base)
      if (isTableDir(baseDir)) {
        require(extra.isEmpty,
          s"graft catalog: VERSION/TIMESTAMP AS OF does not apply to the " +
            s".$metaName metadata table" + (if (metaName == "changes")
              " — window the feed with the startingVersion/endingVersion " +
                "reader options instead" else ""))
        return metaName match {
          case "changes" => GraftLogDataSource.resolveChanges(baseDir.toString)
          case "history" => GraftLocalTable(s"$ident",
            GraftMetaTables.historySchema,
            s => GraftMetaTables.history(s, baseDir.toString))
          case "detail" => GraftLocalTable(s"$ident",
            GraftMetaTables.detailSchema,
            s => GraftMetaTables.detail(s, baseDir.toString))
          case _ => GraftLocalTable(s"$ident",
            GraftMetaTables.filesSchema,
            s => GraftMetaTables.files(s, baseDir.toString))
        }
      }
    }
    throw new NoSuchTableException(ident)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    // `PARTITIONED BY (bucket(n, col))` declares the table's clustering:
    // the spec rides the log and every subsequent write range-clusters on
    // the column with zone ranges recorded — declarative data skipping.
    // Identity/other transforms are refused: directory-style partitioning
    // is a layout this format expresses through clustering instead.
    val clustering: Option[(String, Int)] = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "bucket" =>
        import org.apache.spark.sql.connector.expressions.{Literal => CLit, NamedReference}
        val lits = t.arguments.collect { case l: CLit[_] => l.value }
        val refs = t.arguments.collect { case r: NamedReference => r }
        require(lits.length == 1 && refs.length == 1 && refs.head.fieldNames().length == 1,
          s"graft catalog: clustering must be bucket(n, col) on ONE top-level " +
            s"column, got ${t.describe}")
        val n = lits.head match {
          case i: java.lang.Integer => i.toInt
          case l: java.lang.Long    => l.toInt
          case other => throw new IllegalArgumentException(
            s"graft catalog: bucket count must be an integer literal, got $other")
        }
        val field = schema.find(_.name.equalsIgnoreCase(refs.head.fieldNames()(0)))
          .getOrElse(throw new IllegalArgumentException(
            s"graft catalog: bucket column ${refs.head.describe} is not in the schema"))
        require(field.dataType == org.apache.spark.sql.types.LongType ||
            field.dataType == org.apache.spark.sql.types.IntegerType,
          s"graft catalog: clustering column ${field.name} must be integral " +
            s"(the zone-map vocabulary), got ${field.dataType.simpleString}")
        Some((field.name, n))
      case other => throw new UnsupportedOperationException(
        "graft catalog: the only supported partition transform is ONE " +
          s"bucket(n, col) clustering spec, got ${other.map(_.describe).mkString(", ")}")
    }
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // TBLPROPERTIES opt-ins ride CREATE (the Delta table-property shape):
    //   'graft.dv.enabled' = 'true'   -> merge-on-read deletes from birth
    //   'graft.bloom.column' = '<col>' -> per-file key blooms on every add
    // Unknown graft.* properties refuse loudly (a typo would otherwise
    // silently drop the requested behavior); Spark's own bookkeeping
    // properties (provider, owner, ...) pass through untouched. Every
    // property is validated BEFORE the table directory exists — a
    // refused CREATE must leave nothing behind (a ghost table would make
    // the retry fail with TableAlreadyExists).
    properties.asScala.keys.filter(_.startsWith("graft."))
      .find(k => k != "graft.dv.enabled" && k != "graft.bloom.column" &&
        !k.equalsIgnoreCase("graft.dv.maxratio"))
      .foreach(k => throw new IllegalArgumentException(
        s"graft catalog: unknown table property '$k' — supported: " +
          "graft.dv.enabled, graft.bloom.column, graft.dv.maxRatio"))
    val bloomCol = Option(properties.get("graft.bloom.column"))
    bloomCol.foreach { c =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"graft catalog: graft.bloom.column '$c' is not in the schema")
    }
    // automatic dv-materialization threshold: validated here, BEFORE the
    // table directory exists (a refused CREATE leaves nothing behind)
    val dvMaxRatio = properties.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase("graft.dv.maxratio") => v
    }.map { v =>
      val r = v.toDoubleOption.getOrElse(throw new IllegalArgumentException(
        s"graft catalog: graft.dv.maxRatio must be a number in (0, 1], got '$v'"))
      require(r > 0.0 && r <= 1.0,
        s"graft catalog: graft.dv.maxRatio must be in (0, 1], got $v")
      r
    }
    val dir = dirOf(ident)
    Files.createDirectories(dir)
    // the declared schema becomes commit v0 (one empty data file): the
    // table is immediately readable as empty and the schema needs no
    // side-channel state — it (and the clustering spec) ride the log
    CommitLog.createEmpty(SparkSession.active, schema, dir.toString, clustering)
    if (Option(properties.get("graft.dv.enabled")).exists(_.equalsIgnoreCase("true")))
      CommitLog.enableDv(dir.toString)
    dvMaxRatio.foreach(r => CommitLog.setDvMaxRatio(dir.toString, r))
    bloomCol.foreach(c => CommitLog.declareBloom(SparkSession.active, dir.toString, c))
    loadTable(ident)
  }

  /** Type promotions the parquet reader can serve over OLD files without
    * rewriting them (widening reads narrow pages up; spec-verified against
    * Spark's vectorized reader). Everything else — narrowing, string↔
    * numeric, nested — is refused loudly: it would reinterpret committed
    * bytes. */
  private val widenOk: Set[(org.apache.spark.sql.types.DataType,
                            org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Set(
      (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
      (ShortType, IntegerType), (ShortType, LongType),
      (IntegerType, LongType),
      (FloatType, DoubleType))
  }

  /** ALTER TABLE: ADD COLUMNS (nullable, top-level), RENAME COLUMN
    * (metadata-only — the physical parquet name is fixed at first write
    * and recorded in field metadata, Delta column-mapping style, so zero
    * data files move), ALTER COLUMN TYPE widening (int→long,
    * float→double, …: the declared type changes, old narrow pages read
    * through the parquet reader's widening promotion), and DROP COLUMN
    * (metadata-only: the declared schema omits the field, scans prune it
    * from every era's files, and the physical name is TOMBSTONED so no
    * later ADD/RENAME can resurrect the stale bytes). Narrowing and
    * cross-kind retypes are refused loudly — they would reinterpret
    * committed data files. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    changes.foreach {
      case c: TableChange.ColumnChange =>
        require(c.fieldNames().length == 1,
          "graft catalog: only top-level column evolution is supported, " +
            s"got ${c.fieldNames().mkString(".")}")
      case _ => ()
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident).toString
    // `ALTER TABLE ... SET TBLPROPERTIES`: the same graft.* opt-ins CREATE
    // accepts, declarable after the fact (each is one validated alter
    // commit). Every property is VALIDATED here but COMMITTED only after
    // the column evolution below succeeds — a failed or race-lost column
    // change must not leave half an ALTER durable. Unknown properties
    // (graft.* typos AND non-graft keys alike) refuse loudly: this log
    // has nowhere to persist arbitrary properties, and reporting success
    // while dropping 'comment'/'owner' would lie to the caller.
    val (propChanges, colChanges) = changes.partition(
      _.isInstanceOf[TableChange.SetProperty])
    val propApply: Seq[() => Unit] = propChanges.map { case p: TableChange.SetProperty =>
      p.property.toLowerCase match {
        case "graft.dv.maxratio" =>
          val r = p.value.toDoubleOption.getOrElse(
            throw new IllegalArgumentException(
              s"graft catalog: graft.dv.maxRatio must be a number in (0, 1], " +
                s"got '${p.value}'"))
          require(r > 0.0 && r <= 1.0,
            s"graft catalog: graft.dv.maxRatio must be in (0, 1], got '${p.value}'")
          () => { CommitLog.setDvMaxRatio(dir, r); () }
        case "graft.dv.enabled" =>
          require(p.value.equalsIgnoreCase("true"),
            "graft catalog: graft.dv.enabled cannot be revoked — committed " +
              "deletion vectors would resurface; CALL graft.system.compact " +
              "to materialize instead")
          () => { CommitLog.enableDv(dir); () }
        case "graft.bloom.column" =>
          // declareBloom re-validates column type against the POST-evolution
          // schema at apply time (a bloom on a column this same ALTER adds
          // works; on one it drops, refuses)
          () => { CommitLog.declareBloom(SparkSession.active, dir, p.value); () }
        case _ =>
          throw new IllegalArgumentException(
            s"graft catalog: unsupported table property '${p.property}' — " +
              "supported: graft.dv.enabled, graft.bloom.column, graft.dv.maxRatio")
      }
    }
    def applyProps(): Unit = propApply.foreach(_.apply())
    if (colChanges.isEmpty && propChanges.nonEmpty) {
      applyProps()
      return loadTable(ident)
    }
    // physical names freed by DROP COLUMN are reserved forever: old files
    // still carry those bytes, so reusing the name would resurrect stale
    // values instead of serving NULLs (Delta solves this with mapping ids;
    // this log solves it with tombstones)
    // re-resolved per retry attempt: a CONCURRENT drop must be visible to
    // a racing ADD/RENAME of the freed name, or the resurrection hazard
    // the tombstone exists for re-opens through the race
    var dropped: Set[String] = Set.empty
    def requireNotTombstoned(name: String, what: String): Unit =
      require(!dropped.exists(_.equalsIgnoreCase(name)),
        s"graft catalog: cannot $what '$name' in $ident — a DROPPED column's " +
          "data files still carry that physical name; pick another name")
    // tombstones this ALTER creates (DROP COLUMN cases append here)
    val newTombstones = scala.collection.mutable.ArrayBuffer.empty[String]

    def applyOne(s: StructType, change: TableChange): StructType = change match {
      case a: TableChange.AddColumn =>
        require(a.isNullable,
          s"graft catalog: added column ${a.fieldNames()(0)} must be nullable — " +
            "existing rows have no value for it")
        require(!s.fieldNames.exists(_.equalsIgnoreCase(a.fieldNames()(0))),
          s"graft catalog: column ${a.fieldNames()(0)} already exists in $ident")
        // the PHYSICAL names of renamed columns stay reserved too: adding
        // a logical column named like another column's physical name
        // would collide in every data file (duplicate parquet fields) or
        // bind old files' stale bytes to the new column — the same
        // resurrection hazard the rename guard below prevents
        require(!s.fields.exists(f =>
          CommitLog.physicalName(f).equalsIgnoreCase(a.fieldNames()(0)) &&
            !f.name.equalsIgnoreCase(a.fieldNames()(0))),
          s"graft catalog: cannot add ${a.fieldNames()(0)} — a committed data " +
            s"file already carries '${a.fieldNames()(0)}' as another column's " +
            "physical name")
        requireNotTombstoned(a.fieldNames()(0), "re-add dropped column")
        val field = StructField(a.fieldNames()(0), a.dataType, nullable = true)
        s.add(Option(a.comment).fold(field)(field.withComment))

      case d: TableChange.DeleteColumn =>
        val name = d.fieldNames()(0)
        val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        require(idx >= 0, s"graft catalog: no column $name in $ident")
        require(s.length > 1,
          s"graft catalog: cannot drop $name — it is $ident's only column")
        require(!CommitLog.declaredClustering(dir).exists(_._1.equalsIgnoreCase(name)),
          s"graft catalog: $name is $ident's declared clustering column — " +
            "re-cluster (CALL graft.system.cluster) before dropping it")
        newTombstones += CommitLog.physicalName(s.fields(idx))
        StructType(s.fields.patch(idx, Nil, 1))

      case r: TableChange.RenameColumn =>
        val from = r.fieldNames()(0)
        val to = r.newName()
        val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(from))
        require(idx >= 0, s"graft catalog: no column $from in $ident")
        require(!s.fieldNames.zipWithIndex.exists { case (n, i) =>
          i != idx && n.equalsIgnoreCase(to) },
          s"graft catalog: cannot rename $from to $to — the name is taken in $ident")
        // the freed PHYSICAL names stay reserved: a logical name matching
        // another column's physical name would make parquet reads ambiguous
        require(!s.fields.zipWithIndex.exists { case (f, i) =>
          i != idx && CommitLog.physicalName(f).equalsIgnoreCase(to) },
          s"graft catalog: cannot rename $from to $to — a committed data " +
            s"file already carries '$to' as another column's physical name")
        requireNotTombstoned(to, "rename to dropped name")
        require(!CommitLog.declaredClustering(dir).exists(_._1.equalsIgnoreCase(from)),
          s"graft catalog: $from is $ident's declared clustering column — " +
            "re-cluster (CALL graft.system.cluster) before renaming it")
        val f = s.fields(idx)
        val phys = CommitLog.physicalName(f)
        // renaming BACK to the physical name drops the mapping entirely
        val meta =
          if (to == phys) {
            val b = new MetadataBuilder().withMetadata(f.metadata)
            b.remove(CommitLog.PhysicalNameKey); b.build()
          } else new MetadataBuilder().withMetadata(f.metadata)
            .putString(CommitLog.PhysicalNameKey, phys).build()
        StructType(s.fields.updated(idx, f.copy(name = to, metadata = meta)))

      case u: TableChange.UpdateColumnType =>
        val name = u.fieldNames()(0)
        val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        require(idx >= 0, s"graft catalog: no column $name in $ident")
        val f = s.fields(idx)
        require(widenOk.contains((f.dataType, u.newDataType())),
          s"graft catalog: cannot change $name from ${f.dataType.simpleString} " +
            s"to ${u.newDataType().simpleString} — only widening promotions " +
            "(tinyint→smallint→int→bigint, float→double) read committed " +
            "files without reinterpreting them; narrowing or cross-kind " +
            "retypes need an explicit rewrite")
        StructType(s.fields.updated(idx, f.copy(dataType = u.newDataType())))

      case n: TableChange.UpdateColumnNullability =>
        val name = n.fieldNames()(0)
        val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        require(idx >= 0, s"graft catalog: no column $name in $ident")
        val f = s.fields(idx)
        if (!n.nullable && f.nullable &&
            CommitLog.snapshotFiles(dir).nonEmpty) {
          // SET NOT NULL: the current snapshot must already satisfy it
          // (the Delta behavior — a constraint existing data violates is
          // refused at the alter, not discovered at the next write)
          val nulls = CommitLog.read(SparkSession.active, dir)
            .filter(org.apache.spark.sql.functions.col(s"`${f.name}`").isNull)
            .take(1)
          require(nulls.isEmpty,
            s"graft catalog: cannot SET NOT NULL on $name — $ident already " +
              "holds NULL values in that column")
        }
        StructType(s.fields.updated(idx, f.copy(nullable = n.nullable)))

      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other — supported " +
          "evolutions: ADD COLUMNS (nullable, top-level), RENAME COLUMN " +
          "(metadata-only), ALTER COLUMN TYPE widening, ALTER COLUMN " +
          "SET/DROP NOT NULL, DROP COLUMN (metadata-only, physical name " +
          "tombstoned)")
    }

    CommitLog.serializably(dir) { tip =>
      dropped = CommitLog.droppedPhysicalNames(dir, Some(tip))
      // evolve the DECLARED schema when one exists (it carries the
      // physical-name metadata); fall back to the file-derived one
      val cur = CommitLog.declaredSchema(dir, Some(tip)).getOrElse(
        CommitLog.read(SparkSession.active, dir, Some(tip)).schema)
      newTombstones.clear() // re-derived per race attempt
      val evolved = colChanges.foldLeft(cur)(applyOne)
      CommitLog.evolveSchema(dir, evolved, tip, newTombstones.toSeq)
    }
    // property commits land only once the schema evolution is durable
    // (each is itself one atomic alter commit; pre-validated above)
    applyProps()
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isTableDir(dir)) false
    else {
      Sinks.deleteTree(dir)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(dirOf(newIdent).getParent)
    Files.move(dirOf(oldIdent), dirOf(newIdent))
  }

  // ------------------------------------------------------------------ procedures
  /** `CALL <catalog>.system.<proc>(...)` — table maintenance from SQL
    * ([[GraftProcedures]]: compact, vacuum, checkpoint, history). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val known = ident.namespace().sameElements(GraftProcedures.Namespace)
    (if (known) GraftProcedures.load(this, ident.name()) else None).getOrElse {
      throw new RuntimeException(
        s"graft catalog: no procedure $ident — the system namespace offers " +
          GraftProcedures.names.mkString("system.", ", system.", ""))
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.names.map(Identifier.of(GraftProcedures.Namespace, _)).toArray
    else Array.empty

  /** Resolves a procedure's catalog-relative `'ns.t'` table argument to
    * the table's directory (the procedures' path into [[CommitLog]]). */
  private[sources] def resolveTableDir(name: String): String = {
    val parts = name.split('.')
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"graft catalog: '$name' is not a table identifier (expected 'ns.table')")
    val ident = Identifier.of(parts.init, parts.last)
    require(tableExists(ident),
      s"graft catalog: table $name does not exist under $warehouse")
    dirOf(ident).toString
  }

  // ------------------------------------------------------------------ namespaces
  override def listNamespaces(): Array[Array[String]] =
    Sinks.listDir(warehouse)
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => Array(p.getFileName.toString))
      .toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = dirOf(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    Sinks.listDir(dir)
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => namespace :+ p.getFileName.toString)
      .toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = dirOf(namespace)
    namespace.isEmpty || (Files.isDirectory(dir) && !isTableDir(dir))
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(dirOf(namespace))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = dirOf(namespace)
    if (!namespaceExists(namespace) || namespace.isEmpty) false
    else {
      val hasChildren = Sinks.listDir(dir).nonEmpty
      if (hasChildren && !cascade)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      Sinks.deleteTree(dir)
      true
    }
  }
}
