package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** Bridge into `private[sql]` plan constructors — the standard pattern for
  * libraries that add custom logical operators (a `Dataset` can only be
  * built from a `LogicalPlan` via package-private API). Kept to the single
  * call the engine needs.
  */
object GraftSqlShim {

  /** DataFrame from a custom LogicalPlan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Registers a session-scoped SQL TABLE-VALUED function: the builder
    * receives the call's argument expressions at analysis time and
    * returns the LogicalPlan the reference resolves to (the registry
    * Spark's own `range(...)` TVF lives in — `sessionState
    * .tableFunctionRegistry` is `private[sql]`, hence the shim). */
  def registerTableFunction(spark: SparkSession, name: String)
      (builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] => LogicalPlan)
      : Unit =
    spark.asInstanceOf[ClassicSparkSession].sessionState.tableFunctionRegistry
      .registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), builder, "scala_udf")

  /** A frame's analyzed plan — what a TVF builder returns so the call
    * site resolves to an already-analyzed subtree. */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Drains the SparkContext listener bus (`listenerBus` is
    * `private[spark]`) — deterministic listener-event delivery for
    * job-count assertions, instead of sleep-polling. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Relations cached in the session's `CacheManager` (its entry count
    * is `private[sql]`) — for asserting that an operator leaves no cache
    * behind. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[ClassicSparkSession].sharedState.cacheManager.numCachedEntries

  /** A registered catalog plugin by name (`catalogManager` is
    * `private[sql]`). */
  def catalogPlugin(spark: SparkSession,
                    name: String): org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.asInstanceOf[ClassicSparkSession].sessionState.catalogManager.catalog(name)

  /** Column from a custom Expression — the scalar sibling of [[ofRows]]
    * (needed when an expression carries non-Literal state, e.g. a
    * per-iteration centroid table, that no FunctionRegistry signature can
    * express). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The inverse of [[column]]: a Column's Catalyst expression (Spark 4's
    * Column is node-based and no longer exposes `.expr`) — for building a
    * custom Expression whose children come from `functions._`. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** DataFrame over an RDD of Catalyst rows whose fields follow `schema`
    * (`internalCreateDataFrame` is `private[sql]`) — how an operator that
    * runs its rounds as RDD jobs hands its result back to Spark SQL. */
  def internalFrame(spark: SparkSession,
                    rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[ClassicSparkSession].internalCreateDataFrame(rows, schema)

  /** A small frame's Catalyst rows, collected in one SQL execution: no
    * `Row` deserializer class is generated, and the tasks compile the
    * plan's classes under the session's class loader like any action's. */
  def collectInternal(df: DataFrame): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe)(
      qe.executedPlan.executeCollect())
  }

  /** Re-flag a batch DataFrame as a STREAMING one — what a V1
    * `Source.getBatch` must return (`MicroBatchExecution` asserts
    * `isStreaming`; Spark's own `FileStreamSource` builds its batches with
    * exactly this `internalCreateDataFrame(rdd, schema, isStreaming =
    * true)` call, which is `private[sql]` and hence lives in this shim). */
  def asStreamingBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** Spark's own V2 parquet scan over an explicit file list — the native
    * (columnar, whole-stage-codegen) batch read the graftlog DataSource
    * delegates to. The session's internal state (`sessionState`,
    * `InMemoryFileIndex`, `ParquetScan`) is `private[sql]`-adjacent, hence
    * this shim. `files` are absolute paths (the snapshot's live files,
    * already zone-pruned by the caller); `readSchema` is the pruned
    * projection; `filters` reach parquet row-group/page skipping (shapes
    * parquet cannot evaluate are simply not compiled — Spark re-applies
    * every filter above the scan regardless). */
  def parquetScan(spark: SparkSession, files: Seq[String],
                  dataSchema: org.apache.spark.sql.types.StructType,
                  readSchema: org.apache.spark.sql.types.StructType,
                  filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = {
    val cs = spark.asInstanceOf[ClassicSparkSession]
    val index = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      cs, files.map(f => new org.apache.hadoop.fs.Path(f)),
      Map.empty[String, String], Some(dataSchema))
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
      cs, cs.sessionState.newHadoopConf(), index,
      dataSchema, readSchema,
      new org.apache.spark.sql.types.StructType(), filters,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
  }

  /** The write-side sibling of [[parquetScan]]: Spark's own parquet
    * `OutputWriterFactory` (with the session's parquet write configuration
    * baked into a serializable Hadoop conf), packaged so a V2
    * `DataWriter[InternalRow]` on an EXECUTOR can open a writer for one
    * file. This is exactly the kit `FileFormatWriter` assembles internally
    * — `ParquetFileFormat.prepareWrite` mutates the job conf
    * (`ParquetWriteSupport` schema, compression, legacy-format flags) and
    * the per-task writer needs that conf back in a `TaskAttemptContext` —
    * all of it `private[sql]`-adjacent, hence the shim. */
  /** A serializable per-row CHECK evaluator: `exprSql` (LOGICAL column
    * names) resolved against `schema` and BOUND BY POSITION — so it
    * evaluates executor-side rows whose fields follow `schema`'s order
    * whatever physical names they are written under. NULL passes (SQL
    * CHECK semantics: the condition is wrapped in `coalesce(cond, true)`
    * before binding, so only a definite FALSE is a violation). Built on
    * the driver, shipped inside writer factories; the compiled predicate
    * materializes lazily per executor. */
  def rowCheck(spark: SparkSession,
               schema: org.apache.spark.sql.types.StructType,
               exprSql: String): GraftRowCheck = {
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, Coalesce, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val cs = spark.asInstanceOf[ClassicSparkSession]
    val parsed = cs.sessionState.sqlParser.parseExpression(exprSql)
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val analyzed = cs.sessionState.analyzer.execute(Filter(parsed, LocalRelation(attrs)))
    val cond = analyzed.collectFirst { case f: Filter => f.condition }
      .getOrElse(sys.error(s"cannot resolve CHECK expression against $schema: $exprSql"))
    new GraftRowCheck(BindReferences.bindReference(
      Coalesce(Seq(cond, Literal.TrueLiteral)),
      analyzed.collectFirst { case f: Filter => f.child.output }.get))
  }

  def parquetWriteKit(spark: SparkSession,
                      schema: org.apache.spark.sql.types.StructType): ParquetWriteKit = {
    val cs = spark.asInstanceOf[ClassicSparkSession]
    val job = org.apache.hadoop.mapreduce.Job.getInstance(cs.sessionState.newHadoopConf())
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(cs, job, Map.empty, schema)
    new ParquetWriteKit(factory,
      new org.apache.spark.util.SerializableConfiguration(job.getConfiguration), schema)
  }
}

/** A V2 table that streams through a V1 source: Spark plans the
  * `CatalogTable` it names when the table withholds MICRO_BATCH_READ
  * (`V2TableWithV1Fallback` is `private[sql]`). */
trait GraftV1FallbackTable extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback

/** Serializable row predicate built by [[GraftSqlShim.rowCheck]]; `ok`
  * is called per row on executors (codegen'd predicate, interpreted
  * fallback — Spark's own `Predicate.create`). */
final class GraftRowCheck(bound: org.apache.spark.sql.catalyst.expressions.Expression)
    extends Serializable {
  @transient private lazy val pred = {
    val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(bound)
    p.initialize(0)
    p
  }
  def ok(row: org.apache.spark.sql.catalyst.InternalRow): Boolean = pred.eval(row)
}

/** Serializable bundle of (parquet writer factory, prepared Hadoop conf,
  * row schema) built on the driver by [[GraftSqlShim.parquetWriteKit]] and
  * shipped to write tasks; [[open]] is called executor-side, once per
  * output file. */
final class ParquetWriteKit(
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.spark.util.SerializableConfiguration,
    schema: org.apache.spark.sql.types.StructType) extends Serializable {

  /** Width of the row schema the writers expect. */
  def schemaLength: Int = schema.length

  /** Opens Spark's parquet `OutputWriter` on `path` (absolute file path on
    * the table's filesystem). The task-attempt identity only names the
    * Hadoop context — file uniqueness is the caller's job (unique file
    * names per attempt), matching the commit-log model where a file is
    * invisible until a log commit references it. */
  def open(path: String, partitionId: Int, attemptNumber: Int)
      : org.apache.spark.sql.execution.datasources.OutputWriter = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    val attemptId = new TaskAttemptID(
      new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId), attemptNumber)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      new org.apache.hadoop.conf.Configuration(conf.value), attemptId)
    factory.newInstance(path, schema, ctx)
  }
}
