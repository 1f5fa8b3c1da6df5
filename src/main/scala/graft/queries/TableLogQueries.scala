package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{CommitLog, Footers, Sinks, Tables}

/** The tracker lifecycle on the transactional commit-log table format
  * ([[graft.io.CommitLog]]): append a batch, upsert a correction batch,
  * read the snapshot — and time-travel back to the pre-upsert version.
  * This is the durable form of the `j_upsert`/`tracker_build` full-outer
  * merge (the reference's verified-annotations tracker,
  * `src/az_proc.py:611-647`): same merge semantics, but committed
  * atomically so readers never see a half-applied correction, and old
  * versions stay addressable until vacuum. */
object TableLogQueries {

  type Q = (SparkSession, String) => DataFrame

  /** One-action multiset equality for in-gate audits: tag each side ±1,
    * group by every column, and any non-zero net count is a difference.
    * Same property the two-direction `exceptAll` pair proved, at ONE job
    * evaluating each feed once — the exceptAll form ran two actions and
    * evaluated both feeds twice (4 feed computations per audit, and these
    * feeds are full CDF window walks). */
  private def multisetEqual(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    a.select(cols.map(col): _*).withColumn("_s", lit(1))
      .unionByName(b.select(cols.map(col): _*).withColumn("_s", lit(-1)))
      .groupBy(cols.map(col): _*).agg(sum(col("_s")).as("_d"))
      .filter(col("_d") =!= 0)
      .isEmpty
  }

  /** Batch 1: every third order enters the tracker as 'pending_review'. */
  private def batch1(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").cast("long").as("id"),
        lit("pending_review").as("status"),
        round(col("o_totalprice").cast("double"), 2).as("price"),
        lit(1).as("batch"))

  /** Batch 2: every sixth order comes back verified (same keys, new
    * status/batch) — the correction upsert. */
  private def batch2(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 6 === 0)
      .select(col("o_orderkey").cast("long").as("id"),
        lit("verified").as("status"),
        round(col("o_totalprice").cast("double"), 2).as("price"),
        lit(2).as("batch"))

  private val batchesSql =
    """b1 AS (
      |  SELECT o_orderkey AS id, 'pending_review' AS status,
      |    round(o_totalprice, 2) AS price, 1 AS batch
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |b2 AS (
      |  SELECT o_orderkey AS id, 'verified' AS status,
      |    round(o_totalprice, 2) AS price, 2 AS batch
      |  FROM orders WHERE o_orderkey % 6 = 0),
      |merged AS (
      |  SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM b2)
      |  UNION ALL SELECT * FROM b2)""".stripMargin

  /** Builds the two-commit table fresh and returns its path. */
  private def buildTable(spark: SparkSession, dir: String): String = {
    val root = Paths.get(Sinks.scratchDir("commitlog_tracker"))
    Sinks.deleteTree(root)
    val table = root.toString
    CommitLog.append(batch1(spark, dir), table)
    CommitLog.upsert(spark, batch2(spark, dir), table, Seq("id"))
    table
  }

  /** tl1: final snapshot after append + upsert — one commit-log read must
    * equal the declarative merge of both batches. Reads through the
    * `graftlog` DataSource (`spark.read.format`), so the gate proves the
    * SQL-facing surface serves the same bytes as the Scala API
    * ([[graft.sources.GraftLogDataSource]]; spec-pinned equal to
    * `CommitLog.read`). */
  private val tl1Snapshot: Q = (spark, dir) => {
    val table = buildTable(spark, dir)
    spark.read.format("graftlog").load(table)
      .select("id", "status", "price", "batch")
      .orderBy("id")
  }

  private val tl1SnapshotSql =
    s"""WITH $batchesSql
       |SELECT id, status, price, batch FROM merged ORDER BY id""".stripMargin

  /** tl2: time travel — version 0 must still serve the pre-upsert state
    * after the upsert commits, and the version deltas must reconcile.
    * Both snapshots read through the `graftlog` DataSource's
    * `versionAsOf` option — the SQL-facing form of `CommitLog.read(asOf)`. */
  private val tl2TimeTravel: Q = (spark, dir) => {
    val table = buildTable(spark, dir)
    def stats(version: Long, df: DataFrame): DataFrame =
      df.groupBy().agg(
        count(lit(1)).as("n_rows"),
        count(when(col("status") === "verified", 1)).as("n_verified"),
        count(when(col("status") === "pending_review", 1)).as("n_pending"))
        .select(lit(version).cast("int").as("version"),
          col("n_rows"), col("n_verified"), col("n_pending"))
    stats(0, spark.read.format("graftlog").option("versionAsOf", 0).load(table))
      .unionByName(stats(1, spark.read.format("graftlog").load(table)))
      .orderBy("version")
  }

  private val tl2TimeTravelSql =
    s"""WITH $batchesSql
       |SELECT 0 AS version, count(*) AS n_rows,
       |  count(CASE WHEN status = 'verified' THEN 1 END) AS n_verified,
       |  count(CASE WHEN status = 'pending_review' THEN 1 END) AS n_pending
       |FROM b1
       |UNION ALL
       |SELECT 1 AS version, count(*) AS n_rows,
       |  count(CASE WHEN status = 'verified' THEN 1 END) AS n_verified,
       |  count(CASE WHEN status = 'pending_review' THEN 1 END) AS n_pending
       |FROM merged
       |ORDER BY version""".stripMargin

  /** tl3: idempotent corpus ingest — batch 1 loads the corpus keyed by
    * content hash; batch 2 re-sends a fifth of it verbatim (under new doc
    * ids) PLUS genuinely new documents; batch 3 is batch 2 again. Only the
    * new content may land, and the replayed batch must commit nothing —
    * the exactly-once ingest property a training-data pipeline needs when
    * crawl deliveries overlap. */
  private val tl3DedupIngest: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_ingest"))
    Sinks.deleteTree(root)
    val table = root.toString
    val d = Tables.documents(spark, dir)
    val batch1 = d.select(col("doc_id").cast("long").as("doc_id"),
      md5(col("text")).as("content_hash"), lit(1).as("ingest_batch"))
    val batch2 = d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 20000).cast("long").as("doc_id"),
        md5(col("text")).as("content_hash"), lit(2).as("ingest_batch"))
      .unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 50000).cast("long").as("doc_id"),
          md5(concat(col("text"), lit(" new"))).as("content_hash"),
          lit(2).as("ingest_batch")))
    CommitLog.dedupAppend(spark, batch1, table, Seq("content_hash"))
    CommitLog.dedupAppend(spark, batch2, table, Seq("content_hash"))
    val replay = CommitLog.dedupAppend(spark, batch2, table, Seq("content_hash"))
    require(replay.isEmpty, "replayed ingest batch must be a no-op")
    CommitLog.read(spark, table)
      .select(col("doc_id"), col("content_hash"), col("ingest_batch"),
        lit(CommitLog.currentVersion(table)).cast("int").as("final_version"))
      .orderBy("doc_id")
  }

  /** The oracle sees what an exactly-once ingest must produce: all of
    * batch 1, only the genuinely-new half of batch 2, and a version count
    * that proves the replay never committed. */
  private val tl3DedupIngestSql =
    """SELECT doc_id, md5(text) AS content_hash, 1 AS ingest_batch, 1 AS final_version
      |FROM documents
      |UNION ALL
      |SELECT doc_id + 50000, md5(text || ' new'), 2, 1
      |FROM documents WHERE doc_id % 5 = 0
      |ORDER BY doc_id""".stripMargin

  /** tl4: small-file compaction — four separate appends (each fanned out
    * to 4 data files, 16 small files total) bin-packed to 2 by
    * [[CommitLog.compact]], then vacuumed. The query pins the whole
    * lifecycle: content after compact+vacuum is byte-identical to the
    * declarative union of the four batches (the oracle), the file count
    * hits the target, the version history shows 4 appends + 1 compact,
    * and vacuum reclaims exactly the 16 superseded files. A second
    * compact at the same target must be a no-op (no empty commit). */
  private val tl4Compaction: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_compact"))
    Sinks.deleteTree(root)
    val table = root.toString
    val orders = Tables.orders(spark, dir)
    (0 until 4).foreach { b =>
      CommitLog.append(
        orders.filter(col("o_orderkey") % 4 === b)
          .select(col("o_orderkey").cast("long").as("id"),
            round(col("o_totalprice").cast("double"), 2).as("price"),
            lit(b).as("batch"))
          .repartition(4),
        table)
    }
    val before = CommitLog.snapshotFiles(table).length
    require(before == 16, s"expected 16 small files before compaction, got $before")
    CommitLog.compact(spark, table, targetFiles = 2)
    require(CommitLog.compact(spark, table, targetFiles = 2).isEmpty,
      "compaction at an already-met target must be a no-op")
    val after = CommitLog.snapshotFiles(table).length
    val reclaimed = CommitLog.vacuum(table, retainMillis = 0).length
    require(reclaimed == before,
      s"vacuum must reclaim all $before superseded files, got $reclaimed")
    CommitLog.read(spark, table)
      .groupBy("batch")
      .agg(count(lit(1)).as("n_rows"), round(sum(col("price")), 2).as("total"))
      .withColumn("files_after", lit(after))
      .withColumn("n_versions", lit(CommitLog.versions(table).length))
      .orderBy("batch")
  }

  private val tl4CompactionSql =
    """SELECT CAST(o_orderkey % 4 AS INTEGER) AS batch, count(*) AS n_rows,
      |  round(CAST(sum(round(o_totalprice, 2)) AS DOUBLE), 2) AS total,
      |  2 AS files_after, 5 AS n_versions
      |FROM orders GROUP BY 1 ORDER BY batch""".stripMargin

  /** tl5: zone-map file skipping — the corpus appended CLUSTERED on the
    * key (range-partitioned files, per-file [lo, hi] recorded in the
    * commit), then a narrow key-range read proves the zone maps prune to
    * 1 of 4 data files before any parquet footer is opened. This is the
    * commit-log's answer to partition pruning for high-cardinality keys
    * (the public Delta stats / Iceberg manifest-metrics mechanism): at
    * 100 TB the scan's file list shrinks by the clustering factor, and a
    * file with no recorded stats is always read — skipping only ever acts
    * on positive evidence. */
  private val tl5ZonemapSkip: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_zonemap"))
    Sinks.deleteTree(root)
    val table = root.toString
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey").cast("long").as("id"),
        round(col("o_totalprice").cast("double"), 2).as("price"))
    CommitLog.appendClustered(spark, orders, table, "id", buckets = 4)
    val all = CommitLog.snapshotFiles(table)
    require(all.length == 4, s"expected 4 clustered files, got ${all.length}")
    // predicate well inside the first quartile: exactly one zone overlaps
    val hit = CommitLog.prunedFiles(table, 0L, 300L)
    require(hit.length == 1,
      s"zone maps should prune to 1 of 4 files, got ${hit.length}")
    Footers.read(spark, hit.map(f => Paths.get(table, f).toString))
      .filter(col("id").between(0, 300))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("price")), 2).as("total"))
      .withColumn("files_scanned", lit(hit.length))
      .withColumn("files_total", lit(all.length))
  }

  private val tl5ZonemapSkipSql =
    """SELECT count(*) AS n_rows,
      |  round(CAST(sum(round(o_totalprice, 2)) AS DOUBLE), 2) AS total,
      |  1 AS files_scanned, 4 AS files_total
      |FROM orders WHERE o_orderkey BETWEEN 0 AND 300""".stripMargin

  /** tl6: log checkpointing — six appends, a checkpoint rolled over the
    * first five, the pre-checkpoint commits EXPIRED, then one more append.
    * The read that produces the result is served from exactly the summary
    * file plus a two-commit tail (anchor + post-checkpoint append) — the
    * metadata shape that keeps a 10⁵-commit tracker's snapshot O(1) log
    * reads instead of O(history). Content must equal the declarative union
    * of all six batches even though most of the log is gone. */
  private val tl6LogCheckpoint: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_ckpt"))
    Sinks.deleteTree(root)
    val table = root.toString
    val orders = Tables.orders(spark, dir)
    def batch(b: Int): DataFrame = orders.filter(col("o_orderkey") % 6 === b)
      .select(col("o_orderkey").cast("long").as("id"),
        round(col("o_totalprice").cast("double"), 2).as("price"),
        lit(b).as("batch"))
    (0 until 5).foreach(b => CommitLog.append(batch(b), table))
    val cp = CommitLog.checkpoint(table)
    require(cp == 4L, s"checkpoint should land at the tip (v4), got $cp")
    val expired = CommitLog.expireLog(table).length
    require(expired == 4, s"commits 0..3 should be expired, got $expired")
    CommitLog.append(batch(5), table)
    val commitFiles = CommitLog.versions(table).length
    require(commitFiles == 2,
      s"post-expiry log must hold only anchor+tail commits, got $commitFiles")
    CommitLog.read(spark, table)
      .groupBy("batch")
      .agg(count(lit(1)).as("n_rows"), round(sum(col("price")), 2).as("total"))
      .withColumn("commit_files", lit(commitFiles))
      .withColumn("checkpoint_at", lit(cp).cast("int"))
      .orderBy("batch")
  }

  private val tl6LogCheckpointSql =
    """SELECT CAST(o_orderkey % 6 AS INTEGER) AS batch, count(*) AS n_rows,
      |  round(CAST(sum(round(o_totalprice, 2)) AS DOUBLE), 2) AS total,
      |  2 AS commit_files, 4 AS checkpoint_at
      |FROM orders GROUP BY 1 ORDER BY batch""".stripMargin

  // ------------------------------------------------------------------ tl7: z-order box pruning
  /** tl7: the composition that makes Z-ORDER clustering an INDEX, not
    * just a layout — a 2-D box predicate answered through the 1-D zkey
    * zone maps. Points are clustered by Morton key (`appendClustered`
    * records each file's [lo, hi] zkey range at commit time); the box is
    * decomposed into zkey intervals by [[graft.functions.ZOrder.zRangesForBox]]
    * (Tropf–Herzog quadtree descent, budget-coarsened superset); each
    * interval prunes the file list through the zone maps; the residual
    * exact x/y filter runs only over surviving files. The gate REQUIREs
    * that files were actually skipped, and the row content hash-matches
    * DuckDB filtering the same derived points directly — layout, index
    * metadata, decomposition, and residual filter all have to agree. */
  private val tl7Box = (100L, 180L, 200L, 260L)
  private val tl7Ranges =
    graft.functions.ZOrder.zRangesForBox(tl7Box._1, tl7Box._2, tl7Box._3, tl7Box._4, maxRanges = 32)

  private val tl7ZorderBox: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_zbox"))
    Sinks.deleteTree(root)
    val table = root.toString
    val pts = Tables.orders(spark, dir).select(
        col("o_orderkey").as("id"),
        (col("o_orderkey") * 7919 % 1024).as("x"),
        (col("o_orderkey") * 104729 % 1024).as("y"))
      .withColumn("zkey", graft.functions.ZOrder.morton(col("x"), col("y")))
    CommitLog.appendClustered(spark, pts, table, "zkey", buckets = 8)
    val all = CommitLog.snapshotFiles(table)
    val files = tl7Ranges
      .flatMap(r => CommitLog.prunedFiles(table, r._1, r._2)).distinct
    require(files.length < all.length,
      s"z-range pruning should skip files: read ${files.length} of ${all.length}")
    Footers.read(spark, files.map(f => Paths.get(table, f).toString))
      .filter(col("x").between(tl7Box._1, tl7Box._2) &&
        col("y").between(tl7Box._3, tl7Box._4))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"))
      .withColumn("n_ranges", lit(tl7Ranges.length))
  }

  private val tl7ZorderBoxSql =
    s"""SELECT count(*) AS n_rows,
       |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
       |  ${tl7Ranges.length} AS n_ranges
       |FROM (SELECT o_orderkey * 7919 % 1024 AS x,
       |             o_orderkey * 104729 % 1024 AS y FROM orders)
       |WHERE x BETWEEN ${tl7Box._1} AND ${tl7Box._2}
       |  AND y BETWEEN ${tl7Box._3} AND ${tl7Box._4}""".stripMargin

  /** tl8: the DataSource WRITE surface — `df.write.format("graftlog")`
    * must land the same transactional commits the Scala API lands. The
    * gate creates the table through a DataSource append (no prior
    * commits), appends a second batch, then `mode("overwrite")`s the
    * verified subset — exactly one commit per write, pinned by version
    * asserts — and reads both the pre-overwrite version and the final
    * snapshot back THROUGH the DataSource (the snapshot read is filtered
    * + projected, so it exercises the pruned bridge). Oracle: the same
    * stats computed declaratively from the batch definitions. */
  private val tl8SqlWrite: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_sqlwrite"))
    Sinks.deleteTree(root)
    val table = root.toString
    batch1(spark, dir).write.format("graftlog").mode("append").save(table)     // v0 creates
    batch2(spark, dir).write.format("graftlog").mode("append").save(table)     // v1
    require(CommitLog.currentVersion(table) == 1L,
      "each DataSource append must land exactly one commit")
    batch2(spark, dir).write.format("graftlog").mode("overwrite").save(table)  // v2 replaces
    require(CommitLog.currentVersion(table) == 2L,
      "DataSource overwrite must land exactly one commit")
    def stats(version: Int, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          sum(col("price").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .select(lit(version).as("version"), col("n_rows"), col("sum_price"))
    val preOverwrite = spark.read.format("graftlog").option("versionAsOf", 1).load(table)
    val finalVerified = spark.read.format("graftlog").load(table)
      .filter(col("status") === "verified").select("id", "price")   // pruned bridge read
    stats(1, preOverwrite).unionByName(stats(2, finalVerified)).orderBy("version")
  }

  private val tl8SqlWriteSql =
    s"""WITH $batchesSql
       |SELECT 1 AS version, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
       |UNION ALL
       |SELECT 2 AS version, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM b2
       |ORDER BY version""".stripMargin

  // ------------------------------------------------------------------ tl9: SQL data skipping
  /** tl9: zone-map data skipping on the SQL read surface — tl5's pruning,
    * but driven by a pushed `Filter` instead of a caller who knows the
    * clustering column. `appendClustered` now records WHICH column each
    * file's [lo, hi] range describes, and the `graftlog` scan builder
    * matches pushed filters against those named ranges, so a plain
    * `spark.read.format("graftlog")...WHERE id BETWEEN a AND b` reads 1
    * of 4 files without the user ever mentioning zone maps. The gate
    * REQUIREs the narrowed read (the exact DataFrame the V1 bridge
    * executes) touched exactly one file, then serves the aggregate
    * through the real SQL surface. */
  private val tl9SqlSkipping: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_sqlskip"))
    Sinks.deleteTree(root)
    val table = root.toString
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey").cast("long").as("id"),
        round(col("o_totalprice").cast("double"), 2).as("price"))
    CommitLog.appendClustered(spark, orders, table, "id", buckets = 4)
    val all = CommitLog.snapshotFiles(table)
    require(all.length == 4, s"expected 4 clustered files, got ${all.length}")
    // the narrowed read the scan bridge executes for WHERE id BETWEEN 0 AND 300:
    // zone maps must shrink it to the one file whose range covers the quartile
    import org.apache.spark.sql.{sources => f}
    val narrowed = graft.sources.GraftLogDataSource.narrowedRead(
      spark, table, CommitLog.currentVersion(table), mergeSchema = false,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price", org.apache.spark.sql.types.DoubleType))),
      Seq(f.GreaterThanOrEqual("id", 0L), f.LessThanOrEqual("id", 300L)))
    require(narrowed.inputFiles.length == 1,
      s"pushed-filter zone skipping should read 1 of 4 files, got ${narrowed.inputFiles.length}")
    spark.read.format("graftlog").load(table)
      .filter(col("id").between(0, 300))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("price")), 2).as("total"))
      .withColumn("files_scanned", lit(narrowed.inputFiles.length))
      .withColumn("files_total", lit(all.length))
  }

  private val tl9SqlSkippingSql =
    """SELECT count(*) AS n_rows,
      |  round(CAST(sum(round(o_totalprice, 2)) AS DOUBLE), 2) AS total,
      |  1 AS files_scanned, 4 AS files_total
      |FROM orders WHERE o_orderkey BETWEEN 0 AND 300""".stripMargin

  // ------------------------------------------------------------------ tl10: streaming read
  /** tl10: the commit log as a Structured-Streaming SOURCE (the snapshot
    * stream, [[graft.sources.GraftLogMicroBatchStream]]) — offsets are log versions,
    * each micro-batch delivers exactly one commit's files
    * (`maxVersionsPerTrigger=1`), compaction commits deliver nothing (the
    * stream must not re-deliver rewritten rows), and `Trigger.AvailableNow`
    * drains the log then stops. The memory-sink contents must equal the
    * declarative union of both appended batches even though a compact
    * commit rewrote the table between them and the stream — exactly-once
    * end to end on the read side. */
  private val tl10StreamRead: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_streamread"))
    Sinks.deleteTree(root)
    val table = root.resolve("table").toString
    // two append-only batches with DISJOINT keys (an append stream carries
    // no upsert semantics; tl3/tl8 cover those surfaces)
    CommitLog.append(batch1(spark, dir), table)                       // v0: %3 == 0
    CommitLog.append(batch2(spark, dir)
      .withColumn("id", col("id") + 1), table)                        // v1: %6 == 1 — disjoint
    CommitLog.compact(spark, table, targetFiles = 1)                  // v2: content no-op
    spark.catalog.dropTempView("tl10_stream_sink")
    val q = spark.readStream.format("graftlog")
      .option("maxVersionsPerTrigger", 1)
      .load(table)
      .writeStream.format("memory").queryName("tl10_stream_sink")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // bounded wait: a broken source must fail the gate, not hang the suite
    val drained = q.awaitTermination(180000L)
    if (!drained) { q.stop(); sys.error("tl10: AvailableNow drain did not terminate in 180s") }
    spark.table("tl10_stream_sink")
      .groupBy("batch")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("batch")
  }

  private val tl10StreamReadSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT id, status, price, batch FROM b1
       |      UNION ALL SELECT id + 1 AS id, status, price, batch FROM b2)
       |GROUP BY batch ORDER BY batch""".stripMargin

  // ------------------------------------------------------------------ tl11: metadata-only count
  /** tl11: `count(*)` answered from the LOG, not the data — every add
    * action records its file's parquet-footer row count, so the
    * snapshot's total is one driver-side log replay
    * ([[CommitLog.snapshotRowCount]]): milliseconds at any table size,
    * where a scan is minutes at 100 TB (the public Delta/Iceberg
    * metadata-count optimization). The gate builds a table through every
    * add path that matters (append, rewriting upsert, compaction), takes
    * the CURRENT and the TIME-TRAVELED metadata counts — REQUIREd to be
    * defined, i.e. every path recorded counts — and serves them alongside
    * the actual scan counts; the oracle recomputes both from the batch
    * definitions, so a drifting metadata sum hash-fails. */
  private val tl11MetadataCount: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_metacount"))
    Sinks.deleteTree(root)
    val table = root.toString
    CommitLog.append(batch1(spark, dir), table)                      // v0
    CommitLog.upsert(spark, batch2(spark, dir), table, Seq("id"))    // v1: rewrite
    CommitLog.compact(spark, table, targetFiles = 2)                 // v2: count-invariant
    val metaNow = CommitLog.snapshotRowCount(table)
    val metaV0 = CommitLog.snapshotRowCount(table, Some(0L))
    require(metaNow.nonEmpty && metaV0.nonEmpty,
      "append/upsert/compact must all record footer row counts")
    def leg(version: Int, meta: Long, scanned: DataFrame): DataFrame =
      scanned.agg(count(lit(1)).as("n_scan"))
        .select(lit(version).as("version"), lit(meta).as("n_meta"), col("n_scan"))
    leg(0, metaV0.get,
        spark.read.format("graftlog").option("versionAsOf", 0).load(table))
      .unionByName(leg(2, metaNow.get, spark.read.format("graftlog").load(table)))
      .orderBy("version")
  }

  private val tl11MetadataCountSql =
    s"""WITH $batchesSql
       |SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_meta,
       |  CAST(count(*) AS BIGINT) AS n_scan FROM b1
       |UNION ALL
       |SELECT 2 AS version, CAST(count(*) AS BIGINT) AS n_meta,
       |  CAST(count(*) AS BIGINT) AS n_scan FROM merged
       |ORDER BY version""".stripMargin

  // ------------------------------------------------------------------ tl12: stats-driven broadcast
  /** tl12: the SQL scan reports REAL statistics from the commit log
    * (footer row counts + on-disk byte sizes recorded in the add
    * vocabulary), so Catalyst auto-broadcasts a small graftlog dimension
    * with NO hint. A V2 scan without `SupportsReportStatistics` defaults
    * to "unknown = spark.sql.defaultSizeInBytes", which suppresses every
    * auto-broadcast — at 100 TB that turns each dim join against a
    * graftlog table into a full sort-merge shuffle of the fact side. The
    * gate REQUIREs a BroadcastHashJoin in the STATIC plan (AQE can also
    * broadcast from runtime shuffle sizes; the static planner only
    * broadcasts what the scan's reported statistics justify), then serves
    * the join result against a plain-SQL oracle. */
  private val tl12StatsBroadcast: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_statsdim"))
    Sinks.deleteTree(root)
    val table = root.toString
    Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("long").as("nationkey"),
        col("n_name").as("nation"))
      .write.format("graftlog").mode("append").save(table)
    // pin the default threshold for the plan check, restore after (gate
    // order must never change another gate's plan)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      val dim = spark.read.format("graftlog").load(table)
      val agg = Tables.customer(spark, dir)
        .select(col("c_nationkey").cast("long").as("nationkey"),
          round(col("c_acctbal").cast("double"), 2).as("bal"))
        .join(dim, "nationkey") // no hint: the broadcast comes from scan stats
        .groupBy("nation")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("bal").cast("decimal(18,2)")).cast("double").as("total_bal"))
        .orderBy("nation")
      // the BUILD side must be the graftlog scan: the customer side is
      // itself broadcast-small at gate scale, so requiring "some BHJ"
      // would pass even with an unknown-size dim (the planner would
      // broadcast the fact); choosing the dim requires its reported
      // statistics to be the smaller KNOWN size
      val dimBuilds = agg.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          val side = b.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
            case _                                                 => b.right
          }
          side.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
                if b.scan.isInstanceOf[graft.sources.GraftLogNativeScan] => b
          }.nonEmpty
      }.exists(identity)
      require(dimBuilds,
        "the graftlog dim must be the broadcast build side, from reported scan statistics")
      agg
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private val tl12StatsBroadcastSql =
    """SELECT n.n_name AS nation, count(*) AS n_customers,
      |  CAST(sum(CAST(round(c.c_acctbal, 2) AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------ tl13: metadata-answered aggregates
  /** tl13: `SELECT count(*), min(id), max(id)` over the SQL surface,
    * answered entirely from commit-log metadata — the scan builder's
    * `SupportsPushDownAggregates` serves footer row counts and named
    * zone ranges as the aggregate result, and the Aggregate node
    * disappears from the optimized plan (REQUIREd — without pushdown the
    * same query still answers, through a scan, and the gate must not
    * pass as that). At 100 TB this is the difference between
    * milliseconds and a full-table scan for the most common
    * "how big is this table" queries. */
  private val tl13AggPushdown: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_aggpush"))
    Sinks.deleteTree(root)
    val table = root.toString
    // clustered on id with the column NAMED, so min/max have the full
    // zone coverage the metadata answer requires
    CommitLog.appendClustered(spark,
      batch1(spark, dir).select("id", "status"), table, "id", buckets = 4)
    val df = spark.read.format("graftlog").load(table)
      .agg(count(lit(1)).as("n_rows"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
    require(df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty,
      "count/min/max over a covered snapshot must be answered from metadata")
    df
  }

  private val tl13AggPushdownSql =
    s"""WITH $batchesSql
       |SELECT count(*) AS n_rows, min(id) AS min_id, max(id) AS max_id
       |FROM b1""".stripMargin

  // ------------------------------------------------------------------ tl14: log→log streaming pipeline
  /** tl14: the full log → transform → log streaming pipeline through the
    * NATIVE source and sink — `readStream.format("graftlog")` follows the
    * upstream log, `writeStream.format("graftlog")` lands each
    * micro-batch as one txn-marked commit, and a checkpointed re-run
    * delivers nothing new (REQUIREd: the destination version must not
    * advance — the exactly-once contract a 100 TB ingest DAG restarts
    * on). The served snapshot is the destination table, hash-matched
    * against the upstream batch definitions. */
  private val tl14StreamPipeline: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_streampipe"))
    Sinks.deleteTree(root)
    val src = root.resolve("src").toString
    val dst = root.resolve("dst").toString
    val ckpt = root.resolve("ckpt").toString
    CommitLog.append(batch1(spark, dir), src)   // v0 upstream
    CommitLog.append(batch2(spark, dir), src)   // v1 upstream
    def run(): Unit = {
      val q = spark.readStream.format("graftlog").load(src)
        .writeStream.format("graftlog")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      require(q.awaitTermination(300000L), "tl14: pipeline drain timed out")
    }
    run()
    val v = CommitLog.currentVersion(dst)
    run() // an already-drained pipeline must not commit again
    require(CommitLog.currentVersion(dst) == v,
      "tl14: a checkpointed re-run must deliver nothing new")
    spark.read.format("graftlog").load(dst)
      .groupBy("batch").agg(count(lit(1)).as("n_rows"),
        sum(col("price").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("batch")
  }

  private val tl14StreamPipelineSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
       |GROUP BY batch ORDER BY batch""".stripMargin

  // ------------------------------------------------------------------ tl15: SQL catalog
  /** tl15: the full SQL identifier surface over commit-log tables via
    * [[graft.sources.GraftCatalog]] — CREATE NAMESPACE, CTAS, INSERT
    * INTO (one txn commit), `VERSION AS OF` time travel, and a final
    * aggregate read, all through `graft.cur.tracker` with no path in
    * sight. The gate REQUIREs the time-traveled pre-insert count to
    * equal the first batch (proving `VERSION AS OF` pins the snapshot,
    * not the head), then serves the head aggregate against the batch
    * definitions' oracle. */
  private val tl15SqlCatalog: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"))
    Files.createDirectories(root)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", root.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cur")
    spark.sql("DROP TABLE IF EXISTS graft.cur.tracker")
    batch1(spark, dir).createOrReplaceTempView("tl15_b1")
    batch2(spark, dir).createOrReplaceTempView("tl15_b2")
    spark.sql("CREATE TABLE graft.cur.tracker AS SELECT * FROM tl15_b1")  // v0 schema + v1 data
    spark.sql("INSERT INTO graft.cur.tracker SELECT * FROM tl15_b2")      // v2
    val pre = spark.sql(
      "SELECT count(*) AS n FROM graft.cur.tracker VERSION AS OF 1").head().getLong(0)
    require(pre == batch1(spark, dir).count(),
      s"VERSION AS OF 1 must serve the pre-insert snapshot, got $pre")
    spark.sql(
      """SELECT batch, count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM graft.cur.tracker GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl15SqlCatalogSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
       |GROUP BY batch ORDER BY batch""".stripMargin

  // ------------------------------------------------------------------ tl16-18: SQL DML
  /** Registers the `graft` catalog and rebuilds `graft.dml.<name>` fresh
    * from a CTAS of `selectSql` over the batch temp views. */
  private def dmlTable(spark: SparkSession, dir: String, name: String,
                       selectSql: String): String = {
    val root = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"))
    Files.createDirectories(root)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", root.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    spark.sql(s"DROP TABLE IF EXISTS graft.dml.$name")
    batch1(spark, dir).createOrReplaceTempView(s"${name}_b1")
    batch2(spark, dir).createOrReplaceTempView(s"${name}_b2")
    spark.sql(s"CREATE TABLE graft.dml.$name AS $selectSql")
    s"graft.dml.$name"
  }

  /** tl16: `DELETE FROM` through the SQL catalog — group-based
    * copy-on-write planned by Spark over the table's
    * [[graft.sources.GraftRowLevelOperation]] (one atomic rewrite commit;
    * the pre-delete snapshot stays time-travelable). The table starts as
    * b1 ∪ b2 (both generations of every corrected order) and the DELETE
    * removes the superseded batch-1 rows — arriving at exactly the
    * upsert-merge semantic (`j_upsert`/tl1) by subtraction instead of
    * merge, which the `merged` oracle CTE already describes. */
  private val tl16SqlDelete: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t16",
      "SELECT * FROM t16_b1 UNION ALL SELECT * FROM t16_b2")
    spark.sql(s"DELETE FROM $t WHERE batch = 1 AND id % 6 = 0")
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl16SqlDeleteSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM merged GROUP BY batch ORDER BY batch""".stripMargin

  /** tl17: `UPDATE` through the SQL catalog — the correction pass as an
    * in-place SQL statement: batch-1 rows whose orders verified are
    * promoted where they sit. Same copy-on-write machinery as tl16;
    * result equals the merged tracker grouped by status. */
  private val tl17SqlUpdate: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t17", "SELECT * FROM t17_b1")
    spark.sql(
      s"UPDATE $t SET status = 'verified', batch = 2 WHERE id % 6 = 0")
    spark.sql(
      s"""SELECT status, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY status ORDER BY status""".stripMargin)
  }

  private val tl17SqlUpdateSql =
    s"""WITH $batchesSql
       |SELECT status, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM merged GROUP BY status ORDER BY status""".stripMargin

  /** tl18: `MERGE INTO` through the SQL catalog — the full upsert as ONE
    * SQL statement: matched target rows take the source's correction
    * (batch 2), unmatched source rows insert (a batch-3 generation with
    * negated ids, so the not-matched arm provably fires). One commit;
    * equals merged ∪ inserted. */
  private val tl18SqlMerge: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t18", "SELECT * FROM t18_b1")
    spark.sql(
      s"""MERGE INTO $t t USING (
         |  SELECT id, status, price, batch FROM t18_b2
         |  UNION ALL
         |  SELECT -(id + 1) AS id, 'inserted' AS status, price, 3 AS batch FROM t18_b2
         |) s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET
         |  status = s.status, price = s.price, batch = s.batch
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl18SqlMergeSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT * FROM merged
       |      UNION ALL
       |      SELECT -(id + 1) AS id, 'inserted' AS status, price, 3 AS batch FROM b2)
       |GROUP BY batch ORDER BY batch""".stripMargin

  /** tl19: `CALL` table maintenance through the catalog
    * ([[graft.sources.GraftProcedures]]) — the full lifecycle in SQL:
    * compact (bin-pack, REQUIREd to hit the 2-file target in one commit),
    * vacuum (REQUIREd to reclaim the compacted-away files), checkpoint
    * (REQUIREd to expire the log prefix), history (the retained tail as
    * rows). The served aggregate proves content is INVARIANT under all
    * of it — maintenance moves bytes, never rows. */
  private val tl19SqlMaintenance: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t19",
      "SELECT /*+ REPARTITION(4) */ * FROM t19_b1")
    spark.sql(s"INSERT INTO $t SELECT /*+ REPARTITION(4) */ * FROM t19_b2")
    val compacted = spark.sql(
      "CALL graft.system.compact(`table` => 'dml.t19', target_files => 2)").head()
    require(!compacted.isNullAt(0), "compact must land a commit")
    require(compacted.getInt(1) <= 2, s"compact must hit the target, ${compacted.getInt(1)} files live")
    val reclaimed = spark.sql("CALL graft.system.vacuum('dml.t19', 0)").count()
    require(reclaimed > 0, "vacuum must reclaim the compacted-away files")
    val ckpt = spark.sql("CALL graft.system.checkpoint('dml.t19')").head()
    require(ckpt.getInt(1) > 0, "checkpoint must expire the pre-checkpoint log")
    require(spark.sql("CALL graft.system.history('dml.t19')").count() >= 1,
      "history must serve the retained tail")
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl19SqlMaintenanceSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
       |GROUP BY batch ORDER BY batch""".stripMargin

  /** tl20: `ALTER TABLE ... ADD COLUMNS` — additive schema evolution as a
    * log commit (the Delta `metaData` shape: one `alter` action declares
    * the widened schema; no data file moves). Old rows serve NULL for the
    * new column, the next INSERT writes it, and the aggregate proves
    * exactly that split (`n_note` = 0 for the pre-evolution batch). */
  private val tl20SchemaEvolution: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t20", "SELECT * FROM t20_b1")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)")
    spark.sql(
      s"""INSERT INTO $t
         |SELECT id, status, price, batch,
         |  concat('n', CAST(id AS STRING)) AS note FROM t20_b2""".stripMargin)
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows, count(note) AS n_note,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl20SchemaEvolutionSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows, count(note) AS n_note,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT b1.*, CAST(NULL AS VARCHAR) AS note FROM b1
       |      UNION ALL
       |      SELECT b2.*, 'n' || CAST(id AS VARCHAR) AS note FROM b2)
       |GROUP BY batch ORDER BY batch""".stripMargin

  /** tl20b: RENAME COLUMN — metadata-only column mapping (the public
    * Delta column-mapping `name` mode): the physical parquet name is
    * fixed at first write and recorded in field metadata, so the rename
    * moves ZERO data files (REQUIREd), pre-rename files serve real values
    * under the new logical name, and post-rename INSERTs land under the
    * PHYSICAL name (REQUIREd against the new file's own footer) so one
    * single-schema scan serves both eras. */
  private val tl20bRename: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t20b", "SELECT * FROM t20b_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t20b").toString
    val filesBefore = CommitLog.snapshotFiles(tdir).toSet
    spark.sql(s"ALTER TABLE $t RENAME COLUMN status TO state")
    require(CommitLog.snapshotFiles(tdir).toSet == filesBefore,
      "tl20b: a rename must move zero data files")
    spark.sql(s"INSERT INTO $t SELECT id, status AS state, price, batch FROM t20b_b2")
    val newFile = (CommitLog.snapshotFiles(tdir).toSet -- filesBefore).head
    val phys = Footers.schema(spark, Paths.get(tdir, newFile).toString).fieldNames
    require(phys.contains("status") && !phys.contains("state"),
      s"tl20b: post-rename files must wear the physical name, got ${phys.toSeq}")
    spark.sql(
      s"""SELECT state, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY state ORDER BY state""".stripMargin)
  }

  private val tl20bRenameSql =
    s"""WITH $batchesSql
       |SELECT status AS state, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** tl20c: ALTER COLUMN TYPE widening — the declared type changes in one
    * metadata commit (REQUIREd: zero files move); old INT32 pages read
    * through the parquet reader's widening promotion, post-widen INSERTs
    * land wide, and one scan aggregates across both eras. Narrowing
    * refuses loudly (spec-pinned in SchemaEvolutionSpec). */
  private val tl20cWiden: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t20c", "SELECT * FROM t20c_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t20c").toString
    val filesBefore = CommitLog.snapshotFiles(tdir).toSet
    spark.sql(s"ALTER TABLE $t ALTER COLUMN batch TYPE BIGINT")
    require(CommitLog.snapshotFiles(tdir).toSet == filesBefore,
      "tl20c: widening must not rewrite data files")
    require(spark.table(t).schema("batch").dataType ==
        org.apache.spark.sql.types.LongType,
      "tl20c: the declared type must be the widened one")
    spark.sql(s"INSERT INTO $t SELECT id, status, price, CAST(batch AS BIGINT) FROM t20c_b2")
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl20cWidenSql =
    s"""WITH $batchesSql
       |SELECT CAST(batch AS BIGINT) AS batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** tl20d: DROP COLUMN — metadata-only like the rename: the declared
    * schema omits the field (REQUIREd: zero files move), every era's scan
    * prunes the column, and the physical name is TOMBSTONED — re-adding
    * it refuses loudly (REQUIREd), because old files still carry the
    * stale bytes and a reused name would resurrect them as real values
    * instead of NULLs. Time travel below the drop still serves the
    * column (REQUIREd). */
  private val tl20dDrop: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t20d", "SELECT * FROM t20d_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t20d").toString
    val preDrop = CommitLog.currentVersion(tdir)
    val filesBefore = CommitLog.snapshotFiles(tdir).toSet
    spark.sql(s"ALTER TABLE $t DROP COLUMN status")
    require(CommitLog.snapshotFiles(tdir).toSet == filesBefore,
      "tl20d: a drop must move zero data files")
    require(!spark.table(t).schema.fieldNames.contains("status"),
      "tl20d: the dropped column must leave the served schema")
    require(CommitLog.read(spark, tdir, Some(preDrop))
        .schema.fieldNames.contains("status"),
      "tl20d: time travel below the drop must still serve the column")
    val refused = try { spark.sql(s"ALTER TABLE $t ADD COLUMNS (status STRING)"); false }
      catch { case e: Exception => e.getMessage.contains("DROPPED") }
    require(refused, "tl20d: re-adding a dropped column must refuse loudly (tombstone)")
    spark.sql(s"INSERT INTO $t SELECT id, price, batch FROM t20d_b2")
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl20dDropSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
       |GROUP BY batch ORDER BY batch""".stripMargin

  /** tl20e: `CALL graft.system.purge` — the space-reclaim completion of
    * tl20d's metadata-only DROP ([[CommitLog.purgeDroppedColumns]],
    * Delta's REORG ... PURGE shape): one conflict-checked rewrite lands
    * files WITHOUT the tombstoned physical column (REQUIREd: bytes gone
    * from every live file) and lifts the tombstone in the same commit, so
    * the name is reusable — and the re-added column serves NULL for
    * purged rows, never the old stale bytes (REQUIREd). */
  private val tl20ePurge: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t20e", "SELECT * FROM t20e_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t20e").toString
    spark.sql(s"ALTER TABLE $t DROP COLUMN status")
    require(CommitLog.snapshotFiles(tdir).exists(f =>
        Footers.schema(spark, Paths.get(tdir, f).toString)
          .fieldNames.contains("status")),
      "tl20e: pre-purge files must still carry the dropped bytes")
    val purged = spark.sql("CALL graft.system.purge('dml.t20e')").collect()
    require(purged.map(_.getString(1)).toSeq == Seq("status"),
      s"tl20e: purge must report the reclaimed physical name, got ${purged.toSeq}")
    require(CommitLog.snapshotFiles(tdir).forall(f =>
        !Footers.schema(spark, Paths.get(tdir, f).toString)
          .fieldNames.contains("status")),
      "tl20e: purge must physically remove the dropped column's bytes")
    require(CommitLog.droppedPhysicalNames(tdir).isEmpty,
      "tl20e: purge must lift the tombstone")
    // the SAME name is reusable now, and serves NULL — never stale bytes
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (status STRING)")
    require(spark.sql(s"SELECT count(status) FROM $t").head.getLong(0) == 0L,
      "tl20e: the re-added column must be NULL — stale bytes must not resurrect")
    spark.sql(s"INSERT INTO $t SELECT id, price, batch, status FROM t20e_b2")
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows, count(status) AS n_status,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl20ePurgeSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows, count(status) AS n_status,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (
       |  SELECT id, CAST(NULL AS VARCHAR) AS status, price, 1 AS batch FROM b1
       |  UNION ALL SELECT id, status, price, batch FROM b2)
       |GROUP BY batch ORDER BY batch""".stripMargin

  /** tl21: `CALL graft.system.cluster` — the OPTIMIZE-ZORDER-style
    * maintenance that RESTORES data skipping: the CTAS layout carries no
    * zone maps (REQUIREd), one cluster commit range-partitions the table
    * and records per-file [min, max] (REQUIREd: every file covered,
    * first-bucket range query prunes to ONE file), and the served
    * aggregate proves content is invariant under the relayout. */
  private val tl21SqlCluster: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t21",
      "SELECT /*+ REPARTITION(4) */ * FROM t21_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t21").toString
    // footer multi-stats give every file an id range even pre-cluster,
    // but the hash layout's ranges INTERLEAVE (no declared clustering) —
    // what CALL cluster fixes is the LAYOUT, proven by the 1-file prune
    require(CommitLog.fileStats(tdir).isEmpty,
      "pre-cluster layout must declare no clustered zone maps")
    val row = spark.sql(
      "CALL graft.system.cluster(`table` => 'dml.t21', `column` => 'id', buckets => 3)").head()
    require(row.getInt(1) == 3, s"cluster must land 3 files, got ${row.getInt(1)}")
    val stats = CommitLog.fileStatsOn(tdir, "id")
    require(stats.size == 3, s"all 3 files must carry zone ranges, got ${stats.size}")
    val (lo, hi) = stats.values.minBy(_._1)
    require(CommitLog.prunedFiles(tdir, lo, hi).size == 1,
      "a first-bucket range query must prune to ONE file")
    spark.sql(
      s"""SELECT count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t""".stripMargin)
  }

  private val tl21SqlClusterSql =
    s"""WITH $batchesSql
       |SELECT count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM b1""".stripMargin

  /** tl22: declarative clustering — `CREATE TABLE ... PARTITIONED BY
    * (bucket(3, id)) AS SELECT ...` records the spec in the log, and
    * every subsequent write (the CTAS data, a later INSERT) lands
    * range-clustered with per-file zone ranges WITHOUT any writer-side
    * knob. REQUIREs: both writes produced zone-mapped files (6 total), a
    * point query prunes to at most 3 of the 7 live files (one bucket per
    * generation + the stats-less v0 create file, which is never
    * skipped). Content equals b1 ∪ b2 — layout policy, same rows. */
  private val tl22SqlClusteredCreate: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"))
    Files.createDirectories(root)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", root.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    spark.sql("DROP TABLE IF EXISTS graft.dml.t22")
    batch1(spark, dir).createOrReplaceTempView("t22_b1")
    batch2(spark, dir).createOrReplaceTempView("t22_b2")
    spark.sql(
      "CREATE TABLE graft.dml.t22 PARTITIONED BY (bucket(3, id)) AS SELECT * FROM t22_b1")
    spark.sql("INSERT INTO graft.dml.t22 SELECT * FROM t22_b2")
    val tdir = Paths.get(root.toString, "dml", "t22").toString
    require(CommitLog.declaredClustering(tdir).contains(("id", 3)),
      "the clustering spec must ride the log")
    val stats = CommitLog.fileStatsOn(tdir, "id")
    require(stats.size == 6, s"both writes must land zone-mapped files, got ${stats.size}")
    val someKey = stats.values.map(_._1).max
    require(CommitLog.prunedFiles(tdir, someKey, someKey).size <= 3,
      "a point query must prune to at most one bucket per generation + the v0 file")
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM graft.dml.t22 GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl22SqlClusteredCreateSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
       |GROUP BY batch ORDER BY batch""".stripMargin

  /** tl23: the change data feed — row-level changes between versions
    * computed from the log's add/remove sets ([[CommitLog.changes]], the
    * Delta CDF analogue with no change files): v0's append reads as pure
    * inserts; v1's upsert rewrite diffs to exactly the corrected rows as
    * inserts plus their superseded originals as deletes — the thousands
    * of rows the rewrite merely carried cancel out and never appear. */
  private val tl23ChangeFeed: Q = (spark, dir) => {
    val table = buildTable(spark, dir) // v0 append b1, v1 upsert b2
    CommitLog.changes(spark, table, -1L, CommitLog.currentVersion(table))
      .select(col("_commit_version").cast("int").as("commit_version"),
        col("_change_type").as("change_type"),
        col("id"), col("status"), col("price"), col("batch"))
      .orderBy("commit_version", "change_type", "id")
  }

  private val tl23ChangeFeedSql =
    s"""WITH $batchesSql
       |SELECT 0 AS commit_version, 'insert' AS change_type,
       |  id, status, price, batch FROM b1
       |UNION ALL
       |SELECT 1, 'insert', id, status, price, batch FROM b2
       |UNION ALL
       |SELECT 1, 'delete', id, status, price, batch FROM b1 WHERE id % 6 = 0
       |ORDER BY commit_version, change_type, id""".stripMargin

  /** tl27: the `table_changes(...)` SQL table-valued function
    * ([[graft.sources.TableChanges]], the Delta-parity CDF entry point):
    * the WINDOW rides in the SQL text itself — `FROM table_changes(t, 1,
    * 1)` serves exactly commit v1's delete+insert (REQUIREd) — and the
    * full-window call must match tl23's Scala-API feed. Both the path
    * form and the `'graft.ns.t'` catalog-identifier form are exercised
    * (REQUIREd equal). */
  private val tl27TableChanges: Q = (spark, dir) => {
    val table = buildTable(spark, dir) // v0 append b1, v1 upsert b2
    graft.sources.TableChanges.register(spark)
    val windowed = spark.sql(s"SELECT * FROM table_changes('$table', 1, 1)")
    require(windowed.select("_change_type").distinct().count() == 2L,
      "tl27: the v1 window must carry the upsert's delete AND insert rows")
    // the catalog-identifier form resolves to the same relation
    dmlTable(spark, dir, "t27", "SELECT * FROM t27_b1")
    spark.sql("INSERT INTO graft.dml.t27 SELECT * FROM t27_b2")
    val byIdent = spark.sql("SELECT * FROM table_changes('graft.dml.t27', 0, 2)")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t27").toString
    val byPath = spark.sql(s"SELECT * FROM table_changes('$tdir', 0, 2)")
    require(multisetEqual(byIdent, byPath),
      "tl27: identifier and path forms must serve the same feed")
    // the TVF carries _commit_timestamp: stamped on every row, one value
    // per commit (the batch/stream twins audit monotonicity in tl44)
    val stamps = byPath.select("_commit_version", "_commit_timestamp")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    require(stamps.nonEmpty && stamps.forall(_._2 != null),
      "tl27: every TVF change row must carry _commit_timestamp")
    require(stamps.groupBy(_._1).values
        .forall(_.map(_._2.getTime).distinct.size == 1),
      "tl27: one commit's rows must share one _commit_timestamp")
    spark.sql(
      s"""SELECT CAST(_commit_version AS INT) AS commit_version,
         |  _change_type AS change_type, id, status, price, batch
         |FROM table_changes('$table', 0, ${CommitLog.currentVersion(table)})
         |ORDER BY commit_version, change_type, id""".stripMargin)
  }

  private val tl27TableChangesSql =
    s"""WITH $batchesSql
       |SELECT 0 AS commit_version, 'insert' AS change_type,
       |  id, status, price, batch FROM b1
       |UNION ALL
       |SELECT 1, 'insert', id, status, price, batch FROM b2
       |UNION ALL
       |SELECT 1, 'delete', id, status, price, batch FROM b1 WHERE id % 6 = 0
       |ORDER BY commit_version, change_type, id""".stripMargin

  /** tl28: Z-ORDER clustering + 2-D file skipping — `CALL
    * graft.system.zorder` rewrites the table range-partitioned on the
    * Morton key of two quantized grid columns with per-file ZKEY ranges
    * recorded ([[CommitLog.compactZOrdered]]); a 2-D box predicate then
    * decomposes into zkey intervals (Tropf–Herzog) and prunes files
    * whose range misses every interval. REQUIREd: every live file
    * carries the z spec after the CALL and STILL does after a later
    * INSERT (the declared layout rides the log), and the box query's
    * pruned file set is a strict subset. The served aggregate pins
    * correctness against the oracle — skipping is an optimization above
    * a residual filter, never a correctness dependency. */
  private val tl28ZOrder: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t28",
      "SELECT id, id % 251 AS gx, (id * 7) % 241 AS gy, price FROM t28_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t28").toString
    val row = spark.sql(
      "CALL graft.system.zorder(`table` => 'dml.t28', x => 'gx', y => 'gy', buckets => 8)").head()
    require(row.getInt(1) == 8, s"zorder must land 8 files, got ${row.getInt(1)}")
    val specs = CommitLog.fileStatsColumns(tdir)
    require(CommitLog.snapshotFiles(tdir).forall(specs.get(_).contains("z(gx,gy)")),
      s"every z-ordered file must record a z(gx,gy) range, got $specs")
    // a later INSERT honors the declared z layout (zone ranges recorded)
    spark.sql(s"INSERT INTO $t SELECT id, id % 251, (id * 7) % 241, price FROM t28_b2")
    require(CommitLog.snapshotFiles(tdir).forall(f =>
        CommitLog.fileStatsColumns(tdir).get(f).contains("z(gx,gy)")),
      "post-zorder INSERTs must keep recording zkey ranges")
    // the 2-D box prunes files (strict subset — the feature is live)
    val all = CommitLog.snapshotFiles(tdir)
    val pruned = graft.sources.GraftLogDataSource.prunedFileNames(tdir,
      CommitLog.currentVersion(tdir), Seq(
        org.apache.spark.sql.sources.GreaterThanOrEqual("gx", 10L),
        org.apache.spark.sql.sources.LessThanOrEqual("gx", 40L),
        org.apache.spark.sql.sources.GreaterThanOrEqual("gy", 50L),
        org.apache.spark.sql.sources.LessThanOrEqual("gy", 90L)))
    require(pruned.size < all.size,
      s"the box query must skip files: ${pruned.size} of ${all.size} read")
    spark.sql(
      s"""SELECT count(*) AS n_rows, CAST(sum(gx * gy) AS BIGINT) AS xy_sum,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t WHERE gx BETWEEN 10 AND 40 AND gy BETWEEN 50 AND 90""".stripMargin)
  }

  private val tl28ZOrderSql =
    s"""WITH $batchesSql,
       |grid AS (
       |  SELECT id % 251 AS gx, (id * 7) % 241 AS gy, price FROM b1
       |  UNION ALL SELECT id % 251, (id * 7) % 241, price FROM b2)
       |SELECT count(*) AS n_rows, CAST(sum(gx * gy) AS BIGINT) AS xy_sum,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM grid WHERE gx BETWEEN 10 AND 40 AND gy BETWEEN 50 AND 90""".stripMargin

  /** tl34: THREE-dimensional Z-ORDER — `CALL graft.system.zorder(...,
    * z => 'gz')` clusters on the 3-way Morton interleave
    * ([[graft.functions.ZOrder.mortonN]]) and a 3-D box predicate prunes
    * through the n-dimensional Tropf–Herzog decomposition
    * ([[graft.functions.ZOrder.zRangesForBoxN]]). REQUIREd: every file
    * records the `z(gx,gy,gz)` range, the 3-D box reads a strict subset,
    * a FOURTH dimension is refused loudly (at 16 bits/coord it would
    * need the zkey's sign bit — spec-pinned message), and the served
    * box aggregate hash-matches the oracle. */
  private val tl34ZOrder3d: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t34",
      "SELECT id, id % 251 AS gx, (id * 7) % 241 AS gy, (id * 13) % 239 AS gz, " +
        "price FROM t34_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t34").toString
    val row = spark.sql(
      "CALL graft.system.zorder(`table` => 'dml.t34', x => 'gx', y => 'gy', " +
        "z => 'gz', buckets => 8)").head()
    require(row.getInt(1) == 8, s"tl34: zorder must land 8 files, got ${row.getInt(1)}")
    require(CommitLog.snapshotFiles(tdir).forall(f =>
        CommitLog.fileStatsColumns(tdir).get(f).contains("z(gx,gy,gz)")),
      "tl34: every file must record a z(gx,gy,gz) zkey range")
    // a later INSERT honors the declared 3-D layout
    spark.sql(s"INSERT INTO $t SELECT id, id % 251, (id * 7) % 241, " +
      "(id * 13) % 239, price FROM t34_b2")
    require(CommitLog.snapshotFiles(tdir).forall(f =>
        CommitLog.fileStatsColumns(tdir).get(f).contains("z(gx,gy,gz)")),
      "tl34: post-zorder INSERTs must keep recording 3-D zkey ranges")
    val all = CommitLog.snapshotFiles(tdir)
    val pruned = graft.sources.GraftLogDataSource.prunedFileNames(tdir,
      CommitLog.currentVersion(tdir), Seq(
        org.apache.spark.sql.sources.GreaterThanOrEqual("gx", 10L),
        org.apache.spark.sql.sources.LessThanOrEqual("gx", 60L),
        org.apache.spark.sql.sources.GreaterThanOrEqual("gy", 40L),
        org.apache.spark.sql.sources.LessThanOrEqual("gy", 110L),
        org.apache.spark.sql.sources.GreaterThanOrEqual("gz", 20L),
        org.apache.spark.sql.sources.LessThanOrEqual("gz", 100L)))
    require(pruned.size < all.size,
      s"tl34: the 3-D box must skip files: ${pruned.size} of ${all.size} read")
    // a 4th dimension is refused loudly, with the documented reason
    val refused = try {
      CommitLog.compactZOrdered(spark, tdir, Seq("gx", "gy", "gz", "id"), 8); None
    } catch { case e: Exception => Some(e.getMessage) }
    require(refused.exists(_.contains("2 or 3")),
      s"tl34: a 4-column z-order must refuse loudly, got $refused")
    spark.sql(
      s"""SELECT count(*) AS n_rows, CAST(sum(gx * gy * gz) AS BIGINT) AS xyz_sum,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t WHERE gx BETWEEN 10 AND 60 AND gy BETWEEN 40 AND 110
         |  AND gz BETWEEN 20 AND 100""".stripMargin)
  }

  private val tl34ZOrder3dSql =
    s"""WITH $batchesSql,
       |grid AS (
       |  SELECT id % 251 AS gx, (id * 7) % 241 AS gy, (id * 13) % 239 AS gz,
       |    price FROM b1
       |  UNION ALL SELECT id % 251, (id * 7) % 241, (id * 13) % 239, price FROM b2)
       |SELECT count(*) AS n_rows, CAST(sum(gx * gy * gz) AS BIGINT) AS xyz_sum,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM grid WHERE gx BETWEEN 10 AND 60 AND gy BETWEEN 40 AND 110
       |  AND gz BETWEEN 20 AND 100""".stripMargin

  /** tl35: metadata-only DELETE on a PLAIN-APPEND table — round 11's
    * proof required a NAMED clustering zone, so unclustered tables always
    * paid the copy-on-write rewrite; the proof now reads the same
    * fileStatsOn surface as skipping (named zones + footer multi-stats),
    * so a range DELETE aligned with append slices is ONE log commit, zero
    * data IO. REQUIREd: untouched files survive BY NAME, the delete
    * commit ADDS nothing (pure removes — the metadata path, not a
    * rewrite), and the served result hash-matches the oracle. */
  private val tl35MetadataDelete: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"))
    Files.createDirectories(root)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", root.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    spark.sql("DROP TABLE IF EXISTS graft.dml.t35")
    spark.sql("CREATE TABLE graft.dml.t35 (id BIGINT, price DOUBLE)")
    val tdir = Paths.get(root.toString, "dml", "t35").toString
    Tables.orders(spark, dir).createOrReplaceTempView("orders_t35")
    val maxKey = Tables.orders(spark, dir).agg(max("o_orderkey")).head().getLong(0)
    // four PLAIN range-sliced inserts (no clustering declared anywhere)
    for (q <- 0 until 4) {
      val (lo, hi) = (q * (maxKey / 4) + 1, if (q == 3) maxKey else (q + 1) * (maxKey / 4))
      spark.sql(s"INSERT INTO graft.dml.t35 SELECT o_orderkey, round(o_totalprice, 2) " +
        s"FROM orders_t35 WHERE o_orderkey BETWEEN $lo AND $hi")
    }
    require(CommitLog.fileStats(tdir).isEmpty && CommitLog.declaredClustering(tdir).isEmpty,
      "tl35: the table must carry NO named zones — the proof must come " +
        "from the footer multi-stats alone")
    val before = CommitLog.snapshotFiles(tdir).toSet
    val bound = maxKey / 4 // exactly the first slice's range
    spark.sql(s"DELETE FROM graft.dml.t35 WHERE id <= $bound")
    val after = CommitLog.snapshotFiles(tdir).toSet
    require(after.subsetOf(before),
      s"tl35: a metadata DELETE must drop files BY NAME, never rewrite: " +
        s"new files ${after.diff(before)}")
    val deleteCommit = CommitLog.readCommit(tdir, CommitLog.currentVersion(tdir))
    require(deleteCommit.op == "delete" && deleteCommit.add.isEmpty &&
        deleteCommit.remove.nonEmpty,
      s"tl35: the delete must be pure removes, got op=${deleteCommit.op} " +
        s"adds=${deleteCommit.add.size} removes=${deleteCommit.remove.size}")
    spark.sql(
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM graft.dml.t35""".stripMargin)
      .withColumn("metadata_only", lit(deleteCommit.add.isEmpty))
  }

  private val tl35MetadataDeleteSql =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  TRUE AS metadata_only
      |FROM orders
      |WHERE o_orderkey > (SELECT max(o_orderkey) // 4 FROM orders)""".stripMargin

  /** tl29: `CALL graft.system.ingest` — idempotent COPY INTO from SQL
    * ([[CommitLog.dedupAppend]] behind a procedure): only key-unseen rows
    * land, a replayed source is a commit-less NO-OP (REQUIREd: empty
    * result AND no version advance), and the duplicate check runs
    * against the zone-pruned key index. The final state is b1 plus only
    * the b5 rows whose keys b1 didn't already hold. */
  private val tl29SqlIngest: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"))
    Files.createDirectories(root)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", root.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    spark.sql("DROP TABLE IF EXISTS graft.dml.t29")
    spark.sql("CREATE TABLE graft.dml.t29 (id BIGINT, status STRING, price DOUBLE, batch INT)")
    val src = Paths.get(Sinks.scratchDir("commitlog_ingest_src"))
    Sinks.deleteTree(src)
    batch1(spark, dir).write.mode("overwrite").parquet(s"$src/b1")
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey").cast("long").as("id"),
        lit("fifth").as("status"),
        round(col("o_totalprice").cast("double"), 2).as("price"),
        lit(5).as("batch"))
      .write.mode("overwrite").parquet(s"$src/b5")
    def ingest(path: String): Array[Row] = spark.sql(
      s"CALL graft.system.ingest(`table` => 'dml.t29', source => '$path', " +
        "`keys` => 'id')").collect()
    require(ingest(s"$src/b1").length == 1, "tl29: first batch must land")
    require(ingest(s"$src/b5").length == 1, "tl29: new b5 keys must land")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t29").toString
    val tip = CommitLog.currentVersion(tdir)
    require(ingest(s"$src/b5").isEmpty,
      "tl29: a replayed batch must be a commit-less no-op")
    require(CommitLog.currentVersion(tdir) == tip,
      "tl29: the replay must not advance the log")
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM graft.dml.t29 GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl29SqlIngestSql =
    s"""WITH $batchesSql,
       |b5 AS (
       |  SELECT o_orderkey AS id, 'fifth' AS status,
       |    round(o_totalprice, 2) AS price, 5 AS batch
       |  FROM orders WHERE o_orderkey % 5 = 0)
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT * FROM b1
       |      UNION ALL SELECT * FROM b5 WHERE id NOT IN (SELECT id FROM b1))
       |GROUP BY batch ORDER BY batch""".stripMargin

  /** tl30: multi-column footer stats — PLAIN appends (no clustering
    * declared, REQUIREd) record per-column [lo, hi] harvested from the
    * parquet footers their add actions already open, so a range filter on
    * ANY integral column prunes files immediately (REQUIREd: a
    * first-eighth key query reads a strict subset of a table built from
    * four range-sliced plain appends). This is what makes data skipping a
    * property of EVERY table, not only the explicitly clustered ones —
    * the Delta stats-per-add design in the log's compact vocabulary. */
  private val tl30AppendSkipping: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_mstats"))
    Sinks.deleteTree(root)
    val t = root.toString
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey").cast("long").as("id"),
        round(col("o_totalprice").cast("double"), 2).as("price"))
    val maxKey = orders.agg(max("id")).head().getLong(0)
    // four PLAIN appends, one per key quartile (an ingest arriving in
    // rough key order — the common tracker shape)
    for (q <- 0 until 4) {
      val (lo, hi) = (q * (maxKey / 4) + 1, if (q == 3) maxKey else (q + 1) * (maxKey / 4))
      CommitLog.append(orders.filter(col("id").between(lo, hi)), t)
    }
    require(CommitLog.fileStats(t).isEmpty && CommitLog.declaredClustering(t).isEmpty,
      "tl30: the table must carry NO declared clustering — the skip must " +
        "come from the footer multi-stats alone")
    val bound = maxKey / 8
    val all = CommitLog.snapshotFiles(t)
    val pruned = graft.sources.GraftLogDataSource.prunedFileNames(t,
      CommitLog.currentVersion(t), Seq(
        org.apache.spark.sql.sources.GreaterThanOrEqual("id", 1L),
        org.apache.spark.sql.sources.LessThanOrEqual("id", bound)))
    require(pruned.nonEmpty && pruned.size < all.size,
      s"tl30: plain-append multi-stats must skip files, read ${pruned.size}/${all.size}")
    spark.read.format("graftlog").load(t)
      .filter(col("id").between(1L, bound))
      .agg(count(lit(1)).as("n_rows"),
        expr("CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("sum_price"))
      .withColumn("skipped", lit(all.size > pruned.size))
  }

  private val tl30AppendSkippingSql =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  TRUE AS skipped
      |FROM orders
      |WHERE o_orderkey BETWEEN 1 AND (SELECT max(o_orderkey) // 8 FROM orders)""".stripMargin

  /** tl31: TYPED footer stats — the round-11 mstats vocabulary excluded
    * every annotated int (dates, timestamps, decimals) and all strings,
    * so the commonest real-world prune (a time-range query over a
    * plain-append event table) read every file. Now each add records
    * UNIT-FAITHFUL ranges: timestamps as epoch micros, dates as epoch
    * days (the exact parquet physical units — no mismatch with filter
    * literals is possible), strings as truncated UTF-8 byte bounds.
    * The gate builds a plain-append table in arrival (time) order and
    * REQUIREs that a timestamp range, a date range, AND a string match
    * each read a strict subset of the live files — then hash-checks the
    * timestamp-range aggregate against the oracle. */
  private val tl31TypedSkipping: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_tstats"))
    Sinks.deleteTree(root)
    val t = root.toString
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey").cast("long").as("id"),
      col("o_orderdate").cast("timestamp").as("ts"),
      to_date(col("o_orderdate")).as("d"),
      date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
      round(col("o_totalprice").cast("double"), 2).as("price"))
    val mm = orders.agg(
      min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts")))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    // four PLAIN appends, one per time quartile — an event table
    // ingesting in arrival order (half-open slices, last one closed)
    val span = hi - lo + 1
    for (q <- 0 until 4) {
      val (qlo, qhi) = (lo + q * (span / 4), if (q == 3) hi + 1 else lo + (q + 1) * (span / 4))
      CommitLog.append(orders.filter(
        unix_timestamp(col("ts")) >= qlo && unix_timestamp(col("ts")) < qhi), t)
    }
    require(CommitLog.fileStats(t).isEmpty && CommitLog.declaredClustering(t).isEmpty,
      "tl31: the table must carry NO declared clustering — the skip must " +
        "come from the typed footer stats alone")
    require(CommitLog.typedStatsOn(t, "ts").values.forall(_.kind == 't') &&
        CommitLog.typedStatsOn(t, "ts").nonEmpty,
      "tl31: every add must record the timestamp column as kind 't' (epoch micros)")
    require(CommitLog.typedStatsOn(t, "d").values.forall(_.kind == 'd') &&
        CommitLog.typedStatsOn(t, "d").nonEmpty,
      "tl31: every add must record the date column as kind 'd' (epoch days)")
    require(CommitLog.stringStatsOn(t, "mon").nonEmpty,
      "tl31: every add must record string byte bounds for mon")
    val all = CommitLog.snapshotFiles(t)
    val v = CommitLog.currentVersion(t)
    val boundSec = lo + span / 8 // first eighth of the time range
    val boundTs = new java.sql.Timestamp(boundSec * 1000L)
    def prunedWith(f: org.apache.spark.sql.sources.Filter): Seq[String] =
      graft.sources.GraftLogDataSource.prunedFileNames(t, v, Seq(f))
    val tsPruned = prunedWith(org.apache.spark.sql.sources.LessThan("ts", boundTs))
    require(tsPruned.nonEmpty && tsPruned.size < all.size,
      s"tl31: a timestamp range must skip files, read ${tsPruned.size}/${all.size}")
    val dPruned = prunedWith(org.apache.spark.sql.sources.LessThanOrEqual("d",
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
        java.time.Instant.ofEpochSecond(boundSec).atOffset(java.time.ZoneOffset.UTC)
          .toLocalDate.toEpochDay))))
    require(dPruned.nonEmpty && dPruned.size < all.size,
      s"tl31: a date range must skip files, read ${dPruned.size}/${all.size}")
    val minMon = java.time.Instant.ofEpochSecond(lo).atOffset(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM"))
    val monPruned = prunedWith(org.apache.spark.sql.sources.EqualTo("mon", minMon))
    require(monPruned.nonEmpty && monPruned.size < all.size,
      s"tl31: a string equality must skip files, read ${monPruned.size}/${all.size}")
    spark.read.format("graftlog").load(t)
      .filter(col("ts") < lit(boundTs))
      .agg(count(lit(1)).as("n_rows"),
        expr("CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("sum_price"))
      .withColumn("ts_skipped", lit(tsPruned.size < all.size))
      .withColumn("d_skipped", lit(dPruned.size < all.size))
      .withColumn("mon_skipped", lit(monPruned.size < all.size))
  }

  private val tl31TypedSkippingSql =
    """WITH b AS (SELECT CAST(min(epoch(o_orderdate)) AS BIGINT) AS lo,
      |  CAST(max(epoch(o_orderdate)) AS BIGINT) AS hi FROM orders)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  TRUE AS ts_skipped, TRUE AS d_skipped, TRUE AS mon_skipped
      |FROM orders, b
      |WHERE CAST(epoch(o_orderdate) AS BIGINT) < b.lo + (b.hi - b.lo + 1) // 8""".stripMargin

  /** tl33: CDF across a DROP COLUMN — round 11 refused any window
    * spanning a drop (a long-running consumer had to restart after every
    * one); now the window splits at the alter and serves era-faithfully
    * ([[CommitLog.changeWindows]]/[[CommitLog.changes]]):
    *   - BATCH: the spanning feed arrives at the WINDOW-END schema (the
    *     dropped column gone), multiset-equal to the per-era halves
    *     (REQUIREd);
    *   - STREAMING: a feed whose schema was pinned BEFORE the drop keeps
    *     the column — real values for pre-drop commits, NULL after
    *     (REQUIREd on a stream that drains, survives the mid-stream
    *     DROP, and drains again from its checkpoint). */
  private val tl33CdfAcrossDrop: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t33", "SELECT * FROM t33_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t33").toString
    val root = Paths.get(Sinks.scratchDir("commitlog_cdfdrop"))
    Sinks.deleteTree(root)
    val dst = root.resolve("dst").toString
    val ckpt = root.resolve("ckpt").toString
    // ONE live query: its schema pins at start (pre-drop, `status`
    // present) and must SURVIVE the mid-stream drop — a restarted query
    // re-pins at the head schema, which is ordinary evolution, not the
    // hard case
    val q = spark.readStream.format("graftlog")
      .option("readChangeFeed", "true").load(tdir)
      .writeStream.format("graftlog")
      .option("checkpointLocation", ckpt)
      .start(dst)
    val halves =
      try {
        q.processAllAvailable()                            // drain pre-drop feed
        val preDropDelivered = spark.read.format("graftlog").load(dst).count()
        spark.sql(s"ALTER TABLE $t DROP COLUMN status")    // the mid-STREAM drop
        spark.sql(s"INSERT INTO $t SELECT id, price, 3 AS batch FROM t33_b2")
        q.processAllAvailable()                            // drain across the drop
        val head = CommitLog.currentVersion(tdir)
        val hs = CommitLog.changeWindows(tdir, -1L, head)
        require(hs.size == 2, s"tl33: the window must split at the drop: $hs")
        val streamed = spark.read.format("graftlog").load(dst)
        require(streamed.columns.contains("status"),
          "tl33: the pre-drop-pinned stream must keep serving the column")
        val postDropRows = streamed.filter(col("_commit_version") > lit(hs.head._2))
        require(postDropRows.count() > 0 &&
            postDropRows.filter(col("status").isNotNull).count() == 0,
          "tl33: post-drop change rows must serve NULL for the dropped column")
        val preRows = streamed.filter(col("_commit_version") <= lit(hs.head._2))
        require(preRows.count() == preDropDelivered &&
            preRows.filter(col("status").isNull).count() == 0,
          "tl33: pre-drop rows must keep their real values across the drop")
        hs
      } finally q.stop()
    // batch feed across the drop: window-end schema, equals per-era halves
    val head = CommitLog.currentVersion(tdir)
    val feed = CommitLog.changes(spark, tdir, -1L, head)
    require(!feed.columns.contains("status"),
      s"tl33: the spanning batch feed must serve the window-end schema, " +
        s"got ${feed.columns.toSeq}")
    val stitched = halves.map { case (s, e) =>
      CommitLog.changes(spark, tdir, s, e)
        .drop("status") // pre-drop era serves it; window-end schema drops it
        .select(feed.columns.map(col(_)): _*)
    }.reduce(_ unionByName _)
    require(multisetEqual(feed, stitched),
      "tl33: the spanning feed must multiset-equal the per-era halves")
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl33CdfAcrossDropSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM (SELECT id, price, 1 AS batch FROM b1
       |      UNION ALL SELECT id, price, 3 AS batch FROM b2)
       |GROUP BY batch ORDER BY batch""".stripMargin

  /** tl32: per-file key BLOOM filters for hash-keyed ingest dedup — the
    * round-11 honest gap: a UNIFORM content-hash key's batch range spans
    * every file, so zone pruning keeps everything and `dedupAppend` read
    * the whole key column per ingest. With [[CommitLog.declareBloom]],
    * every add records an m-bit bloom of its key column, and the
    * duplicate check first drops files whose bloom excludes every batch
    * key — REQUIREd: a fresh micro-batch consults (almost) no files while
    * zone stats on the key are provably absent, and replaying an already-
    * ingested batch is still a NO-OP (no false negatives end-to-end). */
  private val tl32BloomIngest: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_bloom"))
    Sinks.deleteTree(root)
    val t = root.toString
    CommitLog.declareBloom(spark, t, "key")
    val keyed = Tables.orders(spark, dir).select(
      md5(col("o_orderkey").cast("string")).as("key"), // uniform: the content-hash shape
      round(col("o_totalprice").cast("double"), 2).as("price"),
      (col("o_orderkey") % 4).cast("int").as("batch"))
    for (q <- 0 until 4)
      require(CommitLog.dedupAppend(spark, keyed.filter(col("batch") === q), t,
        Seq("key")).nonEmpty, s"tl32: batch $q must land")
    val all = CommitLog.snapshotFiles(t)
    val head = CommitLog.currentVersion(t)
    require(CommitLog.fileBlooms(t).keySet == all.toSet,
      "tl32: every add on the bloom-declared table must record a bloom")
    require(CommitLog.fileStatsOn(t, "key").isEmpty,
      "tl32: a uniform hash key must carry NO integral zone stats — only " +
        "the bloom can prune here")
    // a fresh 300-key micro-batch: the duplicate check consults almost
    // no files (expected extra reads ≈ batch × 7e-5 per file)
    val fresh = Tables.orders(spark, dir).limit(300).select(
      md5(concat(lit("fresh_"), col("o_orderkey").cast("string"))).as("key"),
      round(col("o_totalprice").cast("double"), 2).as("price"),
      lit(9).as("batch"))
    val cands = CommitLog.ingestCandidates(spark, t, head, fresh, Seq("key"), all)
    require(cands.size <= math.max(1, all.size / 4),
      s"tl32: a fresh batch must bloom-prune the check, kept ${cands.size}/${all.size}")
    // no false negatives end-to-end: replaying batch 2 is a no-op, and
    // its check consulted only the files its keys live in (plus FPs)
    val replay = keyed.filter(col("batch") === 2)
    require(CommitLog.dedupAppend(spark, replay, t, Seq("key")).isEmpty,
      "tl32: replaying an ingested batch must be a NO-OP")
    spark.read.format("graftlog").load(t)
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_rows"),
        expr("CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)").as("sum_price"))
      .withColumn("bloom_pruned", lit(cands.size <= math.max(1, all.size / 4)))
      .orderBy("batch")
  }

  private val tl32BloomIngestSql =
    """SELECT CAST(o_orderkey % 4 AS INT) AS batch, count(*) AS n_rows,
      |  CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  TRUE AS bloom_pruned
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** tl24: the change feed's SQL surface — `USING graftlog OPTIONS
    * (readChangeFeed 'true')` serves the same derived relation tl23
    * reaches through the Scala API, queryable like any view (the final
    * SELECT filters and re-orders it in SQL). Same oracle shape. */
  private val tl24CdfSql: Q = (spark, dir) => {
    val table = buildTable(spark, dir)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW tl24_cdf
         |USING graftlog OPTIONS (path '$table', readChangeFeed 'true')""".stripMargin)
    spark.sql(
      """SELECT CAST(_commit_version AS INT) AS commit_version,
        |  _change_type AS change_type, id, status, price, batch
        |FROM tl24_cdf
        |ORDER BY commit_version, change_type, id""".stripMargin)
  }

  private val tl24CdfSqlSql =
    s"""WITH $batchesSql
       |SELECT 0 AS commit_version, 'insert' AS change_type,
       |  id, status, price, batch FROM b1
       |UNION ALL
       |SELECT 1, 'insert', id, status, price, batch FROM b2
       |UNION ALL
       |SELECT 1, 'delete', id, status, price, batch FROM b1 WHERE id % 6 = 0
       |ORDER BY commit_version, change_type, id""".stripMargin

  /** tl25: the STREAMING change data feed —
    * `readStream.option("readChangeFeed", true)` follows the log and emits
    * each commit's row-level changes (`_change_type`/`_commit_version`)
    * per micro-batch. The gate runs DML while the stream is LIVE: drain
    * the initial two commits, upsert a third batch mid-stream, drain
    * again, and REQUIRE the second drain delivered exactly the new
    * commit's changes (incremental, not a re-scan). The accumulated feed,
    * landed exactly-once in a downstream graftlog table, must multiset-
    * equal the batch `changes()` twin over the full window — the
    * stream-the-CDF-into-a-derived-table pattern, gate-verified. */
  private val tl25CdfStream: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_cdfstream"))
    Sinks.deleteTree(root)
    val src = root.resolve("src").toString
    val dst = root.resolve("dst").toString
    val ckpt = root.resolve("ckpt").toString
    CommitLog.append(batch1(spark, dir), src)                  // v0: inserts
    CommitLog.upsert(spark, batch2(spark, dir), src, Seq("id")) // v1: rewrite
    val batch3 = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 9 === 0)
      .select(col("o_orderkey").cast("long").as("id"),
        lit("audited").as("status"),
        round(col("o_totalprice").cast("double"), 2).as("price"),
        lit(3).as("batch"))
    val q = spark.readStream.format("graftlog")
      .option("readChangeFeed", "true").load(src)
      .writeStream.format("graftlog")
      .option("checkpointLocation", ckpt)
      .start(dst)
    try {
      q.processAllAvailable()                                  // drain v0..v1
      val afterFirst = spark.read.format("graftlog").load(dst).count()
      val expectFirst = CommitLog.changes(spark, src, -1L, 1L).count()
      require(afterFirst == expectFirst,
        s"tl25: first drain must deliver the v0..v1 feed, got $afterFirst vs $expectFirst")
      CommitLog.upsert(spark, batch3, src, Seq("id"))          // v2, mid-stream
      q.processAllAvailable()                                  // drain v2 only
      val afterSecond = spark.read.format("graftlog").load(dst).count()
      val expectDelta = CommitLog.changes(spark, src, 1L, 2L).count()
      require(afterSecond - afterFirst == expectDelta,
        s"tl25: mid-stream DML must arrive incrementally, got ${afterSecond - afterFirst} vs $expectDelta")
    } finally q.stop()
    val streamed = spark.read.format("graftlog").load(dst)
    val twin = CommitLog.changes(spark, src, -1L, CommitLog.currentVersion(src))
      .select(streamed.columns.map(col(_)): _*)
    require(multisetEqual(streamed, twin),
      "tl25: accumulated stream feed must multiset-equal the batch changes() twin")
    streamed
      .select(col("_commit_version").cast("int").as("commit_version"),
        col("_change_type").as("change_type"),
        col("id"), col("status"), col("price"), col("batch"))
      .orderBy("commit_version", "change_type", "id")
  }

  private val tl25CdfStreamSql =
    s"""WITH $batchesSql,
       |b3 AS (
       |  SELECT o_orderkey AS id, 'audited' AS status,
       |    round(o_totalprice, 2) AS price, 3 AS batch
       |  FROM orders WHERE o_orderkey % 9 = 0)
       |SELECT 0 AS commit_version, 'insert' AS change_type,
       |  id, status, price, batch FROM b1
       |UNION ALL
       |SELECT 1, 'insert', id, status, price, batch FROM b2
       |UNION ALL
       |SELECT 1, 'delete', id, status, price, batch FROM b1 WHERE id % 6 = 0
       |UNION ALL
       |SELECT 2, 'insert', id, status, price, batch FROM b3
       |UNION ALL
       |SELECT 2, 'delete', id, status, price, batch FROM merged WHERE id % 9 = 0
       |ORDER BY commit_version, change_type, id""".stripMargin

  /** tl25b: identifier-surface CDF STREAMING — the `.changes` metadata
    * table (`spark.readStream.table("graft.ns.t.changes")`, the
    * Iceberg-metadata-table shape): the relation's V1 fallback table plans
    * the path form's change-feed source, which serves each offset window's
    * [[CommitLog.changes]] as the batch's DataFrame. Same protocol as
    * tl25's path form: drain, run DML mid-stream (REQUIREd incremental),
    * drain, and the accumulated feed must multiset-equal the batch
    * `changes()` twin — plus the BATCH identifier surface (`spark.read
    * .table(".changes")`) must serve the same full window. */
  private val tl25bCdfIdentStream: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t25b", "SELECT * FROM t25b_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t25b").toString
    val root = Paths.get(Sinks.scratchDir("commitlog_cdfident"))
    Sinks.deleteTree(root)
    val dst = root.resolve("dst").toString
    val ckpt = root.resolve("ckpt").toString
    val q = spark.readStream.table(s"$t.changes")
      .writeStream.format("graftlog")
      .option("checkpointLocation", ckpt)
      .start(dst)
    try {
      q.processAllAvailable()                                   // drain create+CTAS
      val afterFirst = spark.read.format("graftlog").load(dst).count()
      val head0 = CommitLog.currentVersion(tdir)
      val expectFirst = CommitLog.changes(spark, tdir, -1L, head0).count()
      require(afterFirst == expectFirst,
        s"tl25b: first drain must deliver the full feed, got $afterFirst vs $expectFirst")
      CommitLog.upsert(spark, batch2(spark, dir), tdir, Seq("id")) // mid-stream rewrite
      q.processAllAvailable()
      val afterSecond = spark.read.format("graftlog").load(dst).count()
      val expectDelta = CommitLog.changes(spark, tdir, head0,
        CommitLog.currentVersion(tdir)).count()
      require(afterSecond - afterFirst == expectDelta,
        s"tl25b: mid-stream DML must arrive incrementally, got " +
          s"${afterSecond - afterFirst} vs $expectDelta")
    } finally q.stop()
    val streamed = spark.read.format("graftlog").load(dst)
    val twin = CommitLog.changes(spark, tdir, -1L, CommitLog.currentVersion(tdir))
      .select(streamed.columns.map(col(_)): _*)
    require(multisetEqual(streamed, twin),
      "tl25b: accumulated stream feed must multiset-equal the batch changes() twin")
    // the BATCH identifier surface serves the same full window
    val batchIdent = spark.read.table(s"$t.changes")
      .select(streamed.columns.map(col(_)): _*)
    require(multisetEqual(batchIdent, twin),
      "tl25b: spark.read.table(.changes) must equal the batch changes() twin")
    streamed
      .select(col("_change_type").as("change_type"),
        col("id"), col("status"), col("price"), col("batch"))
      .orderBy("change_type", "id", "batch")
  }

  private val tl25bCdfIdentStreamSql =
    s"""WITH $batchesSql
       |SELECT 'insert' AS change_type, id, status, price, batch FROM b1
       |UNION ALL
       |SELECT 'insert', id, status, price, batch FROM b2
       |UNION ALL
       |SELECT 'delete', id, status, price, batch FROM b1 WHERE id % 6 = 0
       |ORDER BY change_type, id, batch""".stripMargin

  /** tl26: INCREMENTAL VIEW MAINTENANCE from the change data feed — the
    * pattern the CDF exists for, taken to its conclusion: a derived
    * AGGREGATE table (rows + exact money sum per batch) is maintained by
    * streaming the CDF and applying each micro-batch as a RETRACTABLE
    * delta (insert rows add, delete rows subtract — an UPDATE's
    * delete+insert pair nets to the correction), merged into the derived
    * table with ONE exactly-once txn-marked upsert per micro-batch
    * ([[CommitLog.txnUpsert]]). The gate runs DML mid-stream, REQUIREs a
    * replayed txn is a no-op (the exactly-once layer under foreachBatch's
    * at-least-once contract), and REQUIREs the maintained table
    * multiset-equals a from-scratch recompute of the source snapshot —
    * at 100 TB the maintained form costs per-batch work proportional to
    * the DML moved, while the recompute form costs the whole table. */
  private val tl26CdfMaterialize: Q = (spark, dir) => {
    val root = Paths.get(Sinks.scratchDir("commitlog_ivm"))
    Sinks.deleteTree(root)
    val src = root.resolve("src").toString
    val agg = root.resolve("agg").toString
    val ckpt = root.resolve("ckpt").toString
    CommitLog.append(batch1(spark, dir), src)                   // v0
    CommitLog.upsert(spark, batch2(spark, dir), src, Seq("id")) // v1
    val batch3 = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 9 === 0)
      .select(col("o_orderkey").cast("long").as("id"),
        lit("audited").as("status"),
        round(col("o_totalprice").cast("double"), 2).as("price"),
        lit(3).as("batch"))
    var lastTxn: String = null
    val applyBatch: (org.apache.spark.sql.Dataset[Row], Long) => Unit = (df, batchId) => {
      // retractable per-key delta: inserts add, deletes subtract; exact
      // DECIMAL money so retraction is bit-exact
      // additions are inserts AND update postimages; retractions are
      // deletes AND update preimages (the Delta change-type vocabulary —
      // an update nets to its correction exactly like a delete+insert)
      val adds = col("_change_type").isin("insert", "update_postimage")
      val delta = df.groupBy("batch").agg(
        sum(when(adds, 1L).otherwise(-1L)).as("d_rows"),
        sum(when(adds, col("price")).otherwise(-col("price"))
          .cast("decimal(18,2)")).as("d_price"))
      val cur =
        if (CommitLog.currentVersion(agg) >= 0) CommitLog.read(spark, agg)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("batch",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("n_rows",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sum_price",
              org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)))))
      val updated = cur.join(delta, Seq("batch"), "full_outer")
        .select(col("batch"),
          (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_rows"), lit(0L))).as("n_rows"),
          (coalesce(col("sum_price"), lit(0).cast("decimal(18,2)")) +
            coalesce(col("d_price"), lit(0).cast("decimal(18,2)")))
            .cast("decimal(18,2)").as("sum_price"))
        .filter(col("n_rows") > 0) // a fully-retracted group disappears
      lastTxn = s"tl26#$batchId"
      CommitLog.txnUpsert(spark, updated, agg, Seq("batch"), lastTxn)
      ()
    }
    val q = spark.readStream.format("graftlog")
      .option("readChangeFeed", "true").load(src)
      .writeStream.foreachBatch(applyBatch)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()                                   // drain v0..v1
      CommitLog.upsert(spark, batch3, src, Seq("id"))           // v2, mid-stream
      q.processAllAvailable()                                   // drain v2
    } finally q.stop()
    // the exactly-once layer: replaying an applied txn must be a no-op
    val vBefore = CommitLog.currentVersion(agg)
    require(lastTxn != null &&
        CommitLog.txnUpsert(spark,
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            CommitLog.read(spark, agg).schema), agg, Seq("batch"), lastTxn).isEmpty &&
        CommitLog.currentVersion(agg) == vBefore,
      "tl26: a replayed txn must not re-apply or advance the derived table")
    // the maintained table must equal a from-scratch recompute
    val maintained = CommitLog.read(spark, agg)
    val scratch = CommitLog.read(spark, src).groupBy("batch")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price").cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_price"))
    require(multisetEqual(maintained, scratch),
      "tl26: incrementally maintained state must equal the from-scratch recompute")
    maintained
      .select(col("batch"), col("n_rows"),
        col("sum_price").cast("double").as("sum_price"))
      .orderBy("batch")
  }

  private val tl26CdfMaterializeSql =
    s"""WITH $batchesSql,
       |b3 AS (
       |  SELECT o_orderkey AS id, 'audited' AS status,
       |    round(o_totalprice, 2) AS price, 3 AS batch
       |  FROM orders WHERE o_orderkey % 9 = 0),
       |final AS (
       |  SELECT * FROM merged WHERE id NOT IN (SELECT id FROM b3)
       |  UNION ALL SELECT * FROM b3)
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM final GROUP BY batch ORDER BY batch""".stripMargin

  /** tl36: merge-on-read DELETE (deletion vectors — the public Delta
    * deletion-vector / Iceberg position-delete design). The table opts in
    * (`CALL graft.system.enable_dv`); a SQL DELETE whose predicate is NOT
    * file-aligned (so the metadata-only proof declines) then lands as ONE
    * commit of per-file deletion-vector sidecars: zero data files added,
    * removed, or rewritten — at 100 TB, deleting a sparse row set costs
    * ∝ rows deleted, not ∝ rows kept. The gate REQUIREs the commit shape
    * (dv actions only, file list unchanged), the read path (SQL aggregate
    * over the vectored table == the same aggregate after `compact`
    * materializes the vectors), metadata `count(*)` staying exact,
    * time travel to the pre-delete snapshot, the CDF window emitting
    * exactly the suppressed rows as deletes, SQL UPDATE auto-routing
    * through merge-on-read on the vectored table (round 13 — tl42 pins
    * the full statement shape), and vacuum reclaiming spent sidecars. */
  private val tl36DvDelete: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t36",
      "SELECT * FROM t36_b1 UNION ALL SELECT * FROM t36_b2")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t36").toString
    spark.sql("CALL graft.system.enable_dv(`table` => 'dml.t36')")
    val before = CommitLog.snapshotFiles(tdir)
    val preCnt = spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0)
    val vPre = CommitLog.currentVersion(tdir)
    spark.sql(
      s"DELETE FROM $t WHERE status = 'pending_review' AND price < 50000.0")
    val vDel = CommitLog.currentVersion(tdir)
    require(vDel == vPre + 1, s"tl36: the DELETE must land one commit, tip $vPre -> $vDel")
    val c = CommitLog.readCommit(tdir, vDel)
    require(c.op == "delete" && c.add.isEmpty && c.remove.isEmpty && c.dv.nonEmpty,
      s"tl36: the DELETE must land as deletion vectors only — got op=${c.op}, " +
        s"${c.add.size} adds, ${c.remove.size} removes, ${c.dv.size} dv actions")
    require(CommitLog.snapshotFiles(tdir) == before,
      "tl36: a merge-on-read delete must not move a single data file")
    val suppressed = CommitLog.dvRowCount(tdir)
    require(suppressed > 0, "tl36: the predicate matches rows at every SF")
    // metadata count(*) stays EXACT on a vectored table (vector counts
    // are exact); time travel serves the pre-delete snapshot
    require(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) ==
      preCnt - suppressed, "tl36: count(*) must subtract suppressed rows")
    require(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF $vPre")
      .head().getLong(0) == preCnt, "tl36: pre-delete snapshot must still serve")
    // the CDF window over the dv commit: exactly the suppressed rows, as
    // deletes, nothing else (ONE window computation, audited in memory)
    val cdfRows = CommitLog.changes(spark, tdir, vPre, vDel)
      .select(col("status"), col("price"), col("_change_type")).collect()
    require(cdfRows.forall(_.getString(2) == "delete"),
      "tl36: a dv commit must emit deletes only")
    require(cdfRows.length.toLong == suppressed,
      "tl36: the CDF must emit one delete per suppressed row")
    require(cdfRows.count(r =>
        r.getString(0) == "pending_review" && r.getDouble(1) < 50000.0)
      .toLong == suppressed, "tl36: every emitted delete matches the predicate")
    // round 13: UPDATE on a vectored table AUTO-ROUTES through
    // merge-on-read (the delta-based row-level operation — tl42 pins the
    // full statement shape): one vector+adds commit, zero files removed,
    // no refusal and no resurrection
    val vU0 = CommitLog.currentVersion(tdir)
    spark.sql(s"UPDATE $t SET batch = batch + 100 " +
      "WHERE status = 'pending_review' AND price >= 100000.0")
    val vU = CommitLog.currentVersion(tdir)
    val cu = CommitLog.readCommit(tdir, vU)
    require(vU == vU0 + 1 && cu.op == "update" && cu.remove.isEmpty &&
        cu.dv.nonEmpty && cu.add.nonEmpty,
      s"tl36: UPDATE on a vectored table must auto-route merge-on-read, " +
        s"got op=${cu.op} adds=${cu.add.size} removes=${cu.remove.size} " +
        s"dvs=${cu.dv.size}")
    require(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) ==
      preCnt - suppressed, "tl36: the MoR update must not change the row count")
    // the vectored read (post-delete) and the materialized read (post-
    // compact) must agree bit-for-bit
    val aggSql =
      s"""SELECT status, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY status ORDER BY status""".stripMargin
    val vectored = spark.sql(aggSql).collect().toSeq
    spark.sql("CALL graft.system.compact(`table` => 'dml.t36', target_files => 2)")
    require(CommitLog.dvRowCount(tdir) == 0L,
      "tl36: compact must materialize the vectors away")
    val removed = spark.sql(
      "CALL graft.system.vacuum(`table` => 'dml.t36', retain_hours => 0)")
      .collect().map(_.getString(0))
    require(removed.exists(_.contains(".dv-")),
      "tl36: vacuum must reclaim the spent dv sidecars")
    val leftover = Sinks.listDir(Paths.get(tdir)).exists(_.getFileName.toString.contains(".dv-"))
    require(!leftover, "tl36: no sidecar may survive materialization + vacuum")
    // DML keeps working after materialization (still merge-on-read — the
    // opt-in is a table property, not a per-statement state)
    require(spark.sql(s"UPDATE $t SET batch = batch WHERE price >= 0.0") != null,
      "tl36: DML after materialization must work")
    val materialized = spark.sql(aggSql)
    require(materialized.collect().toSeq == vectored,
      "tl36: the vectored and materialized reads must agree bit-for-bit")
    materialized
  }

  private val tl36DvDeleteSql =
    s"""WITH $batchesSql,
       |u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
       |kept AS (
       |  SELECT * FROM u WHERE NOT (status = 'pending_review' AND price < 50000.0))
       |SELECT status, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM kept GROUP BY status ORDER BY status""".stripMargin

  /** tl37: CHECK constraints enforced on write (the public Delta
    * `ALTER TABLE ... ADD CONSTRAINT` semantics through a CALL
    * procedure). REQUIREs: declaring over violating data refuses; a
    * violating SQL INSERT refuses WHOLE naming the constraint (count
    * unchanged — no partial batch); a valid INSERT lands; the
    * declaration survives a checkpoint roll; `drop_constraint` lifts
    * enforcement. The final aggregate (base data + the one valid insert)
    * hash-matches the oracle. */
  private val tl37Constraints: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t37", "SELECT * FROM t37_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t37").toString
    // declaring over already-violating data must refuse (batch=1 everywhere)
    val preRefused =
      try { spark.sql(
        "CALL graft.system.add_constraint(`table` => 'dml.t37', name => 'neg_batch', expr => 'batch < 0')"); false }
      catch { case e: Throwable =>
        Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(8)
          .exists(x => x.getMessage != null && x.getMessage.contains("already violates")) }
    require(preRefused, "tl37: a constraint the snapshot violates must refuse")
    require(CommitLog.constraintsOf(tdir).isEmpty)
    spark.sql(
      "CALL graft.system.add_constraint(`table` => 'dml.t37', name => 'price_pos', expr => 'price >= 0')")
    require(CommitLog.constraintsOf(tdir) == Map("price_pos" -> "price >= 0"))
    val preCnt = spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0)
    val refused =
      try { spark.sql(
        s"INSERT INTO $t VALUES (999999901, 'manual', -5.0, 7), (999999902, 'manual', 2.0, 7)"); false }
      catch { case e: Throwable =>
        Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(8)
          .exists(x => x.getMessage != null && x.getMessage.contains("price_pos")) }
    require(refused, "tl37: a violating INSERT must refuse, naming the constraint")
    require(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == preCnt,
      "tl37: the refused batch must not land even partially")
    spark.sql(s"INSERT INTO $t VALUES (999999903, 'manual', 42.0, 7)")
    // the declaration survives a checkpoint roll + expiry
    spark.sql("CALL graft.system.checkpoint(`table` => 'dml.t37')")
    require(CommitLog.constraintsOf(tdir) == Map("price_pos" -> "price >= 0"),
      "tl37: constraints must roll into the checkpoint summary")
    val stillRefused =
      try { spark.sql(s"INSERT INTO $t VALUES (999999904, 'manual', -1.0, 7)"); false }
      catch { case e: Throwable =>
        Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(8)
          .exists(x => x.getMessage != null && x.getMessage.contains("price_pos")) }
    require(stillRefused, "tl37: enforcement must survive the checkpoint roll")
    // the executor-direct DML path: an UPDATE that SETs a violating value
    // refuses too (per-row check in the replacement writer), and the
    // failed rewrite leaves the table untouched
    val updRefused =
      try { spark.sql(s"UPDATE $t SET price = -7.0 WHERE id = 999999903"); false }
      catch { case e: Throwable =>
        Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(8)
          .exists(x => x.getMessage != null && x.getMessage.contains("price_pos")) }
    require(updRefused, "tl37: a violating UPDATE must refuse, naming the constraint")
    require(spark.sql(s"SELECT price FROM $t WHERE id = 999999903")
      .head().getDouble(0) == 42.0, "tl37: the refused UPDATE must not land")
    spark.sql(
      "CALL graft.system.drop_constraint(`table` => 'dml.t37', name => 'price_pos')")
    require(CommitLog.constraintsOf(tdir).isEmpty, "tl37: drop lifts the declaration")
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl37ConstraintsSql =
    s"""WITH $batchesSql,
       |t AS (SELECT * FROM b1
       |  UNION ALL SELECT 999999903 AS id, 'manual' AS status, 42.0 AS price, 7 AS batch)
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM t GROUP BY batch ORDER BY batch""".stripMargin

  /** tl38: merge-on-read UPDATE over a vectored table — `CALL
    * graft.system.update_mor` suppresses the matching rows' old images
    * via merged deletion vectors and appends the updated images in ONE
    * 'update' commit (the copy-on-write `UPDATE` refuses on vectored
    * files; this is the path that works WITHOUT materializing first).
    * REQUIREs: one commit, zero removes, every pre-update file still
    * live, CDF window = update_preimage/update_postimage pairs exactly
    * (Delta change-type parity), metadata count balanced, time travel to
    * the pre-update image. Final aggregate hash-matches the oracle's
    * CASE-rewritten data. */
  private val tl38UpdateMor: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t38",
      "SELECT * FROM t38_b1 UNION ALL SELECT * FROM t38_b2")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t38").toString
    spark.sql("CALL graft.system.enable_dv(`table` => 'dml.t38')")
    // a first DELETE lands vectors, so the update must MERGE them
    spark.sql(s"DELETE FROM $t WHERE price < 20000.0")
    val before = CommitLog.snapshotFiles(tdir)
    val vPre = CommitLog.currentVersion(tdir)
    val preCnt = spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0)
    val res = spark.sql(
      "CALL graft.system.update_mor(`table` => 'dml.t38', " +
        "predicate => 'status = ''pending_review'' AND price >= 100000.0', " +
        "assignments => 'status = ''expedited'', batch = batch + 10')").head()
    val vUpd = CommitLog.currentVersion(tdir)
    require(vUpd == vPre + 1 && !res.isNullAt(0) && res.getLong(0) == vUpd,
      s"tl38: the update must land one commit, tip $vPre -> $vUpd, res $res")
    val c = CommitLog.readCommit(tdir, vUpd)
    require(c.op == "update" && c.remove.isEmpty && c.add.nonEmpty && c.dv.nonEmpty,
      s"tl38: update commit must be dv+adds, got op=${c.op} adds=${c.add.size} " +
        s"removes=${c.remove.size} dvs=${c.dv.size}")
    require(before.forall(CommitLog.snapshotFiles(tdir).contains),
      "tl38: no pre-update data file may be removed")
    require(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == preCnt,
      "tl38: an update must not change the row count")
    val updated = res.getLong(1)
    require(updated > 0, "tl38: the predicate matches rows at every SF")
    // CDF: exactly `updated` update_preimage+update_postimage pairs
    // sharing the commit version (Delta change-type parity), nothing else
    // (ONE window computation, audited in memory)
    val cdfRows = CommitLog.changes(spark, tdir, vPre, vUpd)
      .select(col("status"), col("_change_type")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    require(cdfRows.count(_._2 == "update_preimage").toLong == updated &&
        cdfRows.count(_._2 == "update_postimage").toLong == updated,
      "tl38: the CDF must pair one update_preimage with one update_postimage " +
        "per updated row")
    require(cdfRows.forall(_._2.startsWith("update_")),
      "tl38: an UPDATE commit carries update images only")
    require(cdfRows.forall(r => r._2 != "update_postimage" || r._1 == "expedited"),
      "tl38: every postimage carries the new value")
    // time travel below the update serves the OLD images
    require(spark.sql(
        s"SELECT count(*) AS n FROM $t VERSION AS OF $vPre WHERE status = 'expedited'")
      .head().getLong(0) == 0L, "tl38: pre-update snapshot must have no new images")
    spark.sql(
      s"""SELECT status, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY status ORDER BY status""".stripMargin)
  }

  private val tl38UpdateMorSql =
    s"""WITH $batchesSql,
       |u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
       |kept AS (SELECT * FROM u WHERE price >= 20000.0),
       |updated AS (
       |  SELECT id,
       |    CASE WHEN status = 'pending_review' AND price >= 100000.0
       |      THEN 'expedited' ELSE status END AS status,
       |    price, batch
       |  FROM kept)
       |SELECT status, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM updated GROUP BY status ORDER BY status""".stripMargin

  /** tl39: the `.detail` inspection table (Delta's DESCRIBE DETAIL
    * shape) — one metadata-derived row summarizing the live table state.
    * The gate drives the state it summarizes: enable merge-on-read,
    * vector-delete a known subset, declare a constraint — then REQUIREs
    * the summary's row count (vector-subtracted), suppressed-row count,
    * and constraint inventory all hash-match the oracle's from-data
    * derivation. num_files/size_bytes are REQUIREd sane (positive,
    * non-oracle — file counts are layout, not content). */
  private val tl39Detail: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t39", "SELECT * FROM t39_b1")
    spark.sql("CALL graft.system.enable_dv(`table` => 'dml.t39')")
    spark.sql(s"DELETE FROM $t WHERE price < 30000.0")
    spark.sql(
      "CALL graft.system.add_constraint(`table` => 'dml.t39', name => 'price_pos', expr => 'price >= 0')")
    val d = spark.sql("SELECT * FROM graft.dml.t39.detail").head()
    require(d.getAs[Int]("num_files") > 0 && d.getAs[Long]("size_bytes") > 0L,
      "tl39: the summary must report live layout facts")
    require(d.getAs[Boolean]("dv_enabled"), "tl39: dv_enabled must reflect the opt-in")
    require(d.getAs[String]("constraints") == "price_pos: price >= 0",
      s"tl39: constraint inventory wrong: ${d.getAs[String]("constraints")}")
    require(d.getAs[Long]("version") == CommitLog.currentVersion(
      Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t39").toString))
    spark.sql(
      """SELECT num_rows, dv_suppressed_rows, dv_enabled, num_constraints
        |FROM graft.dml.t39.detail""".stripMargin)
  }

  private val tl39DetailSql =
    s"""WITH $batchesSql
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM b1 WHERE price >= 30000.0) AS num_rows,
       |  (SELECT CAST(count(*) AS BIGINT) FROM b1 WHERE price < 30000.0) AS dv_suppressed_rows,
       |  TRUE AS dv_enabled, 1 AS num_constraints""".stripMargin

  /** tl40: merge-on-read MERGE — `CALL graft.system.merge_mor` gives a
    * vectored table the upsert semantic (matched keys replaced, unmatched
    * inserted) without rewriting a single current file: matched images
    * are suppressed via merged deletion vectors, the whole source batch
    * is appended, one commit. REQUIREs: zero removes, every pre-merge
    * file still live, CDF = update_preimage(old image) +
    * update_postimage(source row) per matched key plus plain inserts
    * for new keys (Delta change-type parity), metadata count exact.
    * The final table hash-matches the SAME `merged` oracle the
    * copy-on-write upsert gates use — two physical strategies, one
    * semantic. */
  private val tl40MergeMor: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t40", "SELECT * FROM t40_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t40").toString
    spark.sql("CALL graft.system.enable_dv(`table` => 'dml.t40')")
    val src = Paths.get(Sinks.scratchDir("commitlog_merge_src"))
    Sinks.deleteTree(src)
    batch2(spark, dir).write.mode("overwrite").parquet(s"$src/b2")
    val before = CommitLog.snapshotFiles(tdir)
    val vPre = CommitLog.currentVersion(tdir)
    val b1Cnt = spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0)
    val b2Cnt = batch2(spark, dir).count()
    spark.sql(
      s"CALL graft.system.merge_mor(`table` => 'dml.t40', source => '$src/b2', " +
        "`keys` => 'id')")
    val vM = CommitLog.currentVersion(tdir)
    require(vM == vPre + 1, "tl40: the merge must land one commit")
    val c = CommitLog.readCommit(tdir, vM)
    require(c.op == "merge" && c.remove.isEmpty && c.add.nonEmpty && c.dv.nonEmpty,
      s"tl40: merge commit must be dv+adds, got op=${c.op} removes=${c.remove.size}")
    require(before.forall(CommitLog.snapshotFiles(tdir).contains),
      "tl40: no pre-merge data file may be removed")
    // every b2 key matched a b1 row (b2 = every 6th order ⊂ b1 = every
    // 3rd), so the count is b1 + 0 new keys and the CDF pairs are exact
    require(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == b1Cnt,
      "tl40: b2's keys all match, so the count must not change")
    val cdfTypes = CommitLog.changes(spark, tdir, vPre, vM)
      .select(col("_change_type")).collect().map(_.getString(0))
    require(cdfTypes.count(_ == "update_preimage").toLong == b2Cnt &&
        cdfTypes.count(_ == "update_postimage").toLong == b2Cnt,
      "tl40: one update_preimage + one update_postimage per merged key " +
        "(every b2 key matches — Delta change-type parity)")
    require(!cdfTypes.contains("insert"),
      "tl40: no new key in this source, so no plain insert")
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl40MergeMorSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM merged GROUP BY batch ORDER BY batch""".stripMargin

  /** tl41: RESTORE — `CALL graft.system.restore(t, v)` rolls the table
    * back to a historical snapshot in ONE metadata commit (the Delta
    * `RESTORE TABLE ... TO VERSION AS OF` semantics): superseded files
    * are re-declared with their full recorded stats, zero data bytes
    * move, and history is PRESERVED (the rollback is itself a commit —
    * the rolled-back states still time-travel). The gate damages the
    * table twice (a DELETE and an overwrite-flavored INSERT batch),
    * restores, and REQUIREs: one commit, zero new parquet on disk, the
    * restored aggregate hash-matches the ORIGINAL data's oracle, the
    * pre-restore states still serve, and restoring to the current state
    * is a commit-less no-op. */
  private val tl41Restore: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t41", "SELECT * FROM t41_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t41").toString
    val vGood = CommitLog.currentVersion(tdir)
    spark.sql(s"DELETE FROM $t WHERE id % 2 = 0")
    spark.sql(s"INSERT INTO $t VALUES (999999905, 'stray', 1.0, 9)")
    val vBad = CommitLog.currentVersion(tdir)
    require(vBad > vGood, "tl41: the damage must land commits")
    def parquetCount: Int =
      Sinks.listDir(Paths.get(tdir)).count(_.getFileName.toString.endsWith(".parquet"))
    val diskBefore = parquetCount
    val res = spark.sql(
      s"CALL graft.system.restore(`table` => 'dml.t41', version => $vGood)").head()
    val vR = CommitLog.currentVersion(tdir)
    require(!res.isNullAt(0) && res.getLong(0) == vR && vR == vBad + 1,
      s"tl41: restore must land exactly one commit, got $res at tip $vR")
    require(parquetCount == diskBefore, "tl41: a restore writes no data file")
    // the damage is still time-travelable (history preserved)
    require(spark.sql(
        s"SELECT count(*) AS n FROM $t VERSION AS OF $vBad WHERE status = 'stray'")
      .head().getLong(0) == 1L, "tl41: pre-restore states must still serve")
    // restoring to the state we are already at: a commit-less no-op
    require(spark.sql(
        s"CALL graft.system.restore(`table` => 'dml.t41', version => $vR)")
      .head().isNullAt(0), "tl41: restoring to the current state is a no-op")
    require(CommitLog.currentVersion(tdir) == vR)
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl41RestoreSql =
    s"""WITH $batchesSql
       |SELECT batch, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM b1 GROUP BY batch ORDER BY batch""".stripMargin

  /** tl42: SQL `UPDATE` and `MERGE INTO` auto-route through merge-on-read
    * on a dv-enabled table — the delta-based row-level operation
    * ([[graft.sources.GraftDvRowLevelOperation]], Spark's `SupportsDelta`
    * surface; Delta's DML behavior when `enableDeletionVectors` is set).
    * No CALL procedure: the STATEMENT itself lands as one vector-suppress
    * + append commit. REQUIREs per statement: exactly one commit, op
    * 'update'/'merge', ZERO data files removed, every pre-statement file
    * still live BY NAME, CDF window = update_preimage/update_postimage
    * pairs for updated rows (plus plain inserts for new keys in the
    * merge — the delta writer tracked per-row which clause fired), row
    * count balanced. Final aggregate hash-matches the oracle's
    * CASE-rewritten b1 merged with b2. */
  private val tl42SqlMor: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t42", "SELECT * FROM t42_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t42").toString
    spark.sql("CALL graft.system.enable_dv(`table` => 'dml.t42')")
    val before = CommitLog.snapshotFiles(tdir).toSet
    val vPre = CommitLog.currentVersion(tdir)
    val preCnt = spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0)
    // --- plain SQL UPDATE -> one MoR commit
    spark.sql(s"UPDATE $t SET status = 'expedited', batch = batch + 10 " +
      "WHERE status = 'pending_review' AND price >= 100000.0")
    val vUpd = CommitLog.currentVersion(tdir)
    require(vUpd == vPre + 1, s"tl42: UPDATE must land one commit, tip $vPre -> $vUpd")
    val cu = CommitLog.readCommit(tdir, vUpd)
    require(cu.op == "update" && cu.remove.isEmpty && cu.dv.nonEmpty && cu.add.nonEmpty,
      s"tl42: UPDATE must land as vectors + image adds, got op=${cu.op} " +
        s"adds=${cu.add.size} removes=${cu.remove.size} dvs=${cu.dv.size}")
    require(before.subsetOf(CommitLog.snapshotFiles(tdir).toSet),
      "tl42: no pre-update data file may be removed")
    require(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == preCnt,
      "tl42: an update must not change the row count")
    // CDF twin: update_preimage(old image) + update_postimage(new image)
    // per updated row, sharing the statement's commit version (ONE window
    // computation, audited in memory)
    val cdfU = CommitLog.changes(spark, tdir, vPre, vUpd)
      .select(col("status"), col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val updated = cdfU.count(_._2 == "update_postimage").toLong
    require(updated > 0, "tl42: the update predicate matches rows at every SF")
    require(cdfU.count(_._2 == "update_preimage").toLong == updated,
      "tl42: the CDF must pair one update_preimage with one update_postimage " +
        "per updated row")
    require(cdfU.forall(_._2.startsWith("update_")),
      "tl42: an UPDATE statement's window carries update images only")
    require(cdfU.map(_._3).distinct.length == 1,
      "tl42: the pair shares the statement's one commit version")
    require(cdfU.forall(r => r._2 != "update_postimage" || r._1 == "expedited"),
      "tl42: every postimage carries the new values")
    require(spark.sql(
        s"SELECT count(*) AS n FROM $t VERSION AS OF $vPre WHERE status = 'expedited'")
      .head().getLong(0) == 0L, "tl42: pre-update snapshot must have no new images")
    // --- plain SQL MERGE INTO -> one MoR commit (upsert semantics).
    // b2's keys all exist in b1 (%6 ⊂ %3), so the source adds a shifted
    // copy (id+1 ≡ 1 mod 3 — never in b1) to exercise the insert clause
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW t42_src AS
        |SELECT * FROM t42_b2
        |UNION ALL
        |SELECT id + 1 AS id, 'inserted' AS status, price, 3 AS batch
        |FROM t42_b2""".stripMargin)
    val vM0 = CommitLog.currentVersion(tdir)
    val filesM0 = CommitLog.snapshotFiles(tdir).toSet
    spark.sql(
      s"""MERGE INTO $t t USING t42_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val vM = CommitLog.currentVersion(tdir)
    require(vM == vM0 + 1, s"tl42: MERGE must land one commit, tip $vM0 -> $vM")
    val cm = CommitLog.readCommit(tdir, vM)
    require(cm.op == "merge" && cm.remove.isEmpty && cm.dv.nonEmpty && cm.add.nonEmpty,
      s"tl42: MERGE must land as vectors + image adds, got op=${cm.op} " +
        s"adds=${cm.add.size} removes=${cm.remove.size} dvs=${cm.dv.size}")
    require(filesM0.subsetOf(CommitLog.snapshotFiles(tdir).toSet),
      "tl42: no pre-merge data file may be removed")
    // CDF twin: matched keys = update_preimage/update_postimage pairs
    // (the writer tracked WHICH rows matched — per-row, not by-key
    // inference); new keys = plain inserts; zero plain deletes (ONE
    // window computation, audited in memory)
    val cdfM = CommitLog.changes(spark, tdir, vM0, vM)
      .select(col("status"), col("_change_type")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val mPre = cdfM.count(_._2 == "update_preimage")
    val mPost = cdfM.count(_._2 == "update_postimage")
    val mIns = cdfM.count(_._2 == "insert")
    require(mPre > 0 && mPre == mPost && mIns > 0,
      s"tl42: merge CDF must hold matched update pairs + plain inserts, got " +
        s"$mPre preimages / $mPost postimages / $mIns inserts")
    require(!cdfM.exists(_._2 == "delete"),
      "tl42: this merge deletes nothing, so no plain delete may appear")
    require(cdfM.forall(r => r._2 != "insert" || r._1 == "inserted"),
      "tl42: plain inserts are exactly the shifted new-key rows")
    spark.sql(
      s"""SELECT status, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY status ORDER BY status""".stripMargin)
  }

  private val tl42SqlMorSql =
    s"""WITH $batchesSql,
       |u AS (
       |  SELECT id,
       |    CASE WHEN status = 'pending_review' AND price >= 100000.0
       |      THEN 'expedited' ELSE status END AS status,
       |    price,
       |    CASE WHEN status = 'pending_review' AND price >= 100000.0
       |      THEN batch + 10 ELSE batch END AS batch
       |  FROM b1),
       |src AS (
       |  SELECT * FROM b2
       |  UNION ALL
       |  SELECT id + 1 AS id, 'inserted' AS status, price, 3 AS batch
       |  FROM b2),
       |fin AS (
       |  SELECT * FROM u WHERE id NOT IN (SELECT id FROM src)
       |  UNION ALL SELECT * FROM src)
       |SELECT status, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM fin GROUP BY status ORDER BY status""".stripMargin

  /** tl43: NOT NULL column constraints (the Delta column-constraint next
    * to CHECK): `ALTER TABLE ... ALTER COLUMN ... SET NOT NULL` declares
    * (refused when existing data already holds NULLs — pinned in
    * `ConstraintSpec`), the declared nullability rides the log schema,
    * every write path refuses a NULL row naming the column (staging
    * chokepoints per-row in-write; executor-direct writers per-row), the
    * refused batch lands NOTHING, and `DROP NOT NULL` lifts enforcement.
    * Final aggregate (base + one valid insert + one post-lift NULL row)
    * hash-matches the oracle. */
  private val tl43NotNull: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t43", "SELECT * FROM t43_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t43").toString
    // SET via CALL (Spark's v2 ALTER analysis hard-blocks nullable→
    // non-null for connectors); DROP NOT NULL below is plain SQL
    spark.sql("CALL graft.system.set_not_null(`table` => 'dml.t43', column => 'status')")
    require(CommitLog.declaredSchema(tdir).exists(
      _.fields.exists(f => f.name == "status" && !f.nullable)),
      "tl43: the declared schema must carry the NOT NULL")
    val preCnt = spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0)
    val refused =
      try { spark.sql(
        s"INSERT INTO $t VALUES (999999911, NULL, 1.0, 7), (999999912, 'ok', 2.0, 7)"); false }
      catch { case e: Throwable =>
        Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(8)
          .exists(x => x.getMessage != null && (x.getMessage.contains("status") ||
            x.getMessage.toUpperCase.contains("NULL"))) }
    require(refused, "tl43: a NULL row must refuse, naming the violation")
    require(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == preCnt,
      "tl43: the refused batch must not land even partially")
    spark.sql(s"INSERT INTO $t VALUES (999999912, 'manual', 42.0, 7)")
    // the declaration survives a checkpoint roll
    spark.sql("CALL graft.system.checkpoint(`table` => 'dml.t43')")
    val stillRefused =
      try { spark.sql(s"INSERT INTO $t VALUES (999999913, NULL, 3.0, 7)"); false }
      catch { case _: Throwable => true }
    require(stillRefused, "tl43: enforcement must survive the checkpoint roll")
    // DROP NOT NULL lifts enforcement: the NULL row lands
    spark.sql(s"ALTER TABLE $t ALTER COLUMN status DROP NOT NULL")
    spark.sql(s"INSERT INTO $t VALUES (999999913, NULL, 7.0, 7)")
    spark.sql(
      s"""SELECT batch, count(*) AS n_rows, count(status) AS n_status,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY batch ORDER BY batch""".stripMargin)
  }

  private val tl43NotNullSql =
    s"""WITH $batchesSql,
       |t AS (SELECT * FROM b1
       |  UNION ALL SELECT 999999912 AS id, 'manual' AS status, 42.0 AS price, 7 AS batch
       |  UNION ALL SELECT 999999913 AS id, NULL AS status, 7.0 AS price, 7 AS batch)
       |SELECT batch, count(*) AS n_rows, count(status) AS n_status,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM t GROUP BY batch ORDER BY batch""".stripMargin

  /** tl44: Delta-parity update change types END TO END — the batch
    * window, the streaming change feed (including a RESUME whose
    * checkpoint lands exactly below the UPDATE commit), and the
    * `table_changes` TVF all serve an UPDATE's rows as PAIRED
    * `update_preimage`/`update_postimage` sharing the statement's commit
    * version, while a genuine DELETE in the same stream keeps its plain
    * label. The stream drains once BEFORE the update (checkpointing at
    * the pre-update tip), the UPDATE and a DELETE land mid-stream, and
    * the resumed drain must multiset-equal the batch `changes()` twin
    * over the same window — update types intact across the resume
    * boundary. Final aggregate hash-matches the oracle's CASE-rewritten
    * b1 minus the deleted band. */
  private val tl44UpdateCdf: Q = (spark, dir) => {
    import scala.jdk.CollectionConverters._
    val t = dmlTable(spark, dir, "t44", "SELECT * FROM t44_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t44").toString
    spark.sql("CALL graft.system.enable_dv(`table` => 'dml.t44')")
    val ckpt = Paths.get(Sinks.scratchDir("commitlog_t44_ckpt"))
    Sinks.deleteTree(ckpt)
    val delivered =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
    def drain(): Seq[(Long, String, String, Long)] = {
      delivered.clear()
      val q = spark.readStream.format("graftlog")
        .option("readChangeFeed", "true").load(tdir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => delivered.add((r.getLong(0),
            r.getString(r.fieldIndex("status")),
            r.getString(r.fieldIndex("_change_type")),
            r.getLong(r.fieldIndex("_commit_version")))))
          ()
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(120000L), "tl44: CDF drain timed out")
      delivered.iterator().asScala.toSeq.sorted
    }
    val first = drain() // CTAS inserts; checkpoint lands at the pre-update tip
    require(first.nonEmpty && first.forall(_._3 == "insert"),
      "tl44: the initial snapshot streams as plain inserts")
    val vPre = CommitLog.currentVersion(tdir)
    spark.sql(s"UPDATE $t SET status = 'expedited', batch = batch + 10 " +
      "WHERE status = 'pending_review' AND price >= 100000.0")
    val vUpd = CommitLog.currentVersion(tdir)
    require(vUpd == vPre + 1, "tl44: the UPDATE lands one commit")
    spark.sql(s"DELETE FROM $t WHERE price < 20000.0")
    val vDel = CommitLog.currentVersion(tdir)
    require(vDel == vUpd + 1, "tl44: the DELETE lands one commit")
    // the RESUMED stream crosses the update commit at its checkpoint
    // boundary: paired update types at vUpd, plain deletes at vDel
    val resumed = drain()
    val pre = resumed.filter(r => r._4 == vUpd && r._3 == "update_preimage")
    val post = resumed.filter(r => r._4 == vUpd && r._3 == "update_postimage")
    require(pre.nonEmpty && pre.size == post.size,
      s"tl44: the stream must pair preimages with postimages, got " +
        s"${pre.size}/${post.size}")
    require(resumed.filter(_._4 == vUpd).forall(_._3.startsWith("update_")),
      "tl44: the update commit streams update images only")
    require(post.forall(_._2 == "expedited") && pre.forall(_._2 == "pending_review"),
      "tl44: postimages carry the new value, preimages the old")
    require(resumed.exists(r => r._4 == vDel && r._3 == "delete") &&
        resumed.filter(_._4 == vDel).forall(_._3 == "delete"),
      "tl44: the genuine DELETE keeps its plain label in the same stream")
    // stream == batch multiset over the same window, types included
    // (one collected pass also audits the `_commit_timestamp` stamps)
    val twinRows = CommitLog.changes(spark, tdir, vPre, vDel)
      .select(col("id"), col("status"), col("_change_type"),
        col("_commit_version"), col("_commit_timestamp"))
      .collect()
    val batchTwin = twinRows
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sorted
    require(resumed == batchTwin,
      "tl44: the streamed window must multiset-equal the batch changes()")
    // Delta's third CDF column: every row stamped, ONE value per commit,
    // non-decreasing across versions
    require(twinRows.forall(!_.isNullAt(4)),
      "tl44: every change row must carry _commit_timestamp")
    val perV = twinRows.map(r => (r.getLong(3), r.getTimestamp(4).getTime))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    require(perV.values.forall(_.size == 1),
      s"tl44: one commit's rows must share one _commit_timestamp: $perV")
    val orderedTs = perV.toSeq.sortBy(_._1).map(_._2.head)
    require(orderedTs.zip(orderedTs.drop(1)).forall { case (a, b) => a <= b },
      s"tl44: _commit_timestamp must be non-decreasing: $orderedTs")
    // the TVF serves the same vocabulary over the update window
    graft.sources.TableChanges.register(spark)
    val tvf = spark.sql(
      s"SELECT _change_type, count(*) AS n FROM table_changes('$tdir', $vUpd, $vUpd) " +
        "GROUP BY _change_type").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(tvf.keySet == Set("update_preimage", "update_postimage") &&
        tvf("update_preimage") == pre.size.toLong &&
        tvf("update_postimage") == post.size.toLong,
      s"tl44: table_changes must serve the update pair, got $tvf")
    spark.sql(
      s"""SELECT status, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY status ORDER BY status""".stripMargin)
  }

  private val tl44UpdateCdfSql =
    s"""WITH $batchesSql,
       |u AS (
       |  SELECT id,
       |    CASE WHEN status = 'pending_review' AND price >= 100000.0
       |      THEN 'expedited' ELSE status END AS status,
       |    price,
       |    CASE WHEN status = 'pending_review' AND price >= 100000.0
       |      THEN batch + 10 ELSE batch END AS batch
       |  FROM b1),
       |kept AS (SELECT * FROM u WHERE price >= 20000.0)
       |SELECT status, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM kept GROUP BY status ORDER BY status""".stripMargin

  /** tl45: `MERGE ... WHEN NOT MATCHED BY SOURCE` (the Spark 4 / Delta
    * clause set beyond upsert): target rows ABSENT from the source must
    * flow to the writer — a cheap-looking source-driven scan would
    * silently skip them. One statement exercises all four clause kinds
    * on the merge-on-read route: matched keys update from the source,
    * new source keys insert, source-absent cheap rows DELETE, and
    * source-absent expensive rows UPDATE to a flag — landing as ONE
    * vectors+adds commit with zero files removed. The CDF twin REQUIREs
    * the per-clause vocabulary: by-source deletes keep plain 'delete',
    * every update clause (matched and by-source alike) pairs
    * update_preimage/update_postimage, new keys are plain inserts.
    * Final aggregate hash-matches the oracle's clause-ordered rewrite. */
  private val tl45NotMatchedBySource: Q = (spark, dir) => {
    val t = dmlTable(spark, dir, "t45", "SELECT * FROM t45_b1")
    val tdir = Paths.get(Sinks.scratchDir("commitlog_catalog_wh"), "dml", "t45").toString
    spark.sql("CALL graft.system.enable_dv(`table` => 'dml.t45')")
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW t45_src AS
        |SELECT * FROM t45_b2
        |UNION ALL
        |SELECT id + 1 AS id, 'inserted' AS status, price, 3 AS batch
        |FROM t45_b2""".stripMargin)
    val before = CommitLog.snapshotFiles(tdir).toSet
    val vPre = CommitLog.currentVersion(tdir)
    spark.sql(
      s"""MERGE INTO $t t USING t45_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.price < 30000.0 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE AND t.price >= 250000.0
         |  THEN UPDATE SET status = 'flagged'""".stripMargin)
    val vM = CommitLog.currentVersion(tdir)
    require(vM == vPre + 1, s"tl45: the MERGE must land one commit, tip $vPre -> $vM")
    val c = CommitLog.readCommit(tdir, vM)
    require(c.op == "merge" && c.remove.isEmpty && c.dv.nonEmpty && c.add.nonEmpty,
      s"tl45: the statement must land merge-on-read, got op=${c.op} " +
        s"adds=${c.add.size} removes=${c.remove.size} dvs=${c.dv.size}")
    require(before.subsetOf(CommitLog.snapshotFiles(tdir).toSet),
      "tl45: no pre-merge data file may be removed")
    // ONE window computation, audited in memory
    val cdf = CommitLog.changes(spark, tdir, vPre, vM)
      .select(col("status"), col("price"), col("_change_type")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    val nDel = cdf.count(_._3 == "delete")
    val nPre = cdf.count(_._3 == "update_preimage")
    val nPost = cdf.count(_._3 == "update_postimage")
    val nIns = cdf.count(_._3 == "insert")
    require(nDel > 0 && nPre > 0 && nPre == nPost && nIns > 0,
      s"tl45: all four clause kinds must fire at every SF, got " +
        s"$nDel deletes / $nPre pre / $nPost post / $nIns inserts")
    require(cdf.forall(r => r._3 != "delete" || r._2 < 30000.0),
      "tl45: only the cheap source-absent rows delete")
    require(cdf.forall(r => r._3 != "update_postimage" ||
        r._1 == "verified" || r._1 == "flagged"),
      "tl45: postimages come from the matched SET * or the by-source flag")
    require(cdf.forall(r => r._3 != "insert" || r._1 == "inserted"),
      "tl45: plain inserts are exactly the new-key rows")
    spark.sql(
      s"""SELECT status, count(*) AS n_rows,
         |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM $t GROUP BY status ORDER BY status""".stripMargin)
  }

  private val tl45NotMatchedBySourceSql =
    s"""WITH $batchesSql,
       |src AS (
       |  SELECT * FROM b2
       |  UNION ALL
       |  SELECT id + 1 AS id, 'inserted' AS status, price, 3 AS batch
       |  FROM b2),
       |rest AS (SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM src)),
       |fin AS (
       |  SELECT * FROM src
       |  UNION ALL
       |  SELECT id,
       |    CASE WHEN price >= 250000.0 THEN 'flagged' ELSE status END AS status,
       |    price, batch
       |  FROM rest WHERE price >= 30000.0)
       |SELECT status, count(*) AS n_rows,
       |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM fin GROUP BY status ORDER BY status""".stripMargin

  val queries: Map[String, Q] = Map(
    "tl45_nms_merge" -> tl45NotMatchedBySource,
    "tl44_update_cdf" -> tl44UpdateCdf,
    "tl43_not_null" -> tl43NotNull,
    "tl42_sql_mor" -> tl42SqlMor,
    "tl41_restore" -> tl41Restore,
    "tl40_merge_mor" -> tl40MergeMor,
    "tl39_detail" -> tl39Detail,
    "tl38_update_mor" -> tl38UpdateMor,
    "tl37_constraints" -> tl37Constraints,
    "tl36_dv_delete" -> tl36DvDelete,
    "tl35_metadata_delete" -> tl35MetadataDelete,
    "tl34_zorder_3d" -> tl34ZOrder3d,
    "tl33_cdf_across_drop" -> tl33CdfAcrossDrop,
    "tl32_bloom_ingest" -> tl32BloomIngest,
    "tl31_typed_skipping" -> tl31TypedSkipping,
    "tl30_append_skipping" -> tl30AppendSkipping,
    "tl29_sql_ingest" -> tl29SqlIngest,
    "tl28_zorder_skipping" -> tl28ZOrder,
    "tl27_table_changes" -> tl27TableChanges,
    "tl26_cdf_materialize" -> tl26CdfMaterialize,
    "tl25b_cdf_ident_stream" -> tl25bCdfIdentStream,
    "tl25_cdf_stream" -> tl25CdfStream,
    "tl24_cdf_sql" -> tl24CdfSql,
    "tl23_change_feed" -> tl23ChangeFeed,
    "tl22_sql_clustered_create" -> tl22SqlClusteredCreate,
    "tl21_sql_cluster" -> tl21SqlCluster,
    "tl20_schema_evolution" -> tl20SchemaEvolution,
    "tl20b_rename" -> tl20bRename,
    "tl20c_widen" -> tl20cWiden,
    "tl20d_drop" -> tl20dDrop,
    "tl20e_purge" -> tl20ePurge,
    "tl19_sql_maintenance" -> tl19SqlMaintenance,
    "tl18_sql_merge" -> tl18SqlMerge,
    "tl17_sql_update" -> tl17SqlUpdate,
    "tl16_sql_delete" -> tl16SqlDelete,
    "tl15_sql_catalog" -> tl15SqlCatalog,
    "tl14_stream_pipeline" -> tl14StreamPipeline,
    "tl13_agg_pushdown" -> tl13AggPushdown,
    "tl12_stats_broadcast" -> tl12StatsBroadcast,
    "tl9_sql_skipping" -> tl9SqlSkipping,
    "tl10_stream_read" -> tl10StreamRead,
    "tl11_metadata_count" -> tl11MetadataCount,
    "tl8_sql_write" -> tl8SqlWrite,
    "tl7_zorder_box" -> tl7ZorderBox,
    "tl6_log_checkpoint" -> tl6LogCheckpoint,
    "tl5_zonemap_skip" -> tl5ZonemapSkip,
    "tl1_commitlog_snapshot" -> tl1Snapshot,
    "tl2_time_travel" -> tl2TimeTravel,
    "tl3_dedup_ingest" -> tl3DedupIngest,
    "tl4_compaction" -> tl4Compaction
  )

  val oracle: Map[String, String] = Map(
    "tl45_nms_merge" -> tl45NotMatchedBySourceSql,
    "tl44_update_cdf" -> tl44UpdateCdfSql,
    "tl43_not_null" -> tl43NotNullSql,
    "tl42_sql_mor" -> tl42SqlMorSql,
    "tl41_restore" -> tl41RestoreSql,
    "tl40_merge_mor" -> tl40MergeMorSql,
    "tl39_detail" -> tl39DetailSql,
    "tl38_update_mor" -> tl38UpdateMorSql,
    "tl37_constraints" -> tl37ConstraintsSql,
    "tl36_dv_delete" -> tl36DvDeleteSql,
    "tl35_metadata_delete" -> tl35MetadataDeleteSql,
    "tl34_zorder_3d" -> tl34ZOrder3dSql,
    "tl33_cdf_across_drop" -> tl33CdfAcrossDropSql,
    "tl32_bloom_ingest" -> tl32BloomIngestSql,
    "tl31_typed_skipping" -> tl31TypedSkippingSql,
    "tl30_append_skipping" -> tl30AppendSkippingSql,
    "tl29_sql_ingest" -> tl29SqlIngestSql,
    "tl28_zorder_skipping" -> tl28ZOrderSql,
    "tl27_table_changes" -> tl27TableChangesSql,
    "tl26_cdf_materialize" -> tl26CdfMaterializeSql,
    "tl25b_cdf_ident_stream" -> tl25bCdfIdentStreamSql,
    "tl25_cdf_stream" -> tl25CdfStreamSql,
    "tl24_cdf_sql" -> tl24CdfSqlSql,
    "tl23_change_feed" -> tl23ChangeFeedSql,
    "tl22_sql_clustered_create" -> tl22SqlClusteredCreateSql,
    "tl21_sql_cluster" -> tl21SqlClusterSql,
    "tl20_schema_evolution" -> tl20SchemaEvolutionSql,
    "tl20b_rename" -> tl20bRenameSql,
    "tl20c_widen" -> tl20cWidenSql,
    "tl20d_drop" -> tl20dDropSql,
    "tl20e_purge" -> tl20ePurgeSql,
    "tl19_sql_maintenance" -> tl19SqlMaintenanceSql,
    "tl18_sql_merge" -> tl18SqlMergeSql,
    "tl17_sql_update" -> tl17SqlUpdateSql,
    "tl16_sql_delete" -> tl16SqlDeleteSql,
    "tl15_sql_catalog" -> tl15SqlCatalogSql,
    "tl14_stream_pipeline" -> tl14StreamPipelineSql,
    "tl13_agg_pushdown" -> tl13AggPushdownSql,
    "tl12_stats_broadcast" -> tl12StatsBroadcastSql,
    "tl9_sql_skipping" -> tl9SqlSkippingSql,
    "tl10_stream_read" -> tl10StreamReadSql,
    "tl11_metadata_count" -> tl11MetadataCountSql,
    "tl8_sql_write" -> tl8SqlWriteSql,
    "tl7_zorder_box" -> tl7ZorderBoxSql,
    "tl6_log_checkpoint" -> tl6LogCheckpointSql,
    "tl5_zonemap_skip" -> tl5ZonemapSkipSql,
    "tl1_commitlog_snapshot" -> tl1SnapshotSql,
    "tl2_time_travel" -> tl2TimeTravelSql,
    "tl3_dedup_ingest" -> tl3DedupIngestSql,
    "tl4_compaction" -> tl4CompactionSql
  )
}
