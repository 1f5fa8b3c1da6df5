package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.io.CommitLog

/** The commit log as a Structured-Streaming source and sink. Snapshot
  * streams (path form, catalog identifier, vectored or not) run on the V2
  * [[graft.sources.GraftLogMicroBatchStream]]; change feeds (path form
  * with `readChangeFeed`, the `.changes` identifier) on the V1
  * [[graft.sources.GraftLogStreamSource]]; writes on the V2
  * `GraftLogStreamingWrite`. Offsets are log versions, batches deliver
  * exactly the committed files, compactions deliver nothing, update
  * commits fail loudly without `ignoreChanges`, rate limiting bounds
  * commits per trigger, and a checkpointed restart resumes exactly where
  * the offset log says — never re-delivering. */
class GraftLogStreamSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(name: String): java.nio.file.Path = {
    val root = Paths.get(graft.io.Sinks.scratchDir(s"graftlog_stream_$name"))
    if (Files.exists(root)) {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    Files.createDirectories(root)
    root
  }

  /** Every message on an exception's cause chain. */
  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  /** Drains the table through an AvailableNow query into a memory sink;
    * returns the collected (id, v) rows. */
  private def drain(table: String, sink: String, ckpt: String,
                    extraOpts: Map[String, String] = Map.empty): Seq[(Long, String)] = {
    spark.catalog.dropTempView(sink)
    val reader = spark.readStream.format("graftlog")
    extraOpts.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load(table)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000L), "AvailableNow drain timed out")
    spark.table(sink).collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
  }

  test("appends stream in; compaction delivers nothing; offsets are versions") {
    val root = freshDir("basic")
    val t = root.resolve("t").toString
    CommitLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)   // v0
    CommitLog.append(Seq((3L, "c")).toDF("id", "v"), t)              // v1
    assert(CommitLog.compact(spark, t, targetFiles = 1).nonEmpty)    // v2: no-op content

    val got = drain(t, "gl_stream_basic", root.resolve("ckpt").toString)
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"compaction must not re-deliver rewritten rows, got $got")
  }

  test("readChangeFeed via readStream.table refuses; the .changes identifier serves it") {
    val root = freshDir("cdfident")
    spark.conf.set("spark.sql.catalog.cdfid", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdfid.warehouse", root.resolve("wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdfid.s")
    spark.sql("DROP TABLE IF EXISTS cdfid.s.t")
    spark.sql("CREATE TABLE cdfid.s.t AS SELECT 1L AS id")
    // an OPTION can't add the CDF columns to a catalog table's
    // analysis-time schema; asking the snapshot stream for change rows
    // must refuse (silently streaming snapshot rows would be wrong)
    val e = intercept[Exception] {
      val q = spark.readStream.option("readChangeFeed", "true").table("cdfid.s.t")
        .writeStream.format("memory").queryName("cdf_ident_refuse")
        .trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(msgs(e).exists(_.contains(".changes")), msgs(e).mkString(" | "))
  }

  test("change-feed streams refuse ignoreChanges and endingVersion on both surfaces") {
    val root = freshDir("cdfrefuse")
    spark.conf.set("spark.sql.catalog.cdfr", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdfr.warehouse", root.resolve("wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdfr.s")
    spark.sql("DROP TABLE IF EXISTS cdfr.s.t")
    spark.sql("CREATE TABLE cdfr.s.t AS SELECT 1L AS id")
    val dir = root.resolve("wh").resolve("s").resolve("t").toString
    val forms: Seq[(String, Map[String, String] => org.apache.spark.sql.DataFrame)] = Seq(
      "path form" -> (o => spark.readStream.format("graftlog")
        .option("readChangeFeed", "true").options(o).load(dir)),
      ".changes identifier" -> (o => spark.readStream.options(o).table("cdfr.s.t.changes")))
    // the path form refuses at analysis (its V1 relation resolves the
    // schema eagerly), the identifier when the query starts
    for ((form, open) <- forms) {
      def refusal(opts: Map[String, String]): Seq[String] = msgs(intercept[Exception] {
        val q = open(opts).writeStream.format("memory").queryName("cdf_refuse")
          .trigger(Trigger.AvailableNow()).start()
        try q.processAllAvailable() finally q.stop()
      })
      val ic = refusal(Map("ignoreChanges" -> "true"))
      assert(ic.exists(_.contains("ignoreChanges does not apply to a change-feed stream")),
        s"$form: ${ic.mkString(" | ")}")
      val ev = refusal(Map("endingVersion" -> "0"))
      assert(ev.exists(_.contains("endingVersion/endingTimestamp are batch CDF options")),
        s"$form: ${ev.mkString(" | ")}")
    }
  }

  test("a streaming write through a change-feed relation is refused and lands nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshDir("cdfwrite")
    val t = root.resolve("t").toString
    CommitLog.append(Seq((1L, "a")).toDF("id", "v"), t) // v0
    val mem = MemoryStream[(Long, String)]
    mem.addData((9L, "z"))
    val e = intercept[Exception] {
      val q = mem.toDF().toDF("id", "v").writeStream.format("graftlog")
        .option("readChangeFeed", true)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .start(t)
      try q.processAllAvailable() finally q.stop()
    }
    // a change feed withholds STREAMING_WRITE and the source has no V1 sink
    assert(msgs(e).exists(_.contains("does not support streamed")), msgs(e).mkString(" | "))
    assert(CommitLog.currentVersion(t) == 0L, "the refused write must not commit")
    assert(CommitLog.read(spark, t).collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "a")))
  }

  test(".changes metadata table: identifier CDF streaming, mid-stream DML + rename") {
    val root = freshDir("cdfmeta")
    spark.conf.set("spark.sql.catalog.cdfm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdfm.warehouse", root.resolve("wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdfm.s")
    spark.sql("DROP TABLE IF EXISTS cdfm.s.t")
    spark.sql("CREATE TABLE cdfm.s.t AS SELECT id, concat('v', id) AS v FROM range(3)")
    val dir = root.resolve("wh").resolve("s").resolve("t").toString
    val ckpt = root.resolve("ckpt").toString

    val delivered =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
    def drainChanges(): Seq[(Long, String, String, Long)] = {
      delivered.clear()
      val q = spark.readStream.table("cdfm.s.t.changes")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => delivered.add((r.getLong(0), r.getString(1),
            r.getString(r.fieldIndex("_change_type")),
            r.getLong(r.fieldIndex("_commit_version")))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000L), ".changes drain timed out")
      delivered.iterator().asScala.toSeq.sorted
    }

    // first drain: the CTAS inserts
    val first = drainChanges()
    assert(first.map(t => (t._1, t._3)) == Seq((0L, "insert"), (1L, "insert"), (2L, "insert")),
      s"first drain must deliver the CTAS inserts, got $first")

    // mid-stream DML (an upsert rewrite) and a RENAME; the resumed stream
    // must deliver the rewrite as delete+insert and survive the rename
    val upsertV = CommitLog.upsert(spark, Seq((1L, "V1")).toDF("id", "v"), dir, Seq("id"))
    spark.sql("ALTER TABLE cdfm.s.t RENAME COLUMN v TO w")
    spark.sql("INSERT INTO cdfm.s.t SELECT 9, 'v9'")
    val resumed = drainChanges()
    assert(resumed.contains((1L, "v1", "delete", upsertV)) &&
        resumed.contains((1L, "V1", "insert", upsertV)),
      s"the upsert must arrive as delete+insert: $resumed")
    assert(resumed.exists(t => t._1 == 9L && t._3 == "insert"),
      s"the post-rename insert must stream: $resumed")
    // accumulated feed == batch changes() over the same window (multiset)
    val batchFeed = CommitLog.changes(spark, dir, -1L, CommitLog.currentVersion(dir))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(r.fieldIndex("_change_type")),
        r.getLong(r.fieldIndex("_commit_version")))).toSeq.sorted
    assert((first ++ resumed).sorted == batchFeed,
      s"stream feed must equal batch changes(): ${(first ++ resumed).sorted} vs $batchFeed")

    // the feed is computed per batch, never materialized under the
    // checkpoint (a months-running stream leaves nothing to reclaim)
    val cacheRoot = root.resolve("ckpt").resolve("sources")
      .resolve("0").resolve("_graft_cdf")
    assert(!java.nio.file.Files.exists(cacheRoot),
      s"a change-feed stream must not materialize windows under $cacheRoot")

    // batch identifier surface: full history + windowed via reader options
    assert(spark.read.table("cdfm.s.t.changes").count() == batchFeed.length.toLong)
    val windowed = spark.read.option("startingVersion", upsertV)
      .option("endingVersion", upsertV).table("cdfm.s.t.changes")
    assert(windowed.count() == 2L,
      s"v$upsertV window = the upsert's delete+insert")
    // SQL reaches it as an ordinary identifier
    assert(spark.sql("SELECT count(*) FROM cdfm.s.t.changes").head.getLong(0) ==
      batchFeed.length.toLong)
  }

  test("a cluster maintenance commit mid-stream delivers nothing (layout-only)") {
    val root = freshDir("cluster")
    val t = root.resolve("t").toString
    val ckpt = root.resolve("ckpt").toString
    // foreachBatch: the recovery-capable sink (memory refuses checkpoints)
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    def drainForeach(): Seq[(Long, String)] = {
      delivered.clear()
      val q = spark.readStream.format("graftlog").load(t)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => delivered.add((r.getLong(0), r.getString(1))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000L), "AvailableNow drain timed out")
      delivered.iterator().asScala.toSeq.sorted
    }
    CommitLog.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), t) // v0
    assert(drainForeach() == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // CALL graft.system.cluster's engine primitive: a content-identical
    // relayout. A resumed stream must treat it exactly like a compaction —
    // deliver NOTHING (no IllegalStateException, no duplicate rows).
    CommitLog.compactClustered(spark, t, "id", 2)                             // v1: layout-only
    CommitLog.append(Seq((4L, "d")).toDF("id", "v"), t)                       // v2: real rows
    val resumed = drainForeach()
    assert(resumed == Seq((4L, "d")),
      s"a cluster commit must deliver nothing; the next append streams, got $resumed")
  }

  test("maxVersionsPerTrigger rate-limits to one commit per batch") {
    val root = freshDir("rate")
    val t = root.resolve("t").toString
    (0 until 3).foreach(i => CommitLog.append(Seq((i.toLong, s"v$i")).toDF("id", "v"), t))

    spark.catalog.dropTempView("gl_stream_rate")
    val q = spark.readStream.format("graftlog")
      .option("maxVersionsPerTrigger", 1)
      .load(t)
      .writeStream.format("memory").queryName("gl_stream_rate")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000L))
    assert(spark.table("gl_stream_rate").count() == 3L)
    // one commit (one row) per non-empty batch — visible in the progress log
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3,
      s"3 commits at 1/trigger should be 3 batches, got ${batches.map(_.numInputRows).mkString(",")}")
    assert(batches.forall(_.numInputRows == 1L))
  }

  /** Drains `stream` through foreachBatch under Trigger.AvailableNow;
    * returns the ids of each non-empty batch in batch order, and the
    * description of the reader that served them. */
  private def pacedDrain(stream: org.apache.spark.sql.DataFrame,
                         ckpt: String): (Seq[Seq[Long]], String) = {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val q = stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val ids = df.collect().map(_.getLong(0)).toSeq.sorted
        if (ids.nonEmpty) batches.add((id, ids))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000L), "AvailableNow drain timed out")
    (batches.iterator().asScala.toSeq.sortBy(_._1).map(_._2),
      q.recentProgress.flatMap(_.sources.map(_.description)).mkString(" "))
  }

  test("maxVersionsPerTrigger paces the snapshot stream over live deletion vectors") {
    val root = freshDir("rate_v1")
    val t = root.resolve("t").toString
    CommitLog.append(Seq((0L, "a"), (1L, "b")).toDF("id", "v"), t)            // v0
    CommitLog.enableDv(t)                                                     // v1
    assert(CommitLog.dvDelete(spark, t,
      org.apache.spark.sql.functions.col("id") === 1L).nonEmpty)              // v2
    (3 to 5).foreach(i => CommitLog.append(Seq((i.toLong, s"v$i")).toDF("id", "v"), t))
    val (batches, reader) = pacedDrain(
      spark.readStream.format("graftlog")
        .option("startingVersion", 3).option("maxVersionsPerTrigger", 1).load(t),
      root.resolve("ckpt").toString)
    assert(reader.contains("GraftLogMicroBatchStream"), reader)
    assert(batches == Seq(Seq(3L), Seq(4L), Seq(5L)), s"one commit per batch, got $batches")
  }

  test("maxVersionsPerTrigger paces the V1 source in change-feed mode") {
    val root = freshDir("rate_v1cdf")
    val t = root.resolve("t").toString
    (0 until 3).foreach(i => CommitLog.append(Seq((i.toLong, s"v$i")).toDF("id", "v"), t))
    val (batches, reader) = pacedDrain(
      spark.readStream.format("graftlog")
        .option("readChangeFeed", true).option("maxVersionsPerTrigger", 1).load(t),
      root.resolve("ckpt").toString)
    assert(reader.contains("GraftLogStreamSource"), reader)
    assert(batches == Seq(Seq(0L), Seq(1L), Seq(2L)), s"one commit per batch, got $batches")
  }

  test("maxVersionsPerTrigger paces the .changes identifier stream") {
    val root = freshDir("rate_cdfid")
    spark.conf.set("spark.sql.catalog.ratecdf", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ratecdf.warehouse", root.resolve("wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ratecdf.s")
    spark.sql("DROP TABLE IF EXISTS ratecdf.s.t")
    spark.sql("CREATE TABLE ratecdf.s.t AS SELECT 0L AS id, 'v0' AS v")
    val dir = root.resolve("wh").resolve("s").resolve("t").toString
    val from = CommitLog.currentVersion(dir) + 1
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO ratecdf.s.t SELECT ${i}L, 'v$i'"))
    val (batches, reader) = pacedDrain(
      spark.readStream.option("startingVersion", from).option("maxVersionsPerTrigger", 1)
        .table("ratecdf.s.t.changes"),
      root.resolve("ckpt").toString)
    assert(reader.contains("GraftLogStreamSource"), reader)
    assert(batches == Seq(Seq(1L), Seq(2L), Seq(3L)), s"one commit per batch, got $batches")
  }

  test("readStream.table on a catalog table with live deletion vectors " +
      "streams the vector-applied snapshot") {
    val root = freshDir("dvtable")
    spark.conf.set("spark.sql.catalog.dvcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvcat.warehouse", root.resolve("wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dvcat.s")
    spark.sql("DROP TABLE IF EXISTS dvcat.s.t")
    spark.sql("CREATE TABLE dvcat.s.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.dv.enabled' = 'true')")
    spark.sql("INSERT INTO dvcat.s.t VALUES (0, 'a'), (1, 'b'), (2, 'c'), (3, 'd')")
    spark.sql("DELETE FROM dvcat.s.t WHERE id = 2")
    val dir = root.resolve("wh").resolve("s").resolve("t").toString
    assert(CommitLog.dvRowCount(dir) == 1L, "the DELETE must land as a live vector")
    CommitLog.checkpoint(dir)
    val (batches, reader) = pacedDrain(spark.readStream.table("dvcat.s.t"),
      root.resolve("ckpt").toString)
    assert(reader.contains("GraftLogMicroBatchStream"), reader)
    assert(batches == Seq(Seq(0L, 1L, 3L)),
      s"one snapshot batch without the deleted row, got $batches")
  }

  test("checkpointed restart resumes at the committed offset, exactly once") {
    val root = freshDir("restart")
    val t = root.resolve("t").toString
    val ckpt = root.resolve("ckpt").toString
    // the memory sink refuses checkpoint recovery; foreachBatch is the
    // recovery-capable sink a real pipeline restart uses
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    def drainForeach(): Seq[(Long, String)] = {
      delivered.clear()
      val q = spark.readStream.format("graftlog").load(t)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => delivered.add((r.getLong(0), r.getString(1))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000L), "AvailableNow drain timed out")
      delivered.iterator().asScala.toSeq.sorted
    }

    CommitLog.append(Seq((1L, "a")).toDF("id", "v"), t)
    assert(drainForeach() == Seq((1L, "a")))

    // more commits AFTER the first drain; the restarted query (same
    // checkpoint) must deliver ONLY them
    CommitLog.append(Seq((2L, "b")).toDF("id", "v"), t)
    CommitLog.append(Seq((3L, "c")).toDF("id", "v"), t)
    val second = drainForeach()
    assert(second == Seq((2L, "b"), (3L, "c")),
      s"restart must resume at the checkpointed offset, never re-deliver: $second")
  }

  test("startingVersion begins mid-log") {
    val root = freshDir("startv")
    val t = root.resolve("t").toString
    CommitLog.append(Seq((1L, "old")).toDF("id", "v"), t)   // v0
    CommitLog.append(Seq((2L, "new")).toDF("id", "v"), t)   // v1
    val got = drain(t, "gl_stream_sv", root.resolve("ckpt").toString,
      Map("startingVersion" -> "1"))
    assert(got == Seq((2L, "new")), s"startingVersion=1 must skip v0, got $got")
  }

  test("startingTimestamp begins at the first commit AT OR AFTER the " +
      "moment — matching its version-started twin") {
    val root = freshDir("startts")
    val t = root.resolve("t").toString
    CommitLog.append(Seq((1L, "old")).toDF("id", "v"), t)   // v0
    CommitLog.append(Seq((2L, "new")).toDF("id", "v"), t)   // v1
    CommitLog.append(Seq((3L, "fresh")).toDF("id", "v"), t) // v2
    val base = System.currentTimeMillis() - 1000000
    def stamp(v: Long, ts: Long): Unit =
      Files.setLastModifiedTime(
        Paths.get(t, "_log", f"$v%012d.json"),
        java.nio.file.attribute.FileTime.fromMillis(ts))
    stamp(0L, base); stamp(1L, base + 10000); stamp(2L, base + 20000)
    // ts between v0 and v1: deliver v1 and v2 — identical to the
    // startingVersion=1 twin
    val byTs = drain(t, "gl_stream_ts", root.resolve("ck1").toString,
      Map("startingTimestamp" -> (base + 5000).toString))
    val byV = drain(t, "gl_stream_tsv", root.resolve("ck2").toString,
      Map("startingVersion" -> "1"))
    assert(byTs == byV && byTs == Seq((2L, "new"), (3L, "fresh")),
      s"timestamp-started stream must match its version twin: $byTs vs $byV")
    // ts exactly ON v1's clock: v1 is included ("at or after")
    val onEdge = drain(t, "gl_stream_ts2", root.resolve("ck3").toString,
      Map("startingTimestamp" -> (base + 10000).toString))
    assert(onEdge == Seq((2L, "new"), (3L, "fresh")), s"got $onEdge")
    // ts past the head: nothing retained qualifies; the stream waits for
    // FUTURE commits and delivers the next one
    val late = drain(t, "gl_stream_ts3", root.resolve("ck4").toString,
      Map("startingTimestamp" -> (base + 999999).toString))
    assert(late.isEmpty, s"a start past the head delivers nothing yet: $late")
    CommitLog.append(Seq((4L, "later")).toDF("id", "v"), t) // v3, clock = now
    val after = drain(t, "gl_stream_ts3b", root.resolve("ck4b").toString,
      Map("startingTimestamp" -> (base + 999999).toString))
    assert(after == Seq((4L, "later")), s"got $after")
    // both forms at once refuse loudly
    val e = intercept[Exception] {
      drain(t, "gl_stream_ts4", root.resolve("ck5").toString,
        Map("startingVersion" -> "1",
          "startingTimestamp" -> (base + 5000).toString))
    }
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
  }

  test("initial-snapshot fast path: a fresh stream on a CHECKPOINTED table " +
      "serves the live snapshot, then the tail incrementally") {
    val root = freshDir("initsnap")
    val t = root.resolve("t").toString
    CommitLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)        // v0
    CommitLog.upsert(spark, Seq((2L, "B")).toDF("id", "v"), t, Seq("id")) // v1: rewrite
    CommitLog.append(Seq((3L, "c")).toDF("id", "v"), t)                   // v2
    CommitLog.checkpoint(t)
    // foreachBatch: the recovery-capable sink (memory refuses checkpoints)
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    def drainForeach(): Seq[(Long, String)] = {
      delivered.clear()
      val q = spark.readStream.format("graftlog").load(t)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => delivered.add((r.getLong(0), r.getString(1)))); ()
        }
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000L), "drain timed out")
      delivered.iterator().asScala.toSeq.sorted
    }
    // fresh stream, NO ignoreChanges: the rewrite history below the
    // checkpoint is served as the live snapshot (exactly once, no
    // refusal, no superseded rows) — the Delta initial-snapshot shape
    val got = drainForeach()
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c")),
      s"the first batch must be the live snapshot, got $got")
    // the tail stays incremental from the same checkpoint
    CommitLog.append(Seq((4L, "d")).toDF("id", "v"), t)                   // v3
    val resumed = drainForeach()
    assert(resumed == Seq((4L, "d")),
      s"the resumed stream must deliver only the tail, got $resumed")
    // and a FUTURE rewrite still fails loudly without ignoreChanges —
    // the snapshot semantics apply to the initial batch only
    CommitLog.upsert(spark, Seq((4L, "D")).toDF("id", "v"), t, Seq("id")) // v4
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainForeach(); ()
    }
    assert(failed.getMessage.contains("ignoreChanges"), failed.getMessage)
    // an EXPLICIT startingVersion keeps replay semantics on the same
    // checkpointed table (the caller asked for commits, not a snapshot)
    val explicit = drain(t, "gl_stream_init4",
      root.resolve("ckpt_sv").toString,
      Map("startingVersion" -> "2", "ignoreChanges" -> "true"))
    // replay delivers v2's (3,c), v3's (4,d), AND v4's rewritten (4,D) —
    // the superseded row arrives too, exactly the documented
    // ignoreChanges replay semantics the snapshot path improves on
    assert(explicit == Seq((3L, "c"), (4L, "D"), (4L, "d")),
      s"startingVersion=2 must replay commits, got $explicit")
  }

  test("initial-snapshot fast path on a VECTORED table: batch 0 is the " +
      "snapshot minus suppressed rows (no compact needed)") {
    val root = freshDir("initsnapdv")
    val t = root.resolve("t").toString
    CommitLog.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), t) // v0
    CommitLog.append(Seq((4L, "d")).toDF("id", "v"), t)                       // v1
    CommitLog.enableDv(t)                                                     // v2
    assert(CommitLog.dvDelete(spark, t,
      org.apache.spark.sql.functions.col("id") === 2L).nonEmpty)              // v3
    CommitLog.checkpoint(t)                                                   // v4
    assert(CommitLog.dvRowCount(t) == 1L, "the vector must be live")
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    def drainForeach(ckpt: String): Seq[(Long, String)] = {
      delivered.clear()
      val q = spark.readStream.format("graftlog").load(t)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => delivered.add((r.getLong(0), r.getString(1)))); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000L), "drain timed out")
      delivered.iterator().asScala.toSeq.sorted
    }
    // fresh stream on the vectored, checkpointed table: ONE snapshot
    // batch, suppressed row absent, no refusal, no replay of v0..v3
    val got = drainForeach(root.resolve("ckpt").toString)
    assert(got == Seq((1L, "a"), (3L, "c"), (4L, "d")),
      s"batch 0 must be the vector-applied snapshot, got $got")
    // the tail stays incremental; a LATER dv commit still refuses
    // without ignoreChanges (replay semantics unchanged past batch 0)
    CommitLog.append(Seq((5L, "e")).toDF("id", "v"), t)
    assert(drainForeach(root.resolve("ckpt").toString) == Seq((5L, "e")))
    assert(CommitLog.dvDelete(spark, t,
      org.apache.spark.sql.functions.col("id") === 1L).nonEmpty)
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainForeach(root.resolve("ckpt").toString); ()
    }
    assert(failed.getMessage.contains("ignoreChanges"), failed.getMessage)
  }

  test("CDF stream resume at a DROP COLUMN era boundary: no double- or " +
      "skip-served window") {
    val root = freshDir("cdfresume")
    val t = root.resolve("t").toString
    CommitLog.append(Seq((1L, "a", "x1"), (2L, "b", "x2"))
      .toDF("id", "v", "extra"), t)                                   // v0
    CommitLog.append(Seq((3L, "c", "x3")).toDF("id", "v", "extra"), t) // v1
    val delivered =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    def drainCdf(): Seq[(Long, String, Long)] = {
      delivered.clear()
      val q = spark.readStream.format("graftlog")
        .option("readChangeFeed", "true")
        .load(t)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => delivered.add((r.getLong(0),
            r.getString(r.fieldIndex("_change_type")),
            r.getLong(r.fieldIndex("_commit_version"))))); ()
        }
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000L), "CDF drain timed out")
      delivered.iterator().asScala.toSeq.sorted
    }
    // drain #1 ends EXACTLY at the drop alter: the checkpoint lands on
    // the era boundary (the alter carries no rows)
    val cur = CommitLog.read(spark, t).schema
    CommitLog.evolveSchema(t,
      org.apache.spark.sql.types.StructType(cur.fields.filter(_.name != "extra")),
      CommitLog.currentVersion(t), Seq("extra"))                       // v2: drop
    val first = drainCdf()
    assert(first.map(x => (x._1, x._3)).sorted ==
      Seq((1L, 0L), (2L, 0L), (3L, 1L)),
      s"the pre-boundary drain must serve v0+v1 inserts once, got $first")
    // restart across the boundary: the next data commit (post-drop era)
    // must arrive exactly once, at its own version
    CommitLog.append(Seq((4L, "d")).toDF("id", "v"), t)                // v3
    val resumed = drainCdf()
    assert(resumed == Seq((4L, "insert", 3L)),
      s"the boundary window must be served exactly once, got $resumed")
  }

  test("update commits fail loudly; ignoreChanges streams their adds") {
    val root = freshDir("changes")
    val t = root.resolve("t").toString
    CommitLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)        // v0
    CommitLog.upsert(spark, Seq((2L, "B")).toDF("id", "v"), t, Seq("id")) // v1: removes

    spark.catalog.dropTempView("gl_stream_ch")
    val q = spark.readStream.format("graftlog").load(t)
      .writeStream.format("memory").queryName("gl_stream_ch")
      .option("checkpointLocation", root.resolve("ckpt1").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000L); ()
    }
    assert(failed.getMessage.contains("ignoreChanges"),
      s"an upsert commit must name the escape hatch: ${failed.getMessage}")

    // with ignoreChanges the stream delivers the rewritten file's rows
    val got = drain(t, "gl_stream_ch2", root.resolve("ckpt2").toString,
      Map("ignoreChanges" -> "true"))
    assert(got.contains((2L, "B")), s"ignoreChanges must stream the upsert's adds: $got")
  }

  test("readStream.table: the native V2 micro-batch stream through identifiers") {
    val root = freshDir("readtable")
    spark.conf.set("spark.sql.catalog.rcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rcat.warehouse", root.resolve("wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rcat.r")
    spark.sql("DROP TABLE IF EXISTS rcat.r.src")
    spark.sql("CREATE TABLE rcat.r.src AS SELECT id, concat('v', id) AS v FROM range(2)")
    val ckpt = root.resolve("ckpt").toString

    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    var sourceDesc = ""
    def drainTable(): Seq[(Long, String)] = {
      delivered.clear()
      val q = spark.readStream.table("rcat.r.src")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => delivered.add((r.getLong(0), r.getString(1))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000L), "readStream.table drain timed out")
      q.recentProgress.lastOption.foreach(p =>
        sourceDesc = p.sources.headOption.fold("")(_.description))
      delivered.iterator().asScala.toSeq.sorted
    }

    assert(drainTable() == Seq(0L -> "v0", 1L -> "v1"))
    assert(sourceDesc.contains("GraftLogMicroBatchStream"),
      s"identifier streaming must ride the native V2 stream, got: $sourceDesc")

    // new commits through SQL; the same checkpoint resumes at the offset
    spark.sql("INSERT INTO rcat.r.src SELECT id, concat('v', id) FROM range(2, 4)")
    assert(drainTable() == Seq(2L -> "v2", 3L -> "v3"),
      "restart must deliver exactly the new commit")
  }

  test("writeStream.toTable: exactly-once txn epochs through catalog identifiers") {
    val root = freshDir("totable")
    spark.conf.set("spark.sql.catalog.scat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.scat.warehouse", root.resolve("wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS scat.s")
    spark.sql("DROP TABLE IF EXISTS scat.s.t")
    spark.sql("CREATE TABLE scat.s.t (id BIGINT, v STRING)")
    val dst = root.resolve("wh").resolve("s").resolve("t").toString
    val src = root.resolve("src").toString
    val ckpt = root.resolve("ckpt").toString
    CommitLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)

    def run(): Unit = {
      val q = spark.readStream.format("graftlog").load(src)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable("scat.s.t")
      assert(q.awaitTermination(120000L), "toTable drain timed out")
    }
    run()
    assert(spark.sql("SELECT count(*) AS n FROM scat.s.t").head.getLong(0) == 2L)
    // the epoch landed as ONE txn-marked commit (V1-convention identity:
    // the checkpoint location)
    assert(CommitLog.transactions(dst).exists(t => t.startsWith(ckpt) && t.endsWith(":0")),
      s"epoch 0 must carry a checkpoint-keyed txn marker: ${CommitLog.transactions(dst)}")

    // restart from the same checkpoint with new upstream data: exactly it
    CommitLog.append(Seq((3L, "c")).toDF("id", "v"), src)
    val vBefore = CommitLog.currentVersion(dst)
    run()
    assert(CommitLog.currentVersion(dst) == vBefore + 1, "one epoch = one commit")
    assert(spark.sql("SELECT id FROM scat.s.t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))

    // a crash-replay of a committed epoch is recognized and lands nothing
    assert(CommitLog.txnCommitFiles(dst, Seq.empty, s"$ckpt:1").isEmpty,
      "a replayed epoch txn must be recognized")
  }

  test("native sink: micro-batches land as txn commits; replays are skipped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshDir("sink")
    val t = root.resolve("t").toString

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "v").writeStream.format("graftlog")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .option("txnAppId", "sinktest")
      .start(t)
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()

    assert(CommitLog.currentVersion(t) == 1L, "two micro-batches = two commits")
    assert(CommitLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // a crash-replayed epoch carries the same txn marker (txnAppId:epoch)
    // and commits nothing
    assert(Seq(0L, 1L).forall(e =>
        CommitLog.txnCommitFiles(t, Seq.empty, s"sinktest:$e").isEmpty),
      s"replayed epochs must be recognized: ${CommitLog.transactions(t)}")
    assert(CommitLog.currentVersion(t) == 1L && CommitLog.read(spark, t).count() == 3L)
  }

  test("native sink: Complete mode replaces the snapshot atomically per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{count => fcount}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshDir("sinkc")
    val t = root.resolve("t").toString

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "v").groupBy("v").agg(fcount("*").as("n"))
      .writeStream.format("graftlog")
      .outputMode("complete")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start(t)
    mem.addData((1L, "a"), (2L, "a"))
    q.processAllAvailable()
    mem.addData((3L, "b"))
    q.processAllAvailable()
    q.stop()

    val now = CommitLog.read(spark, t).orderBy("v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(now == Seq(("a", 2L), ("b", 1L)),
      s"the head must be the LATEST complete result, got $now")
    // every prior result stays time-travelable
    val v0 = CommitLog.read(spark, t, Some(0L)).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(v0 == Seq(("a", 2L)), s"the first complete result must remain at v0: $v0")

    // update mode is refused (the V2 route raises it on the stream
    // thread, so it surfaces when the query is driven, not at start())
    val mem2 = MemoryStream[(Long, String)]
    val e = intercept[Exception] {
      val q2 = mem2.toDF().toDF("id", "v").groupBy("v").agg(fcount("*").as("n"))
        .writeStream.format("graftlog")
        .outputMode("update")
        .option("checkpointLocation", root.resolve("ckpt2").toString)
        .start(root.resolve("t2").toString)
      mem2.addData((9L, "z"))
      q2.processAllAvailable()
      q2.stop()
    }
    assert(e.getMessage.toLowerCase.contains("update"), e.getMessage)
  }

  test("log→log pipeline: source to sink, exactly-once across re-runs") {
    val root = freshDir("pipe")
    val src = root.resolve("src").toString
    val dst = root.resolve("dst").toString
    val ckpt = root.resolve("ckpt").toString

    CommitLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)
    def run(): Unit = {
      val q = spark.readStream.format("graftlog").load(src)
        .writeStream.format("graftlog")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      assert(q.awaitTermination(120000L), "pipeline drain timed out")
    }
    run()
    assert(CommitLog.read(spark, dst).count() == 2L)
    val vAfterFirst = CommitLog.currentVersion(dst)

    // re-running with the same checkpoint delivers nothing new
    run()
    assert(CommitLog.currentVersion(dst) == vAfterFirst,
      "an already-drained pipeline must not commit again")

    // new upstream commits flow through exactly once
    CommitLog.append(Seq((3L, "c")).toDF("id", "v"), src)
    run()
    assert(CommitLog.read(spark, dst).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("streaming misuse fails at analysis") {
    val root = freshDir("errs")
    val t = root.resolve("t").toString

    // a never-written table has no schema to stream
    val noTable = intercept[Exception] {
      spark.readStream.format("graftlog").load(t)
    }
    assert(noTable.getMessage.contains("no commits"), noTable.getMessage)

    CommitLog.append(Seq((1L, "a")).toDF("id", "v"), t)
    // time travel is a batch concept
    val tt = intercept[Exception] {
      spark.readStream.format("graftlog").option("versionAsOf", 0).load(t)
    }
    assert(tt.getMessage.contains("startingVersion"), tt.getMessage)
  }
}
