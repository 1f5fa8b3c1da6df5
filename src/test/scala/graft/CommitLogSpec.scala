package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.io.CommitLog

/** Protocol behaviors of the commit-log table format that the gate
  * queries (tl1/tl2) cannot observe: version-claim races, snapshot
  * isolation from uncommitted garbage, vacuum semantics. */
class CommitLogSpec extends SparkSpec {

  private def freshTable(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft_cl_$name")
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
    p.toString
  }

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("append then upsert: matched keys replaced, history addressable") {
    val t = freshTable("upsert")
    assert(CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c"), t) == 0L)
    assert(CommitLog.upsert(spark, df(2L -> "B", 4L -> "D"), t, Seq("id")) == 1L)
    val now = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
    val v0 = CommitLog.read(spark, t, asOf = Some(0L)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v0 == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("upsert on a fresh table is an append") {
    val t = freshTable("fresh")
    assert(CommitLog.upsert(spark, df(1L -> "x"), t, Seq("id")) == 0L)
    assert(CommitLog.read(spark, t).count() == 1)
  }

  test("a claimed version forces the writer to the next one — no overwrite") {
    val t = freshTable("race")
    CommitLog.append(df(1L -> "a"), t)
    // simulate a concurrent writer winning version 1
    Files.write(Paths.get(t, "_log", f"${1L}%012d.json"),
      "{\"op\":\"append\"}\n".getBytes(StandardCharsets.UTF_8))
    val v = CommitLog.append(df(2L -> "b"), t)
    assert(v == 2L, s"writer must lose the race for v1 and land at v2, got $v")
    assert(CommitLog.read(spark, t).count() == 2)   // both appends visible
  }

  test("eight genuinely concurrent writers all land, each at a distinct version") {
    val t = freshTable("mwriter")
    CommitLog.append(df(0L -> "seed"), t)
    // stage all batches first so the race is purely over version claims
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    val frames = (1 to 8).map(i => df(i.toLong -> s"w$i"))
    val versions = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    try {
      val futures = frames.map { f =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            versions.add(CommitLog.append(f, t))
          }
        })
      }
      start.countDown()
      futures.foreach(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    // every writer won SOME version; all distinct; log is dense 0..8
    assert(versions.size() == 8, s"all 8 writers must land: $versions")
    assert(CommitLog.versions(t) == (0L to 8L),
      s"version log must be dense: ${CommitLog.versions(t)}")
    val rows = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == (0 to 8).map(i => i.toLong -> (if (i == 0) "seed" else s"w$i")).toMap)
  }

  test("concurrent upserts are serializable: no lost updates, no duplicated rows") {
    val t = freshTable("mupsert")
    CommitLog.append(df((1L to 6L).map(i => i -> "old"): _*), t)
    // six threads each upsert a DISTINCT key concurrently. An upsert is a
    // read-merge-REWRITE, so a writer that loses the version race holds a
    // merge derived from a stale snapshot — landing it would both
    // duplicate every base row and drop the winners' updates. The commit
    // must conflict-abort instead and re-derive (Delta-style write
    // conflict detection); the serializable outcome is all six updates,
    // each exactly once.
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(6)
    val start = new CountDownLatch(1)
    try {
      val futures = (1 to 6).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            CommitLog.upsert(spark, df(i.toLong -> s"new$i"), t, Seq("id"))
          }
        })
      }
      start.countDown()
      futures.foreach(_.get(180, TimeUnit.SECONDS))
    } finally pool.shutdown()
    val rows = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(rows.length == 6, s"row count must stay 6 (no duplicated rewrites): ${rows.toSeq}")
    assert(rows.toMap == (1 to 6).map(i => i.toLong -> s"new$i").toMap,
      s"every concurrent update must survive: ${rows.sortBy(_._1).toSeq}")
    assert(CommitLog.currentVersion(t) == 6L, "six upserts land six versions")
    assertNoLeakedFiles(t)
  }

  test("uncommitted data files are invisible to readers") {
    val t = freshTable("garbage")
    CommitLog.append(df(1L -> "a"), t)
    // a crashed writer's orphan: staged parquet bytes, no commit
    df(99L -> "ghost").coalesce(1).write.parquet(Paths.get(t, ".crash").toString)
    val orphan = Files.list(Paths.get(t, ".crash")).iterator()
    var moved = false
    while (orphan.hasNext) {
      val p = orphan.next()
      if (p.getFileName.toString.endsWith(".parquet") && !moved) {
        Files.move(p, Paths.get(t, "orphan-crashed.parquet")); moved = true
      }
    }
    assert(moved)
    assert(CommitLog.read(spark, t).count() == 1)   // orphan not served
    // vacuum reclaims it (not in the latest snapshot)
    assert(CommitLog.vacuum(t, retainMillis = 0).contains("orphan-crashed.parquet"))
    assert(!Files.exists(Paths.get(t, "orphan-crashed.parquet")))
  }

  test("vacuum keeps the latest snapshot intact and drops superseded files") {
    val t = freshTable("vacuum")
    CommitLog.append(df(1L -> "a", 2L -> "b"), t)
    CommitLog.upsert(spark, df(1L -> "A"), t, Seq("id"))
    // the upsert's zone pruning rewrites only the files covering key 1
    // (footer multi-stats make even plain appends prunable); vacuum owes
    // exactly the files that rewrite REMOVED — nothing more, nothing less
    val superseded = CommitLog.readCommit(t, 1L).remove
    assert(superseded.nonEmpty, "the upsert must have rewritten something")
    val deleted = CommitLog.vacuum(t, retainMillis = 0)
    assert(superseded.forall(deleted.contains))
    assert(deleted.toSet == superseded.toSet,
      s"vacuum must reclaim exactly the superseded files: $deleted vs $superseded")
    val now = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now == Map(1L -> "A", 2L -> "b"))
    // time travel past the vacuum horizon now fails loudly at read time
    intercept[Exception] { CommitLog.read(spark, t, asOf = Some(0L)).collect() }
  }

  test("vacuum retention: a fresh unreferenced file (in-flight stage) survives; aged reclaims") {
    val t = freshTable("vacret")
    CommitLog.append(df(1L -> "a"), t)
    // simulate an IN-FLIGHT writer's staged-but-uncommitted parquet: it is
    // unreferenced but NEW — the default retention window must protect it,
    // or a concurrent vacuum corrupts the write's upcoming commit
    df(9L -> "x").coalesce(1).write.parquet(Paths.get(t, ".inflight").toString)
    val part = Files.list(Paths.get(t, ".inflight")).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(t, "staged-inflight.parquet"))
    assert(CommitLog.vacuum(t).isEmpty,
      "default-retention vacuum must not touch a fresh unreferenced file")
    assert(Files.exists(Paths.get(t, "staged-inflight.parquet")))
    // age it past the horizon: now it is a crashed write's garbage
    Files.setLastModifiedTime(Paths.get(t, "staged-inflight.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - CommitLog.DefaultVacuumRetainMillis - 60000L))
    assert(CommitLog.vacuum(t).contains("staged-inflight.parquet"),
      "an aged unreferenced file must reclaim under the default window")
  }

  test("changes() over a 500-commit window: constant-width plan, exact result") {
    val t = freshTable("cdfwide")
    // 500 one-commit files built in ONE spark job (a per-commit append
    // loop would dominate the test's runtime), then committed one by one —
    // a months-long busy-table history in miniature
    val staging = Paths.get(t, ".bulk")
    Files.createDirectories(Paths.get(t))
    // partitionBy writes exactly one directory per distinct value (hash
    // repartition leaves ~1/e of 500 buckets empty and empty tasks write
    // no file); the duplicated pid column keeps id IN the data file
    spark.range(500)
      .select(col("id"), col("id").as("pid"), concat(lit("r"), col("id")).as("v"))
      .write.partitionBy("pid").parquet(staging.toString)
    val parts = (0 until 500).map { i =>
      Files.list(staging.resolve(s"pid=$i")).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.move(p, Paths.get(t, f"bulk-$i%03d.parquet"))
      CommitLog.replaceFiles(t, Seq.empty, Seq(f"bulk-$i%03d.parquet"), None, op = "append")
    }
    val head = CommitLog.currentVersion(t)
    assert(head == 499L)
    val t0 = System.nanoTime()
    val feed = CommitLog.changes(spark, t, -1L, head)
    val got = feed.select(col("id"), col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val secs = (System.nanoTime() - t0) / 1e9
    // the old per-commit reduce built a 500-way nested union (driver-side
    // analysis blow-up); the constant-width plan must stay comfortably fast
    assert(secs < 60.0, s"500-commit changes() took $secs s — plan width regressed")
    assert(got.length == 500)
    assert(got.forall(_._2 == "insert"))
    assert(got.forall(r => r._3 >= 0L && r._3 <= head), "versions stamp their commit")
    assert(got.map(_._1).toSeq == (0L until 500L), "every row delivered exactly once")
  }

  test("upsert on a clustered table rewrites ONLY key-overlapping files") {
    import spark.implicits._
    val t = freshTable("zupsert")
    // 100 keys range-clustered into 4 files: [0,24] [25,49] [50,74] [75,99]
    CommitLog.appendClustered(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"), t, "id", 4)
    val before = CommitLog.snapshotFiles(t)
    assert(before.length == 4 && CommitLog.fileStatsOn(t, "id").size == 4)
    // batch keys 10..15 overlap exactly one file's zone range
    val v1 = CommitLog.upsert(spark,
      (10L to 15L).map(i => (i, s"NEW$i")).toDF("id", "v"), t, Seq("id"))
    assert(v1 == 1L)
    val after = CommitLog.snapshotFiles(t)
    val untouched = before.filter(after.contains)
    assert(untouched.length == 3,
      s"three non-overlapping files must survive BY NAME, got $untouched")
    val removed = before.filterNot(after.contains)
    assert(removed.length == 1, s"exactly one file rewritten, got $removed")
    // content is the full merge
    val now = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now.size == 100 && now(12L) == "NEW12" && now(50L) == "v50")
    // replacements re-recorded zone ranges — pruning must not decay:
    // a SECOND upsert in a different range still carries the first
    // rewrite's files forward untouched
    assert(after.forall(CommitLog.fileStatsOn(t, "id").contains),
      "every live file must carry a zone range on the key after the upsert")
    val afterV1 = CommitLog.snapshotFiles(t)
    CommitLog.upsert(spark, Seq((80L, "X80")).toDF("id", "v"), t, Seq("id"))
    val afterV2 = CommitLog.snapshotFiles(t)
    assert(afterV1.count(afterV2.contains) == afterV1.length - 1,
      "second upsert rewrites exactly the one file covering key 80")
    // an all-new-keys batch past every range is a pure insert: no removes
    val v3 = CommitLog.upsert(spark,
      Seq((200L, "n200")).toDF("id", "v"), t, Seq("id"))
    assert(CommitLog.readCommit(t, v3).remove.isEmpty,
      "out-of-range batch must carry no file forward through a rewrite")
    assert(CommitLog.read(spark, t).count() == 101)
    // txnUpsert prunes identically (shared rewrite path) and stays
    // exactly-once. Plain-staged replacements may OVERLAP in range (hash
    // partitions interleave keys), so the invariant is: every file whose
    // recorded range provably excludes the key survives BY NAME
    val preTxn = CommitLog.snapshotFiles(t)
    val preStats = CommitLog.fileStatsOn(t, "id")
    val mustSurvive = preTxn.filter(f =>
      preStats.get(f).exists { case (lo, hi) => 12L < lo || 12L > hi })
    assert(mustSurvive.nonEmpty, "the fixture must have provably-disjoint files")
    assert(CommitLog.txnUpsert(spark, Seq((12L, "T12")).toDF("id", "v"),
      t, Seq("id"), "zq#1").isDefined)
    val postTxn = CommitLog.snapshotFiles(t)
    assert(mustSurvive.forall(postTxn.contains),
      "files provably not covering key 12 must survive the txnUpsert by name")
    assert(CommitLog.txnUpsert(spark, Seq((12L, "WRONG")).toDF("id", "v"),
      t, Seq("id"), "zq#1").isEmpty, "replayed txn is a no-op")
    assert(CommitLog.read(spark, t).filter($"id" === 12L).head().getString(1) == "T12")
  }

  test("dedupAppend on a clustered table: zone-pruned index, exact dedup") {
    import spark.implicits._
    val t = freshTable("zdedup")
    CommitLog.appendClustered(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"), t, "id", 4)
    // batch keys 10..12 overlap one file's range: 10 and 11 are dups
    // (dropped), 110 is out of every range (pure new)
    val v = CommitLog.dedupAppend(spark,
      Seq((10L, "DUP"), (11L, "DUP"), (110L, "new")).toDF("id", "v"), t, Seq("id"))
    assert(v.nonEmpty)
    val rows = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 101 && rows(10L) == "v10" && rows(110L) == "new",
      "zone-pruned dedupAppend must drop in-range duplicates and land new keys")
    // an all-duplicates batch is still a NO-OP (no empty commit)
    val tip = CommitLog.currentVersion(t)
    assert(CommitLog.dedupAppend(spark,
      Seq((10L, "X"), (99L, "X")).toDF("id", "v"), t, Seq("id")).isEmpty)
    assert(CommitLog.currentVersion(t) == tip)
  }

  test("multi-column footer stats: plain appends prune on any integral column") {
    import spark.implicits._
    val t = freshTable("mstats")
    // two plain appends with disjoint ranges on BOTH integral columns;
    // the string column and the partially/fully-null columns ride along
    CommitLog.append(Seq((1L, 10L, "a", Some(5L), Option.empty[Long]),
      (2L, 20L, "b", None, Option.empty[Long]))
      .toDF("id", "x", "s", "part_null", "all_null"), t)
    CommitLog.append(Seq((100L, 1000L, "c", Some(7L), Option.empty[Long]))
      .toDF("id", "x", "s", "part_null", "all_null"), t)
    val files = CommitLog.snapshotFiles(t)
    // every file carries ranges on id AND x (no clustering declared)
    assert(CommitLog.fileStats(t).isEmpty, "no NAMED zone maps on plain appends")
    for (c <- Seq("id", "x")) {
      val st = CommitLog.fileStatsOn(t, c)
      assert(files.forall(st.contains), s"every file must carry a $c range, got $st")
    }
    // a column with SOME nulls is recorded (null rows can't match a
    // comparison anyway); an ALL-null column is not
    assert(CommitLog.fileStatsOn(t, "part_null").nonEmpty)
    assert(CommitLog.fileStatsOn(t, "all_null").isEmpty)
    // pruning: an id filter and an x filter each skip the other append
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    def pruned(c: String, lo: Long, hi: Long) =
      graft.sources.GraftLogDataSource.prunedFileNames(t,
        CommitLog.currentVersion(t),
        Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi)))
    assert(pruned("id", 1L, 2L).size < files.size, "id filter must skip")
    assert(pruned("x", 900L, 2000L).size < files.size, "x filter must skip")
    // stats survive a checkpoint roll
    CommitLog.checkpoint(t)
    assert(files.forall(CommitLog.fileStatsOn(t, "id").contains),
      "multi-stats must survive the checkpoint")
    assert(pruned("id", 1L, 2L).size < files.size)
    // and correctness is never a function of pruning: the narrowed read
    // equals the brute filter
    val got = graft.sources.GraftLogDataSource.narrowedRead(spark, t,
      CommitLog.currentVersion(t), mergeSchema = false,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))),
      Seq(GreaterThanOrEqual("x", 900L), LessThanOrEqual("x", 2000L)))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(100L), s"got ${got.toSeq}")
  }

  test("purge racing concurrent appends: serializable, nothing lost, tombstones lifted") {
    import spark.implicits._
    val t = freshTable("purgerace")
    // declared schema with a tombstone: evolve through the log directly
    CommitLog.append(Seq((1L, "a", 10L)).toDF("id", "s", "x"), t)
    val full = CommitLog.read(spark, t).schema
    CommitLog.evolveSchema(t,
      org.apache.spark.sql.types.StructType(full.filterNot(_.name == "s")),
      CommitLog.currentVersion(t), Seq("s"))
    assert(CommitLog.droppedPhysicalNames(t) == Set("s"))
    // purge and appends race from four threads; serializably must retry
    // losers until every write lands exactly once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val jobs = (1 to 3).map { i =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          gate.await()
          CommitLog.append(Seq((10L + i, 20L + i)).toDF("id", "x"), t); ()
        }
      })
    } :+ pool.submit(new Runnable {
      override def run(): Unit = {
        gate.await()
        CommitLog.purgeDroppedColumns(spark, t); ()
      }
    })
    gate.countDown()
    jobs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val ids = CommitLog.read(spark, t).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 11L, 12L, 13L),
      s"every racing write must land exactly once, got ${ids.toSeq}")
    assert(CommitLog.droppedPhysicalNames(t).isEmpty, "the purge must have landed")
    // files written AFTER the purge may or may not carry 's' bytes
    // depending on commit order — but the PURGED snapshot's content is
    // exact and the name is reusable either way
    assert(CommitLog.read(spark, t).schema.fieldNames.toSeq == Seq("id", "x"))
    assertNoLeakedFiles(t)
  }

  test("evolveSchema reserves tombstone names holding quotes, backslashes and newlines") {
    val t = freshTable("badtomb")
    CommitLog.append(df(1L -> "a"), t)
    val schema = CommitLog.read(spark, t).schema
    assertThrows[IllegalArgumentException](
      CommitLog.evolveSchema(t, schema, CommitLog.currentVersion(t), Seq("")))
    val names = Seq("a\"b", "a\nb", "a\\b")
    CommitLog.evolveSchema(t, schema, CommitLog.currentVersion(t), names)
    assert(CommitLog.droppedPhysicalNames(t) == names.toSet)
    CommitLog.checkpoint(t)
    assert(CommitLog.droppedPhysicalNames(t) == names.toSet,
      "the reservations must survive the checkpoint summary")
  }

  test("txnUpsert: merges exactly once; a replayed txn is a no-op") {
    val t = freshTable("txnupsert")
    assert(CommitLog.txnUpsert(spark, df(1L -> "a", 2L -> "b"), t, Seq("id"), "q#0").contains(0L))
    // replay of batch 0 must not re-apply (even with different content)
    assert(CommitLog.txnUpsert(spark, df(1L -> "WRONG"), t, Seq("id"), "q#0").isEmpty)
    assert(CommitLog.currentVersion(t) == 0L)
    // batch 1 merges: matched key replaced, new key lands
    assert(CommitLog.txnUpsert(spark, df(2L -> "B", 3L -> "c"), t, Seq("id"), "q#1").contains(1L))
    val now = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // markers survive a checkpoint roll (restart-after-maintenance dedup)
    CommitLog.checkpoint(t)
    assert(CommitLog.txnUpsert(spark, df(9L -> "x"), t, Seq("id"), "q#1").isEmpty)
    assert(CommitLog.read(spark, t).count() == 3)
  }

  test("dedupAppend: only unseen keys land; replay is a no-op with no empty commit") {
    val t = freshTable("ingest")
    assert(CommitLog.dedupAppend(spark, df(1L -> "a", 2L -> "b"), t, Seq("id")).contains(0L))
    assert(CommitLog.dedupAppend(spark, df(2L -> "X", 3L -> "c"), t, Seq("id")).contains(1L))
    val now = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // ingest is NOT upsert: key 2 keeps its original value
    assert(now == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(CommitLog.dedupAppend(spark, df(2L -> "X", 3L -> "c"), t, Seq("id")).isEmpty)
    assert(CommitLog.versions(t) == Seq(0L, 1L))   // the replay left no commit
  }

  test("additive schema evolution: a later append's new column reads as null for old rows") {
    import spark.implicits._
    val t = freshTable("schemaev")
    CommitLog.append(df(1L -> "a"), t)
    CommitLog.append(Seq((2L, "b", 0.9)).toDF("id", "v", "quality"), t)
    val merged = CommitLog.read(spark, t, mergeSchema = true)
    assert(merged.columns.sorted.toSeq == Seq("id", "quality", "v"))
    val byId = merged.collect().map { r =>
      val qi = r.fieldIndex("quality")
      r.getLong(r.fieldIndex("id")) ->
        (if (r.isNullAt(qi)) None else Some(r.getDouble(qi)))
    }.toMap
    assert(byId == Map(1L -> None, 2L -> Some(0.9)))
    // the default single-schema read stays cheap and serves SOME schema
    assert(CommitLog.read(spark, t).columns.length >= 2)
  }

  test("empty snapshot fails loudly instead of serving a schemaless frame") {
    val t = freshTable("empty")
    intercept[IllegalArgumentException] { CommitLog.read(spark, t) }
  }

  test("compact bin-packs live files, preserves content, no-ops at a met target") {
    val t = freshTable("compact")
    CommitLog.append(df(1L -> "a", 2L -> "b").repartition(3), t)
    CommitLog.append(df(3L -> "c", 4L -> "d").repartition(3), t)
    val before = CommitLog.snapshotFiles(t)
    assert(before.length > 2, s"fixture should start fragmented, got $before")

    assert(CommitLog.compact(spark, t, targetFiles = 2).contains(2L))
    assert(CommitLog.snapshotFiles(t).length == 2)
    val now = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now == Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))

    // already at target: no rewrite, no empty commit in the history
    assert(CommitLog.compact(spark, t, targetFiles = 2).isEmpty)
    assert(CommitLog.currentVersion(t) == 2L)

    // time travel across the compaction boundary still works until vacuum
    assert(CommitLog.read(spark, t, asOf = Some(0L)).count() == 2)
    val reclaimed = CommitLog.vacuum(t, retainMillis = 0)
    assert(reclaimed.toSet == before.toSet,
      s"vacuum must drop exactly the superseded files: $reclaimed vs $before")
  }

  test("checkpoint rolls the log: reads touch the summary + tail, not the history") {
    val t = freshTable("ckpt")
    (0 until 12).foreach(i => CommitLog.append(df(i.toLong -> s"v$i").coalesce(1), t))
    CommitLog.upsert(spark, df(0L -> "V0"), t, Seq("id"))
    val fullReplay = CommitLog.snapshotFiles(t)

    assert(CommitLog.checkpoint(t) == 12L)
    assert(CommitLog.lastCheckpoint(t).contains(12L))
    // checkpointed state is file-for-file the full replay, order included
    assert(CommitLog.snapshotFiles(t) == fullReplay)

    // the log keeps moving after the checkpoint
    CommitLog.append(df(100L -> "tail").coalesce(1), t)
    assert(CommitLog.currentVersion(t) == 13L)

    // expire the pre-checkpoint history: commits 0..11 reclaimed, commit 12
    // (the checkpointed version, the dense-probe anchor) retained
    val expired = CommitLog.expireLog(t)
    assert(expired.size == 12, s"expected commits 0..11 expired, got $expired")
    val logFiles = Files.list(Paths.get(t, "_log")).iterator()
    var n = 0
    while (logFiles.hasNext) { logFiles.next(); n += 1 }
    // O(1) log files regardless of history: ckpt summary + pointer +
    // anchor commit + one tail commit
    assert(n == 4, s"expected 4 log files after expiry, got $n")

    // the snapshot is still exactly right, from the summary + tail alone
    val now = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now == ((1L to 11L).map(i => i -> s"v$i").toMap
      + (0L -> "V0") + (100L -> "tail")))
    // time travel at and after the checkpoint still works
    assert(CommitLog.read(spark, t, asOf = Some(12L)).count() == 12)
    // below the checkpoint the history is gone — loud failure, not silence
    val e = intercept[RuntimeException] { CommitLog.read(spark, t, asOf = Some(3L)) }
    assert(e.getMessage.contains("expired"))
  }

  test("checkpoint preserves zone-map stats; a stale pointer is ignored") {
    import spark.implicits._
    val t = freshTable("ckptzone")
    CommitLog.appendClustered(spark, (1L to 100L).toDF("id"), t, "id", buckets = 2)
    val statsBefore = CommitLog.fileStats(t)
    CommitLog.checkpoint(t)
    CommitLog.expireLog(t)
    // stats flowed through the summary: pruning still works post-expiry
    assert(CommitLog.fileStats(t) == statsBefore)
    assert(CommitLog.prunedFiles(t, 1L, 5L).length == 1)

    // a pointer naming a missing summary (crash between the two checkpoint
    // writes) must be ignored, not dangled on
    Files.write(Paths.get(t, "_log", "_last_checkpoint"),
      "999".getBytes(StandardCharsets.UTF_8))
    assert(CommitLog.lastCheckpoint(t).isEmpty)
  }

  test("zone maps prune by range; files without stats are never skipped") {
    import spark.implicits._
    val t = freshTable("zonemap")
    // clustered append: 2 files with disjoint [lo, hi] zones
    CommitLog.appendClustered(spark,
      (1L to 100L).toDF("id"), t, "id", buckets = 2)
    val stats = CommitLog.fileStats(t)
    assert(stats.size == 2, s"both clustered files need stats: $stats")
    assert(stats.values.map { case (lo, hi) => (lo, hi) }.toSeq.sortBy(_._1)
      .sliding(2).forall { case Seq((_, h1), (l2, _)) => h1 < l2; case _ => true },
      s"zones must be disjoint: $stats")

    // a range inside one zone reads exactly that file
    val onezone = CommitLog.prunedFiles(t, 1L, 5L)
    assert(onezone.length == 1, s"expected 1 file for a one-zone range: $onezone")
    // a range spanning the boundary reads both
    assert(CommitLog.prunedFiles(t, 1L, 100L).length == 2)
    // a range outside every zone reads nothing
    assert(CommitLog.prunedFiles(t, 1000L, 2000L).isEmpty)

    // plain append carries no stats -> its file must survive every prune
    CommitLog.append((200L to 210L).toDF("id").coalesce(1), t)
    val afterPlain = CommitLog.prunedFiles(t, 1L, 5L)
    assert(afterPlain.length == 2,
      s"the stats-less file must always be read: $afterPlain")
    // and the skipping read still returns exactly the right rows
    val ids = spark.read.parquet(
        CommitLog.prunedFiles(t, 1L, 5L).map(f => java.nio.file.Paths.get(t, f).toString): _*)
      .filter($"id".between(1, 5)).as[Long].collect().sorted
    assert(ids.toSeq == (1L to 5L))
  }

  // versionAt resolves from commit-file mtimes; on filesystems with coarse
  // mtime granularity (1 s is common) sleep-based spacing is flaky, so the
  // tests stamp each commit's mtime explicitly and query between the stamps
  private def stampCommit(t: String, v: Long, ts: Long): Unit =
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(t, "_log", f"$v%012d.json"),
      java.nio.file.attribute.FileTime.fromMillis(ts))

  test("timestamp time travel resolves versions from commit times") {
    val t = freshTable("tstravel")
    val base = System.currentTimeMillis() - 1000000 // stamps must stay in the past
    CommitLog.append(df(1L -> "a"), t)                        // v0
    CommitLog.append(df(2L -> "b"), t)                        // v1
    CommitLog.append(df(3L -> "c"), t)                        // v2
    stampCommit(t, 0L, base)
    stampCommit(t, 1L, base + 10000)
    stampCommit(t, 2L, base + 20000)
    val betweenV0andV1 = base + 5000
    assert(CommitLog.versionAt(t, betweenV0andV1) == 0L)
    assert(CommitLog.versionAt(t, base + 20000) == 2L)
    val snap = CommitLog.readAsOfTimestamp(spark, t, betweenV0andV1)
      .collect().map(_.getLong(0)).sorted
    assert(snap.toSeq == Seq(1L), s"as-of snapshot should be v0 only: ${snap.toSeq}")
    // before any commit existed -> loud failure, not an empty read
    val tooEarly = intercept[IllegalArgumentException] {
      CommitLog.versionAt(t, 1L)
    }
    assert(tooEarly.getMessage.contains("precedes the retained history"))
  }

  test("timestamp time travel refuses timestamps past the expiry horizon") {
    val t = freshTable("tshorizon")
    val base = System.currentTimeMillis() - 1000000 // stamps must stay in the past
    CommitLog.append(df(1L -> "a"), t)                        // v0
    (1 to 3).foreach(i => CommitLog.append(df(i.toLong + 10 -> s"x$i"), t)) // v1..v3
    (0L to 3L).foreach(v => stampCommit(t, v, base + v * 10000))
    val whenV0Live = base + 5000
    CommitLog.checkpoint(t)
    CommitLog.expireLog(t)
    // the pre-checkpoint past is expired: a timestamp from v0's lifetime
    // must fail loudly, not silently serve a newer snapshot
    val gone = intercept[IllegalArgumentException] {
      CommitLog.versionAt(t, whenV0Live)
    }
    assert(gone.getMessage.contains("precedes the retained history"))
    // the present still resolves
    assert(CommitLog.readAsOfTimestamp(spark, t, System.currentTimeMillis())
      .count() == 4L)
  }

  test("metadata-only count: every add path records footer rows; absence degrades to undefined") {
    val t = freshTable("metacount")
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c"), t)             // v0
    assert(CommitLog.snapshotRowCount(t).contains(3L))

    CommitLog.txnAppend(df(4L -> "d"), t, "mc-batch-1")                  // v1
    assert(CommitLog.snapshotRowCount(t).contains(4L))

    CommitLog.upsert(spark, df(2L -> "B", 5L -> "e"), t, Seq("id"))      // v2: rewrite
    assert(CommitLog.snapshotRowCount(t).contains(5L),
      "a rewriting upsert's new files must carry fresh counts")
    // time travel: the metadata count is per-version
    assert(CommitLog.snapshotRowCount(t, Some(0L)).contains(3L))

    CommitLog.compact(spark, t, targetFiles = 1)                         // v3
    assert(CommitLog.snapshotRowCount(t).contains(5L),
      "compaction must leave the metadata count invariant")

    CommitLog.checkpoint(t)
    assert(CommitLog.snapshotRowCount(t).contains(5L),
      "counts must survive the checkpoint summary")

    // the metadata count always equals the scan
    assert(CommitLog.read(spark, t).count() == 5L)

    // a commit written by an older writer (no "rows" field) makes the
    // count undefined — never wrong. Handcraft one exactly as the old
    // vocabulary would: stage a real parquet file, add it count-less.
    val staged = CommitLog.read(spark, t).limit(1)
    staged.write.parquet(Paths.get(t, ".oldwriter").toString)
    val part = Files.list(Paths.get(t, ".oldwriter")).iterator().asScala
      .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
    Files.move(Paths.get(t, ".oldwriter", part), Paths.get(t, part))
    val v = CommitLog.currentVersion(t) + 1
    Files.write(Paths.get(t, "_log", f"$v%012d.json"),
      s"""{"op":"append"}\n{"add":"$part"}\n""".getBytes("UTF-8"))
    assert(CommitLog.snapshotRowCount(t).isEmpty,
      "one count-less live file must make the metadata count undefined")
    assert(CommitLog.read(spark, t).count() == 6L, "the scan still answers")
    // and the PRE-mixed version still counts from metadata
    assert(CommitLog.snapshotRowCount(t, Some(v - 1)).contains(5L))
  }

  test("snapshot size: log byte-size vocabulary with stat fallback for legacy adds") {
    val t = freshTable("metasize")
    CommitLog.append(df(1L -> "a", 2L -> "b"), t)                        // v0
    CommitLog.upsert(spark, df(2L -> "B", 3L -> "c"), t, Seq("id"))      // v1
    def diskSum(asOf: Option[Long]): Long =
      CommitLog.snapshotFiles(t, asOf).map(f => Files.size(Paths.get(t, f))).sum
    assert(CommitLog.snapshotSizeBytes(t) == diskSum(None))
    assert(CommitLog.snapshotSizeBytes(t, Some(0L)) == diskSum(Some(0L)),
      "time travel must size the pinned snapshot, not the head")

    // a legacy bytes-less add is sized by a filesystem stat — exact
    // either way, the vocabulary just saves the stat
    val staged = CommitLog.read(spark, t).limit(1)
    staged.write.parquet(Paths.get(t, ".oldwriter2").toString)
    val part = Files.list(Paths.get(t, ".oldwriter2")).iterator().asScala
      .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
    Files.move(Paths.get(t, ".oldwriter2", part), Paths.get(t, part))
    val v = CommitLog.currentVersion(t) + 1
    Files.write(Paths.get(t, "_log", f"$v%012d.json"),
      s"""{"op":"append"}\n{"add":"$part"}\n""".getBytes("UTF-8"))
    assert(CommitLog.snapshotSizeBytes(t) == diskSum(None),
      "stat fallback must keep the size exact for legacy commits")

    // sizes survive the checkpoint summary
    CommitLog.checkpoint(t)
    assert(CommitLog.snapshotSizeBytes(t) == diskSum(None))
  }

  test("change data feed: appends are inserts, rewrites diff, layout is silent") {
    val t = freshTable("cdf")
    CommitLog.append(df(1L -> "a", 2L -> "b"), t)                      // v0
    CommitLog.upsert(spark, df(2L -> "B"), t, Seq("id"))               // v1
    assert(CommitLog.compact(spark, t, targetFiles = 1).contains(2L))  // v2: layout

    def rows(from: Long, to: Long): Set[(String, Long, Long, String)] =
      CommitLog.changes(spark, t, from, to)
        .select("_change_type", "_commit_version", "id", "v")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet

    assert(rows(-1L, 0L) == Set(("insert", 0L, 1L, "a"), ("insert", 0L, 2L, "b")))
    // the upsert carried (1, a) untouched: it cancels out of the diff
    assert(rows(0L, 1L) == Set(("insert", 1L, 2L, "B"), ("delete", 1L, 2L, "b")))
    // a compaction moves bytes, never rows
    assert(CommitLog.changes(spark, t, 1L, 2L).count() == 0L)
    // the full window composes
    assert(rows(-1L, 2L).size == 4)
    // past the vacuum horizon the old files are gone: loud, not wrong
    CommitLog.vacuum(t, retainMillis = 0)
    intercept[Exception] { rows(0L, 1L) }
  }

  test("a change window holding a rewrite, a dv commit and an append runs in two jobs") {
    val t = freshTable("cdfjobs")
    CommitLog.append(df(1L -> "a", 2L -> "b"), t)                      // v0
    CommitLog.enableDv(t)                                               // v1
    CommitLog.upsert(spark, df(2L -> "B", 3L -> "c"), t, Seq("id"))    // v2
    CommitLog.dvDelete(spark, t, col("id") === 1L)                      // v3
    CommitLog.append(df(4L -> "d"), t)                                  // v4
    val feed = CommitLog.changes(spark, t, 0L, CommitLog.currentVersion(t))
    val (rows, jobs) = jobsDuring(feed.collect())
    assert(rows.map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"),
      r.getAs[Long]("id"), r.getAs[String]("v"))).toSet == Set(
      ("delete", 2L, 2L, "b"), ("insert", 2L, 2L, "B"), ("insert", 2L, 3L, "c"),
      ("delete", 3L, 1L, "a"), ("insert", 4L, 4L, "d")))
    // the diff's shuffle stage and the result stage; the stamps ride the
    // task closure, so no local frame is broadcast through a job of its own
    assert(jobs <= 2, s"changes() collect ran $jobs jobs")
  }

  test("widening a change window to 200 files leaves the plan's size flat") {
    import org.apache.spark.sql.execution.ExplainMode
    val t = freshTable("cdfplan")
    val staging = Paths.get(t, ".bulk")
    Files.createDirectories(Paths.get(t))
    spark.range(200)
      .select(col("id"), col("id").as("pid"), concat(lit("r"), col("id")).as("v"))
      .write.partitionBy("pid").parquet(staging.toString)
    (0 until 200).foreach { i =>
      val p = Files.list(staging.resolve(s"pid=$i")).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(p, Paths.get(t, f"bulk-$i%03d.parquet"))
      CommitLog.replaceFiles(t, Seq.empty, Seq(f"bulk-$i%03d.parquet"), None, op = "append")
    }
    CommitLog.upsert(spark, df(7L -> "R7"), t, Seq("id"))
    val head = CommitLog.currentVersion(t)
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def shape(fromV: Long): (Int, Int, Int) = {
      val feed = CommitLog.changes(spark, t, fromV, head)
      val n = feed.collect().length
      val plan = feed.queryExecution.executedPlan
      // numbers (expression ids, counts) and the scan's abbreviated file
      // listing vary between any two plans; what is left must not grow
      val text = feed.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .replaceAll("(?m)^Location: .*$", "Location").replaceAll("\\d+", "0")
      (n, helper.collect(plan) { case p => p }.size, text.length)
    }
    val (narrowRows, narrowNodes, narrowChars) = shape(head - 2)
    val (wideRows, wideNodes, wideChars) = shape(-1L)
    assert(narrowRows == 3 && wideRows == 202, s"rows: $narrowRows, $wideRows")
    assert(wideNodes == narrowNodes, s"executed plan nodes: 2 files $narrowNodes, 200 files $wideNodes")
    assert(wideChars == narrowChars, s"explain length: 2 files $narrowChars, 200 files $wideChars")
  }

  test("metadata-only min/max: exact from full zone coverage, undefined otherwise") {
    import spark.implicits._
    val t = freshTable("metaminmax")
    CommitLog.appendClustered(spark,
      (5L to 104L).map(i => (i, s"v$i")).toDF("k", "v"), t, "k", buckets = 4)
    assert(CommitLog.snapshotMinMax(t, "k").contains((5L, 104L)))
    assert(CommitLog.snapshotMinMax(t, "K").contains((5L, 104L)), "case-insensitive")
    assert(CommitLog.snapshotMinMax(t, "v").isEmpty, "stats are on k, not v")
    // a stats-less append makes the answer undefined — never wrong
    CommitLog.append(df(999L -> "x").select(col("id").as("k"), col("v")), t)
    assert(CommitLog.snapshotMinMax(t, "k").isEmpty,
      "a file without a recorded range could hide the true extreme")
    // time travel back to full coverage still answers
    assert(CommitLog.snapshotMinMax(t, "k", Some(0L)).contains((5L, 104L)))
  }

  test("logical conflict resolution: a blind append racing a dvDelete " +
      "lands both WITHOUT a re-scan; overlap races still re-derive") {
    val t = freshTable("reconcile")
    // ONE file, so the overlap race below really is a SAME-FILE race
    // (disjoint-file DML racers reconcile since round 15)
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
      .coalesce(1), t)                                                   // v0
    CommitLog.enableDv(t)                                                // v1
    // the candidates callback runs exactly once per body execution, so
    // counting it counts the statement's scans — a blind append landed
    // BETWEEN the scan and the commit must reconcile, not re-derive
    var bodyRuns = 0
    val v = CommitLog.dvDelete(spark, t, col("id") === 2L, Some { tip =>
      bodyRuns += 1
      if (bodyRuns == 1) { CommitLog.append(df(100L -> "x"), t); () }
      CommitLog.snapshotFiles(t, Some(tip))
    })
    assert(bodyRuns == 1,
      "the delete's scan must run ONCE — the blind append reconciles")
    assert(v.isDefined && v.get == CommitLog.currentVersion(t),
      "the reconciled delete lands above the racer")
    val got = CommitLog.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 3L, 4L, 100L), s"both commits must land: $got")

    // an overlapping racer (another statement's deletion vectors) is NOT
    // blind: the statement must abort and re-derive at the fresh tip
    var bodyRuns2 = 0
    val v2 = CommitLog.dvDelete(spark, t, col("id") === 3L, Some { tip =>
      bodyRuns2 += 1
      if (bodyRuns2 == 1) { CommitLog.dvDelete(spark, t, col("id") === 4L); () }
      CommitLog.snapshotFiles(t, Some(tip))
    })
    assert(bodyRuns2 == 2,
      "a racer vectoring the SAME file must force the re-derive")
    assert(v2.isDefined)
    val got2 = CommitLog.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == Seq(1L, 100L), s"all three deletes must land: $got2")
  }

  test("disjoint-file DML racers reconcile: concurrent dvDeletes on " +
      "different files both land with ONE scan each; adders and " +
      "same-file racers still re-derive") {
    val t = freshTable("dmlreconcile")
    CommitLog.append(df(1L -> "a", 2L -> "b").coalesce(1), t)   // v0: file A
    CommitLog.append(df(10L -> "x", 11L -> "y").coalesce(1), t) // v1: file B
    CommitLog.enableDv(t)                                        // v2
    // racer: a dvDelete whose merged vector touches ONLY file B lands
    // between our scan (which will touch only file A) and our commit —
    // read/write sets disjoint, BOTH land, neither re-scans
    var bodyRuns = 0
    val v = CommitLog.dvDelete(spark, t, col("id") === 1L, Some { tip =>
      bodyRuns += 1
      if (bodyRuns == 1) { CommitLog.dvDelete(spark, t, col("id") === 10L); () }
      CommitLog.snapshotFiles(t, Some(tip))
    })
    assert(bodyRuns == 1,
      "a disjoint-file DML racer must reconcile, not force a re-scan")
    assert(v.isDefined && v.get == CommitLog.currentVersion(t),
      "the reconciled delete lands above the racer")
    val got = CommitLog.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2L, 11L), s"both deletes must land exactly once: $got")
    // a racer that ADDS files (merge images) is NOT reconcilable — its
    // fresh bytes could match our predicate, only a re-scan can tell
    var bodyRuns2 = 0
    val v2 = CommitLog.dvDelete(spark, t, col("id") === 11L, Some { tip =>
      bodyRuns2 += 1
      if (bodyRuns2 == 1) {
        CommitLog.dvMerge(spark, df(50L -> "new"), t, Seq("id")); ()
      }
      CommitLog.snapshotFiles(t, Some(tip))
    })
    assert(bodyRuns2 == 2, "a file-ADDING DML racer must force the re-derive")
    assert(v2.isDefined)
    val got2 = CommitLog.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == Seq(2L, 50L), s"merge insert and delete both land: $got2")
  }

  test("compaction racing concurrent ingest: every appended row survives") {
    val t = freshTable("compactrace")
    (1L to 4L).foreach(i => CommitLog.append(df(i -> s"base$i").coalesce(1), t))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      // maintenance and ingest fire together; compact's commit reconciles
      // past any blind append that lands mid-rewrite (the racer's file is
      // simply left uncompacted) instead of re-reading the table
      val compactF = scala.concurrent.Future {
        CommitLog.compact(spark, t, targetFiles = 1)
      }
      val ingestF = scala.concurrent.Future {
        (10L to 14L).foreach(i => CommitLog.append(df(i -> s"live$i").coalesce(1), t))
      }
      scala.concurrent.Await.result(compactF, scala.concurrent.duration.Duration(120, "s"))
      scala.concurrent.Await.result(ingestF, scala.concurrent.duration.Duration(120, "s"))
    } finally pool.shutdown()
    val got = CommitLog.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((1L to 4L) ++ (10L to 14L)).toSeq,
      s"no appended or compacted row may be lost or duplicated: $got")
    assertNoLeakedFiles(t)
  }

  test("replay never serves a deleted-and-recreated table's dead generation, " +
      "even at an identical commit mtime") {
    val t = freshTable("regen")
    CommitLog.append(df(1L -> "old"), t)
    // warm the replay + parsed caches on generation 1
    assert(CommitLog.read(spark, t).collect().map(_.getString(1)).toSeq
      == Seq("old"))
    val logFile = Paths.get(t, "_log", f"${0L}%012d.json")
    val oldMtime = Files.getLastModifiedTime(logFile)
    // delete and recreate the table at the SAME path and version count
    Files.walk(Paths.get(t)).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
    CommitLog.append(df(2L -> "new"), t)
    // force the aliasing worst case a coarse-mtime key would miss: same
    // path, same version, same millisecond timestamp — only the inode
    // (fileKey) distinguishes the generations
    Files.setLastModifiedTime(logFile, oldMtime)
    val served = CommitLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(served == Seq(2L -> "new"),
      s"replay served the dead generation's snapshot: $served")
  }

  // names are JSON-escaped by the log codec: a name holding a quote is
  // written and replayed as itself, never truncated to another column
  test("a clustering column whose name holds a quote survives the log") {
    import spark.implicits._
    val t = freshTable("quotedcluster")
    CommitLog.append((1L to 40L).map(i => (i, s"v$i")).toDF("a\"b", "v"), t)
    CommitLog.compactClustered(spark, t, "a\"b", 4)
    assert(CommitLog.declaredClustering(t) == Some(("a\"b", 4)))
    assert(CommitLog.fileStatsColumns(t).values.toSet == Set("a\"b"),
      "every clustered add must name the quoted column itself")
    assert(CommitLog.read(spark, t).count() == 40L)
  }

  test("a bloom column whose name holds a quote is declared as itself") {
    import spark.implicits._
    val t = freshTable("quotedbloom")
    CommitLog.append(Seq((1L, "x")).toDF("a\"b", "v"), t)
    CommitLog.declareBloom(spark, t, "a\"b")
    assert(CommitLog.declaredBloom(t) == Some("a\"b"))
    // the next ingest dedups on that column and records its bloom
    CommitLog.dedupAppend(spark, Seq((2L, "y"), (1L, "dup")).toDF("a\"b", "v"), t,
      Seq("a\"b"))
    assert(CommitLog.read(spark, t).count() == 2L)
    assert(CommitLog.fileBlooms(t).size == 1)
  }

  test("a txnAppend id holding quotes, backslashes and newlines replays as committed") {
    val t = freshTable("txnquote")
    val id = "q\"uery\\x#\n7"
    assert(CommitLog.txnAppend(df(1L -> "a"), t, id).contains(0L))
    assert(CommitLog.txnAppend(df(1L -> "a"), t, id).isEmpty,
      "a replayed id must commit nothing")
    assert(CommitLog.transactions(t) == Set(id))
    CommitLog.checkpoint(t)
    assert(CommitLog.txnAppend(df(1L -> "a"), t, id).isEmpty,
      "the marker must survive the checkpoint summary")
    assert(CommitLog.read(spark, t).count() == 1L)
  }

  test("a corrupt commit line fails the read, naming the file and line") {
    val t = freshTable("corrupt")
    CommitLog.append(df(1L -> "a"), t)
    Files.write(Paths.get(t, "_log", f"${1L}%012d.json"),
      "{\"op\":\"alter\"}\n{\"bloomon\":\"a\"b\"}\n".getBytes(StandardCharsets.UTF_8))
    val e = intercept[IllegalStateException](CommitLog.snapshotFiles(t))
    assert(e.getMessage.contains(f"${1L}%012d.json") && e.getMessage.contains("line 2"),
      e.getMessage)
    // time travel below the corrupt commit still serves
    assert(CommitLog.snapshotFiles(t, Some(0L)).size == 1)
  }
}
