package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.io.CommitLog

/** Merge-on-read DELETE (deletion vectors): the sidecar protocol, the
  * read/CDF/time-travel semantics, and the materialization + reclaim
  * lifecycle the tl36 gate exercises end-to-end from SQL. Design source:
  * the public Delta deletion-vector and Iceberg position-delete
  * conventions (opt-in property, per-file suppressed-position sidecars,
  * OPTIMIZE materializes). */
class DeletionVectorSpec extends SparkSpec {

  private def freshTable(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft_dv_$name")
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

  test("sidecar encodings: dense vectors drop to the range bitset, sparse " +
      "stay raw positions, both roundtrip and merge") {
    val t = freshTable("encoding")
    Files.createDirectories(Paths.get(t))
    // dense: 10k of 12k consecutive rows -> bitset (~1.5 KB vs 80 KB raw)
    val dense = (0L until 12000L).filter(_ % 6 != 0).toArray
    graft.io.DvSidecars.write(t, "dense.dv-x", dense)
    val denseBytes = Files.size(Paths.get(t, "dense.dv-x"))
    assert(denseBytes < 8L * dense.length / 10,
      s"a dense vector must encode compactly, got $denseBytes bytes for " +
        s"${dense.length} positions")
    assert(graft.io.DvSidecars.read(t, "dense.dv-x").toSeq == dense.toSeq,
      "the bitset must expand back to the exact sorted positions")
    assert(graft.io.DvSidecars.suppressed(t, "dense.dv-x", 1L) &&
      !graft.io.DvSidecars.suppressed(t, "dense.dv-x", 0L) &&
      !graft.io.DvSidecars.suppressed(t, "dense.dv-x", 999999L))
    // sparse: 3 positions across a wide span -> raw (a bitset would be MBs)
    val sparse = Array(5L, 100000L, 90000000L)
    graft.io.DvSidecars.write(t, "sparse.dv-x", sparse)
    assert(Files.size(Paths.get(t, "sparse.dv-x")) == 12L + 8L * sparse.length,
      "a sparse vector must stay raw sorted positions")
    assert(graft.io.DvSidecars.read(t, "sparse.dv-x").toSeq == sparse.toSeq)
    // a LIVE table whose successive deletes cross encodings still merges
    // and reads exactly (dense first delete, sparse second)
    import spark.implicits._
    val t2 = freshTable("encoding_merge")
    CommitLog.append(spark.range(20000).select(col("id"),
      concat(lit("v"), col("id")).as("v")), t2)
    CommitLog.enableDv(t2)
    assert(CommitLog.dvDelete(spark, t2,
      col("id") >= 1000L && col("id") < 9000L).nonEmpty) // dense
    assert(CommitLog.dvDelete(spark, t2, col("id") === 19999L).nonEmpty) // sparse
    val left = CommitLog.read(spark, t2).agg(
      count(lit(1)), sum(col("id"))).head()
    val expect = (0L until 20000L)
      .filterNot(i => (i >= 1000L && i < 9000L) || i == 19999L)
    assert(left.getLong(0) == expect.size && left.getLong(1) == expect.sum,
      "cross-encoding merged vectors must suppress exactly the union")
  }

  test("dvDelete suppresses exactly the matching rows; no data file moves") {
    val t = freshTable("basic")
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c"), t)
    CommitLog.append(df(4L -> "d", 5L -> "e"), t)
    CommitLog.enableDv(t)
    val filesBefore = CommitLog.snapshotFiles(t)
    val v = CommitLog.dvDelete(spark, t, col("id") === 2L || col("id") === 5L)
    assert(v.isDefined)
    assert(CommitLog.snapshotFiles(t) == filesBefore,
      "a dv delete must not add or remove data files")
    val now = CommitLog.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(now == Set(1L, 3L, 4L))
    assert(CommitLog.dvRowCount(t) == 2L)
    // the commit is dv actions only
    val c = CommitLog.readCommit(t, v.get)
    assert(c.op == "delete" && c.add.isEmpty && c.remove.isEmpty && c.dv.size == 2)
  }

  test("dvDelete refuses without enableDv; matches-nothing commits nothing") {
    val t = freshTable("refuse")
    CommitLog.append(df(1L -> "a"), t)
    val e = intercept[IllegalArgumentException] {
      CommitLog.dvDelete(spark, t, col("id") === 1L)
    }
    assert(e.getMessage.contains("deletion vectors are not enabled"))
    CommitLog.enableDv(t)
    val tip = CommitLog.currentVersion(t)
    assert(CommitLog.dvDelete(spark, t, col("id") === 99L).isEmpty)
    assert(CommitLog.currentVersion(t) == tip, "a no-match delete writes no commit")
  }

  test("successive deletes merge vectors; time travel serves each version") {
    val t = freshTable("merge")
    CommitLog.append(df((1L to 6L).map(i => i -> s"r$i"): _*), t) // v0
    CommitLog.enableDv(t)                                         // v1
    CommitLog.dvDelete(spark, t, col("id") === 2L)                // v2
    CommitLog.dvDelete(spark, t, col("id").isin(3L, 4L))          // v3
    assert(CommitLog.read(spark, t).collect().map(_.getLong(0)).toSet ==
      Set(1L, 5L, 6L))
    assert(CommitLog.dvRowCount(t) == 3L, "the second vector must carry the first's positions")
    assert(CommitLog.read(spark, t, Some(2L)).collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 4L, 5L, 6L))
    assert(CommitLog.read(spark, t, Some(1L)).count() == 6L)
    assert(CommitLog.snapshotRowCount(t).contains(3L),
      "metadata count(*) must subtract suppressed rows exactly")
  }

  test("random predicate sweep: dv read == filtered full read") {
    val t = freshTable("sweep")
    val n = 500
    import spark.implicits._
    val data = (1L to n).map(i => (i, i % 17, s"s${i % 7}")).toDF("id", "k", "s")
    // three appends so vectors land per-file
    CommitLog.append(data.filter(col("id") <= 150), t)
    CommitLog.append(data.filter(col("id") > 150 && col("id") <= 350), t)
    CommitLog.append(data.filter(col("id") > 350), t)
    CommitLog.enableDv(t)
    val rnd = new scala.util.Random(42)
    var expectedGone = Set.empty[Long]
    for (i <- 0 until 5) {
      val m = rnd.nextInt(15) + 2
      val r = rnd.nextInt(m)
      CommitLog.dvDelete(spark, t, col("id") % m === r)
      expectedGone ++= (1L to n).filter(x => x % m == r)
      val got = CommitLog.read(spark, t).select("id").as[Long].collect().toSet
      assert(got == (1L to n).toSet -- expectedGone, s"sweep $i: wrong survivors")
      assert(CommitLog.snapshotRowCount(t).contains(n - expectedGone.size))
    }
  }

  test("CDF: a dv commit emits exactly the newly suppressed rows as deletes") {
    val t = freshTable("cdf")
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), t) // v0
    CommitLog.enableDv(t)                                               // v1
    CommitLog.dvDelete(spark, t, col("id").isin(2L, 3L))                // v2
    CommitLog.dvDelete(spark, t, col("id") === 4L)                      // v3
    val w = CommitLog.changes(spark, t, 1L, 3L)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(w == Set((2L, "delete", 2L), (3L, "delete", 2L), (4L, "delete", 3L)),
      s"got $w")
    // a window from v0 sees the inserts AND the later deletes
    val full = CommitLog.changes(spark, t, -1L, 3L)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(full.count(_._2 == "insert") == 4 && full.count(_._2 == "delete") == 3)
  }

  test("a CDF stream delivers a dv commit as delete records") {
    import org.apache.spark.sql.streaming.Trigger
    val t = freshTable("cdfstream")
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c"), t) // v0
    CommitLog.enableDv(t)                                     // v1
    CommitLog.dvDelete(spark, t, col("id") === 2L)            // v2
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = spark.readStream.format("graftlog")
      .option("readChangeFeed", "true").load(t)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got.add((r.getLong(0),
          r.getString(r.fieldIndex("_change_type")),
          r.getLong(r.fieldIndex("_commit_version")))))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000L), "CDF stream drain timed out")
    import scala.jdk.CollectionConverters._
    val rows = got.iterator().asScala.toSeq.sorted
    assert(rows.count(_._2 == "insert") == 3, s"got $rows")
    assert(rows.filter(_._2 == "delete") == Seq((2L, "delete", 2L)),
      s"the dv commit must stream as exactly its suppressed row: $rows")
  }

  test("dvUpdate: suppress old images, append new, one commit, CDF = update pair") {
    val t = freshTable("update")
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c"), t) // v0
    CommitLog.enableDv(t)                                     // v1
    val filesBefore = CommitLog.snapshotFiles(t)
    val v = CommitLog.dvUpdate(spark, t, col("id") === 2L,
      Map("v" -> upper(col("v"))))
    assert(v.isDefined)
    val c = CommitLog.readCommit(t, v.get)
    assert(c.op == "update" && c.remove.isEmpty && c.add.nonEmpty && c.dv.nonEmpty)
    assert(filesBefore.forall(CommitLog.snapshotFiles(t).contains),
      "no pre-update file may be removed")
    val now = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(now == Seq(1L -> "a", 2L -> "B", 3L -> "c"), s"got $now")
    assert(CommitLog.snapshotRowCount(t).contains(3L),
      "metadata count must balance: one suppressed, one appended")
    // Delta-parity labels: an UPDATE's change rows are the paired
    // update_preimage (old image) / update_postimage (new image)
    val w = CommitLog.changes(spark, t, v.get - 1, v.get)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(w == Set((2L, "b", "update_preimage"), (2L, "B", "update_postimage")),
      s"got $w")
    // a violating image refuses through the staging chokepoint
    CommitLog.addConstraint(spark, t, "v_nonempty", "length(v) > 0")
    intercept[IllegalStateException] {
      CommitLog.dvUpdate(spark, t, col("id") === 3L, Map("v" -> lit("")))
    }
    assert(CommitLog.read(spark, t).count() == 3L)
    // time travel below the update still serves the old image
    assert(CommitLog.read(spark, t, Some(v.get - 1)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap.apply(2L) == "b")
  }

  test("dvMerge: matched keys replaced, unmatched inserted, no file rewritten") {
    val t = freshTable("dvmerge")
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c"), t) // v0
    CommitLog.enableDv(t)                                     // v1
    val before = CommitLog.snapshotFiles(t)
    val v = CommitLog.dvMerge(spark, df(2L -> "B", 4L -> "D"), t, Seq("id"))
    val c = CommitLog.readCommit(t, v)
    assert(c.op == "merge" && c.remove.isEmpty && c.add.nonEmpty && c.dv.nonEmpty)
    assert(before.forall(CommitLog.snapshotFiles(t).contains))
    val now = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(now == Seq(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"), s"got $now")
    assert(CommitLog.snapshotRowCount(t).contains(4L))
    // upsert-equivalent semantics with Delta-parity labels: the matched
    // key streams as an update pair, the new key as a plain insert
    val w = CommitLog.changes(spark, t, v - 1, v)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(w == Set((2L, "b", "update_preimage"), (2L, "B", "update_postimage"),
      (4L, "D", "insert")), s"got $w")
    // a second merge over the SAME key merges vectors (two suppressed
    // images of id=2 across two files now)
    CommitLog.dvMerge(spark, df(2L -> "B2"), t, Seq("id"))
    val now2 = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(now2 == Seq(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "D"), s"got $now2")
    // time travel below both merges
    assert(CommitLog.read(spark, t, Some(1L)).count() == 3L)
  }

  test("graft.dv.maxRatio: a past-ratio file materializes in the SAME " +
      "commit; below-ratio vectors stay") {
    val t = freshTable("maxratio")
    CommitLog.append(
      df(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e").coalesce(1), t) // v0: file A
    CommitLog.append(
      df(6L -> "f", 7L -> "g", 8L -> "h", 9L -> "i", 10L -> "j").coalesce(1), t) // v1: file B
    CommitLog.enableDv(t)                                                        // v2
    CommitLog.setDvMaxRatio(t, 0.5)                                              // v3
    assert(CommitLog.dvMaxRatioOf(t).contains(0.5))
    // below the ratio everywhere (1/5 per file): vectors land, no rewrite
    val v4 = CommitLog.dvDelete(spark, t, col("id").isin(1L, 6L)).get
    val c4 = CommitLog.readCommit(t, v4)
    assert(c4.dv.size == 2 && c4.add.isEmpty && c4.remove.isEmpty,
      s"below-ratio deletes stay merge-on-read: $c4")
    // pushing file A past the ratio (merged 3/5 > 0.5) materializes it in
    // the SAME commit; file B (2/5) keeps its vector
    val v5 = CommitLog.dvDelete(spark, t, col("id").isin(2L, 3L, 7L)).get
    val c5 = CommitLog.readCommit(t, v5)
    assert(c5.remove.size == 1 && c5.add.nonEmpty && c5.dv.size == 1,
      s"the past-ratio file must rewrite, the other keep its vector: $c5")
    val dvs = CommitLog.dvFor(t)
    assert(!dvs.contains(c5.remove.head) && dvs.size == 1 &&
        dvs.values.head._2 == 2L,
      s"only file B may still carry a vector: $dvs")
    val now = CommitLog.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
    assert(now == Seq(4L, 5L, 8L, 9L, 10L), s"got $now")
    assert(CommitLog.snapshotRowCount(t).contains(5L),
      "metadata count stays exact through the materialization")
    // CDF of the materialization commit: exactly the three deletes —
    // the remove-at-old-vector/add pair diffs to the suppressed rows
    val w = CommitLog.changes(spark, t, v5 - 1, v5)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(w == Set((2L, "delete"), (3L, "delete"), (7L, "delete")), s"got $w")
    // time travel below the materialization still serves
    assert(CommitLog.read(spark, t, Some(v4)).count() == 8L)
    // the checkpoint rolls the declaration
    CommitLog.checkpoint(t)
    assert(CommitLog.dvMaxRatioOf(t).contains(0.5))
  }

  test("graft.dv.maxRatio + dvMerge: a commit that materializes EVERY " +
      "touched file (annotations, zero dv actions) still serves CDF " +
      "update labels") {
    val t = freshTable("maxratio_cdf")
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c").coalesce(1), t) // v0
    CommitLog.enableDv(t)                                                // v1
    CommitLog.setDvMaxRatio(t, 0.5)                                      // v2
    // the merge matches 2/3 of the only candidate file's rows (> 0.5):
    // the policy materializes it in the same commit, so the commit
    // carries `.dvu-`/cdfpost ANNOTATIONS but ZERO dv actions — the CDF
    // scan branch must still be pos-tagged (pre-fix: AnalysisException,
    // the plain branch has no DvFileCol to join the kind frame on)
    val v = CommitLog.dvMerge(spark, df(1L -> "A", 2L -> "B", 9L -> "z"),
      t, Seq("id"))
    val c = CommitLog.readCommit(t, v)
    assert(c.dv.isEmpty && c.remove.nonEmpty && c.add.nonEmpty,
      s"repro needs a fully-materialized merge commit: $c")
    val w = CommitLog.changes(spark, t, v - 1, v)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(w == Set(
      (1L, "a", "update_preimage"), (1L, "A", "update_postimage"),
      (2L, "b", "update_preimage"), (2L, "B", "update_postimage"),
      (9L, "z", "insert")), s"got $w")
    val now = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(now == Seq(1L -> "A", 2L -> "B", 3L -> "c", 9L -> "z"), s"got $now")
  }

  test("a fully-suppressed table survives compact and the maxRatio policy: " +
      "empty but readable, schema kept") {
    val t = freshTable("fullsuppress")
    CommitLog.append(df(1L -> "a", 2L -> "b").coalesce(1), t)
    CommitLog.enableDv(t)
    CommitLog.setDvMaxRatio(t, 0.5)
    // every row of every live file suppressed: the policy must NOT
    // materialize the table into filelessness — vectors stay
    CommitLog.dvDelete(spark, t, col("id") > 0L)
    assert(CommitLog.read(spark, t).count() == 0L, "empty but readable")
    assert(CommitLog.snapshotFiles(t).nonEmpty, "a schema source must remain")
    assert(CommitLog.snapshotRowCount(t).contains(0L))
    // compact materializes the all-suppressed state: one explicit empty
    // file keeps the snapshot readable, vectors gone
    CommitLog.compact(spark, t, targetFiles = 1)
    assert(CommitLog.dvRowCount(t) == 0L, "compact must clear the vectors")
    assert(CommitLog.snapshotFiles(t).nonEmpty, "the empty guard file remains")
    val empty = CommitLog.read(spark, t)
    assert(empty.count() == 0L && empty.columns.toSeq == Seq("id", "v"),
      "schema survives the emptying compact")
    // the table keeps working
    CommitLog.append(df(9L -> "z"), t)
    assert(CommitLog.read(spark, t).count() == 1L)
  }

  test("concurrent dvDeletes serialize: both land, vectors merge, no lost delete") {
    val t = freshTable("race")
    CommitLog.append(df((1L to 12L).map(i => i -> s"r$i"): _*).coalesce(2), t)
    CommitLog.enableDv(t)
    // two writers deleting disjoint row sets race on the same files; the
    // loser's conflict-abort must re-derive against the winner's vector
    // (serializably), so BOTH deletions survive in the merged vectors
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = Seq(Seq(2L, 5L, 8L), Seq(3L, 6L, 9L)).map { ids =>
        pool.submit(new java.util.concurrent.Callable[Option[Long]] {
          override def call(): Option[Long] =
            CommitLog.dvDelete(spark, t, col("id").isin(ids: _*))
        })
      }
      assert(futures.forall(_.get(120, java.util.concurrent.TimeUnit.SECONDS).isDefined))
    } finally pool.shutdown()
    val got = CommitLog.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(got == (1L to 12L).toSet -- Set(2L, 3L, 5L, 6L, 8L, 9L), s"got $got")
    assert(CommitLog.dvRowCount(t) == 6L)
    assertNoLeakedFiles(t)
  }

  test("dvUpdate racing dvMerge on the same files: both land in one serial " +
      "order, the change feed labels both, nothing leaks") {
    val t = freshTable("updmerge")
    CommitLog.append(df((1L to 6L).map(i => i -> s"r$i"): _*).coalesce(1), t) // v0
    CommitLog.enableDv(t)                                                     // v1
    // the merge lands between the update's snapshot read and its commit:
    // both write vectors for the one base file and both append images, so
    // neither can reconcile past the other — the update must reclaim what
    // it staged and re-derive on top of the merge
    var updateRuns = 0
    val vu = CommitLog.dvUpdate(spark, t, col("id").isin(2L, 4L), Map("v" -> lit("u")),
      Some { tip =>
        updateRuns += 1
        if (updateRuns == 1) {
          assert(CommitLog.dvMerge(spark, df(4L -> "m4", 9L -> "m9"), t, Seq("id")) == 2L)
        }
        CommitLog.snapshotFiles(t, Some(tip))
      })
    assert(updateRuns == 2, "the update must lose the race and re-derive once")
    assert(vu.contains(3L), s"the update lands above the merge: $vu")
    // the serial order merge-then-update: id 4 takes the merge's image,
    // then the update's
    val rows = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(rows == Seq(1L -> "r1", 2L -> "u", 3L -> "r3", 4L -> "u", 5L -> "r5",
      6L -> "r6", 9L -> "m9"), s"got $rows")
    val feed = CommitLog.changes(spark, t, 1L, 3L)
      .select("id", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(feed == Set(
      (4L, "r4", "update_preimage", 2L), (4L, "m4", "update_postimage", 2L),
      (9L, "m9", "insert", 2L),
      (2L, "r2", "update_preimage", 3L), (2L, "u", "update_postimage", 3L),
      (4L, "m4", "update_preimage", 3L), (4L, "u", "update_postimage", 3L)),
      s"got $feed")
    assertNoLeakedFiles(t)
  }

  test("compact materializes vectors: clean files, native reads return") {
    val t = freshTable("mat")
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c"), t)
    CommitLog.enableDv(t)
    CommitLog.dvDelete(spark, t, col("id") === 2L)
    assert(CommitLog.dvRowCount(t) == 1L)
    val v = CommitLog.compact(spark, t, 1)
    assert(v.isDefined, "compact must trigger on live vectors even at one file")
    assert(CommitLog.dvRowCount(t) == 0L)
    assert(CommitLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // CDF over the compact commit: layout-only, zero change rows
    assert(CommitLog.changes(spark, t, v.get - 1, v.get).count() == 0L)
  }

  test("vacuum reclaims superseded and orphaned dv sidecars, keeps the live one") {
    val t = freshTable("vac")
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c"), t)
    CommitLog.enableDv(t)
    CommitLog.dvDelete(spark, t, col("id") === 1L)
    CommitLog.dvDelete(spark, t, col("id") === 2L) // supersedes the first sidecar
    def sidecars: Set[String] = Files.list(Paths.get(t)).iterator.asScala
      .map(_.getFileName.toString).filter(_.contains(".dv-")).toSet
    assert(sidecars.size == 2)
    val live = CommitLog.dvFor(t).values.map(_._1).toSet
    val removed = CommitLog.vacuum(t, retainMillis = 0L)
    assert(sidecars == live, s"only the live vector survives, removed=$removed")
    assert(CommitLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("checkpoint rolls vectors into the summary; replay after expire serves them") {
    val t = freshTable("ckpt")
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c"), t)
    CommitLog.enableDv(t)
    CommitLog.dvDelete(spark, t, col("id") === 2L)
    CommitLog.checkpoint(t)
    CommitLog.expireLog(t)
    assert(CommitLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(CommitLog.dvRowCount(t) == 1L)
    assert(CommitLog.dvEnabled(t), "dvon must survive the checkpoint roll")
    // and further deletes still merge on the rolled state
    CommitLog.dvDelete(spark, t, col("id") === 3L)
    assert(CommitLog.read(spark, t).collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("upsert rewrite on a vectored file does not resurrect suppressed rows") {
    // ONE data file, so the upsert's zone pruning must pick the vectored
    // file itself — the rewrite reads through the vector (no resurrection)
    // and the remove clears it
    val t = freshTable("upsert")
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c").coalesce(1), t)
    CommitLog.enableDv(t)
    CommitLog.dvDelete(spark, t, col("id") === 2L)
    CommitLog.upsert(spark, df(3L -> "C"), t, Seq("id"))
    val rows = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(rows == Seq(1L -> "a", 3L -> "C"), s"got $rows")
    assert(CommitLog.dvRowCount(t) == 0L,
      "the rewrite replaced the file, so its vector must be gone")
  }

  test("upsert zone pruning carries an untouched vectored file forward, vector intact") {
    val t = freshTable("carry")
    // three single-row files: vectors and rewrites land per-file
    for (i <- 1L to 3L) CommitLog.append(df(i -> s"r$i").coalesce(1), t)
    CommitLog.enableDv(t)
    CommitLog.dvDelete(spark, t, col("id") === 2L)
    CommitLog.upsert(spark, df(3L -> "C"), t, Seq("id")) // prunes to file 3 only
    val rows = CommitLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(rows == Seq(1L -> "r1", 3L -> "C"), s"got $rows")
    assert(CommitLog.dvRowCount(t) == 1L,
      "the untouched file's vector must keep suppressing its row")
  }
}
