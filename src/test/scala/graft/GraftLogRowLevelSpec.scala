package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.io.CommitLog

/** SQL row-level DML on commit-log tables ([[graft.sources
  * .GraftRowLevelOperation]] / [[graft.sources.MetadataDelete]]):
  * copy-on-write DELETE/UPDATE/MERGE through catalog identifiers, the
  * metadata-only DELETE fast path (whole zone-covered files dropped with
  * zero data IO), zone-pruned rewrites that leave disjoint files
  * untouched, null-safety of the file-drop proof, and TRUNCATE. */
class GraftLogRowLevelSpec extends SparkSpec {

  private lazy val warehouse: String = {
    val root = Paths.get(graft.io.Sinks.scratchDir("graft_rowlevel_wh"))
    if (Files.exists(root)) {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    Files.createDirectories(root)
    spark.conf.set("spark.sql.catalog.rlcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rlcat.warehouse", root.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rlcat.dml")
    root.toString
  }

  private def tableDir(name: String): String =
    Paths.get(warehouse, "dml", name).toString

  test("copy-on-write DELETE: arbitrary predicate, history preserved") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.d")
    spark.sql("CREATE TABLE rlcat.dml.d AS SELECT id, concat('v', id) AS v FROM range(10)")
    val dir = tableDir("d")
    val vBefore = CommitLog.currentVersion(dir)

    // id % 2 = 0 does not translate to a v1 filter: forces the rewrite path
    spark.sql("DELETE FROM rlcat.dml.d WHERE id % 2 = 0")

    val left = spark.sql("SELECT id FROM rlcat.dml.d ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(left == Seq(1L, 3L, 5L, 7L, 9L))
    assert(CommitLog.currentVersion(dir) == vBefore + 1, "DELETE must be ONE commit")
    assert(CommitLog.read(spark, dir, Some(vBefore)).count() == 10L,
      "the pre-DELETE snapshot must still time-travel")
  }

  test("copy-on-write UPDATE: matched rows rewritten, others intact") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.u")
    spark.sql("CREATE TABLE rlcat.dml.u AS SELECT id, concat('v', id) AS v FROM range(6)")

    spark.sql("UPDATE rlcat.dml.u SET v = concat(v, '!') WHERE id >= 4")

    val got = spark.sql("SELECT id, v FROM rlcat.dml.u ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(0L -> "v0", 1L -> "v1", 2L -> "v2", 3L -> "v3",
      4L -> "v4!", 5L -> "v5!"))
  }

  test("MERGE INTO: matched update + not-matched insert, one commit") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.m")
    spark.sql("CREATE TABLE rlcat.dml.m AS SELECT id, CAST(0 AS INT) AS gen FROM range(5)")
    val dir = tableDir("m")
    val vBefore = CommitLog.currentVersion(dir)
    spark.sql("SELECT id, CAST(1 AS INT) AS gen FROM range(3, 8)")
      .createOrReplaceTempView("rl_src")

    spark.sql(
      """MERGE INTO rlcat.dml.m t USING rl_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET gen = s.gen
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val got = spark.sql("SELECT id, gen FROM rlcat.dml.m ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 1, 6L -> 1, 7L -> 1))
    assert(CommitLog.currentVersion(dir) == vBefore + 1, "MERGE must be ONE commit")
  }

  /** A 100-row table clustered on k into 4 zone-mapped files; returns
    * (dir, files-with-ranges in first-added order). */
  private def clustered(name: String): (String, Seq[(String, (Long, Long))]) = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS rlcat.dml.$name")
    val dir = tableDir(name)
    import spark.implicits._
    CommitLog.appendClustered(spark,
      (0L until 100L).toDF("k").withColumn("tag",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("t"), $"k")),
      dir, "k", 4)
    val stats = CommitLog.fileStatsOn(dir, "k")
    (dir, CommitLog.snapshotFiles(dir).map(f => f -> stats(f)))
  }

  test("metadata-only DELETE: zone-covered files dropped, zero data IO") {
    val (dir, files) = clustered("md")
    val (f0, (lo0, hi0)) = files.minBy(_._2._1)
    assert(lo0 == 0L)
    val before = CommitLog.snapshotFiles(dir)
    val vBefore = CommitLog.currentVersion(dir)

    spark.sql(s"DELETE FROM rlcat.dml.md WHERE k <= $hi0")

    val after = CommitLog.snapshotFiles(dir)
    assert(after == before.filterNot(_ == f0),
      s"metadata delete must DROP $f0 and touch nothing else: $before -> $after")
    assert(CommitLog.currentVersion(dir) == vBefore + 1)
    assert(spark.sql("SELECT count(*) AS n FROM rlcat.dml.md").head.getLong(0) ==
      100L - (hi0 + 1))
    // no replacement file was ever written: survivors are the original files
    assert(after.forall(before.contains))
  }

  test("zone-pruned copy-on-write: only the overlapping file is rewritten") {
    val (dir, files) = clustered("zp")
    val (f0, (_, hi0)) = files.minBy(_._2._1)
    val before = CommitLog.snapshotFiles(dir)

    // strictly inside file 0's range: not file-exact, so the metadata proof
    // declines and the rewrite runs — but only over file 0
    spark.sql(s"DELETE FROM rlcat.dml.zp WHERE k < $hi0")

    val after = CommitLog.snapshotFiles(dir)
    assert(!after.contains(f0), "the overlapping file must be replaced")
    assert(before.filterNot(_ == f0).forall(after.contains),
      s"zone-disjoint files must NOT be rewritten: $before -> $after")
    val fresh = after.filterNot(before.contains)
    assert(fresh.size == 1, s"one replacement file expected, got $fresh")
    assert(spark.sql("SELECT count(*) AS n FROM rlcat.dml.zp").head.getLong(0) ==
      100L - hi0)
    // the replacement re-recorded its zone range: skipping survives DML
    assert(CommitLog.fileStatsColumns(dir).get(fresh.head).contains("k"),
      "rewritten file must carry a re-recorded zone range on k")
    assert(CommitLog.fileStatsOn(dir, "k")(fresh.head) == (hi0, hi0))
  }

  test("zone-pruned UPDATE: disjoint files untouched, matched file rewritten") {
    val (dir, files) = clustered("zu")
    val (f0, (_, hi0)) = files.minBy(_._2._1)
    val before = CommitLog.snapshotFiles(dir)

    spark.sql(s"UPDATE rlcat.dml.zu SET tag = 'updated' WHERE k < $hi0")

    val after = CommitLog.snapshotFiles(dir)
    assert(!after.contains(f0), "the overlapping file must be replaced")
    assert(before.filterNot(_ == f0).forall(after.contains),
      s"zone-disjoint files must NOT be rewritten by UPDATE: $before -> $after")
    assert(spark.sql("SELECT count(*) AS n FROM rlcat.dml.zu WHERE tag = 'updated'")
      .head.getLong(0) == hi0)
    assert(spark.sql("SELECT count(*) AS n FROM rlcat.dml.zu").head.getLong(0) == 100L)
    // the k = hi0 row lived in the rewritten file but did not match: carried
    assert(spark.sql(s"SELECT tag FROM rlcat.dml.zu WHERE k = $hi0")
      .head.getString(0) == s"t$hi0")
  }

  test("metadata-delete proof is null-safe: a covered file with NULLs falls back") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.nn")
    val dir = tableDir("nn")
    import spark.implicits._
    // one clustered file spanning [0, 9] that ALSO holds two NULL-k rows
    CommitLog.appendClustered(spark,
      ((0L until 10L).map(k => (Some(k), s"t$k")) ++
        Seq((None, "null1"), (None, "null2"))).toDF("k", "tag"),
      dir, "k", 1)
    val before = CommitLog.snapshotFiles(dir)

    // range-covers the file's [0, 9] zone — but dropping the file would
    // also delete the NULL rows, which `k <= 9` does not match
    spark.sql("DELETE FROM rlcat.dml.nn WHERE k <= 9")

    assert(spark.sql("SELECT count(*) AS n FROM rlcat.dml.nn").head.getLong(0) == 2L,
      "NULL-k rows must survive the delete")
    val after = CommitLog.snapshotFiles(dir)
    assert(after.forall(f => !before.contains(f)),
      "the fallback must have REWRITTEN the file (copy-on-write), not dropped it")
  }

  test("TRUNCATE TABLE: one metadata commit, history time-travelable") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.tr")
    spark.sql("CREATE TABLE rlcat.dml.tr AS SELECT id FROM range(7)")
    val dir = tableDir("tr")
    val vBefore = CommitLog.currentVersion(dir)

    spark.sql("TRUNCATE TABLE rlcat.dml.tr")

    assert(spark.sql("SELECT count(*) AS n FROM rlcat.dml.tr").head.getLong(0) == 0L)
    assert(CommitLog.currentVersion(dir) == vBefore + 1)
    assert(CommitLog.read(spark, dir, Some(vBefore)).count() == 7L)
  }

  // ---------------------------------------------------------------- merge-on-read (SupportsDelta)

  test("merge-on-read UPDATE: one dv+adds commit, no rewrite, RHS reads the OLD row") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.mu")
    spark.sql(
      "CREATE TABLE rlcat.dml.mu AS SELECT id, id * 10 AS a, id * 100 AS b FROM range(8)")
    val dir = tableDir("mu")
    CommitLog.enableDv(dir)
    val before = CommitLog.snapshotFiles(dir).toSet
    val vPre = CommitLog.currentVersion(dir)

    // the classic swap: both RHS must see the PRE-update row
    spark.sql("UPDATE rlcat.dml.mu SET a = b, b = a WHERE id >= 6")

    assert(CommitLog.currentVersion(dir) == vPre + 1, "UPDATE must be ONE commit")
    val c = CommitLog.readCommit(dir, vPre + 1)
    assert(c.op == "update" && c.remove.isEmpty && c.dv.nonEmpty && c.add.nonEmpty,
      s"update must land as vectors + image adds, got op=${c.op} " +
        s"adds=${c.add.size} removes=${c.remove.size} dvs=${c.dv.size}")
    assert(before.subsetOf(CommitLog.snapshotFiles(dir).toSet),
      "no pre-update data file may be removed")
    val got = spark.sql("SELECT id, a, b FROM rlcat.dml.mu WHERE id >= 6 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((6L, 600L, 60L), (7L, 700L, 70L)),
      s"swap semantics violated: $got")
    assert(spark.sql("SELECT count(*) AS n FROM rlcat.dml.mu").head.getLong(0) == 8L)
    // time travel below the update serves the unswapped rows
    assert(CommitLog.read(spark, dir, Some(vPre))
      .filter(org.apache.spark.sql.functions.col("a") > 100).count() == 0L)
  }

  test("merge-on-read DELETE with an untranslatable predicate: vectors, not rewrite") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.md")
    spark.sql("CREATE TABLE rlcat.dml.md AS SELECT id, concat('v', id) AS v FROM range(10)")
    val dir = tableDir("md")
    CommitLog.enableDv(dir)
    val before = CommitLog.snapshotFiles(dir)
    val vPre = CommitLog.currentVersion(dir)

    // id % 2 = 0 is not a v1 source filter: SupportsDelete declines, the
    // delta-based WriteDelta plan must serve it as a vector commit
    spark.sql("DELETE FROM rlcat.dml.md WHERE id % 2 = 0")

    val c = CommitLog.readCommit(dir, vPre + 1)
    assert(c.op == "delete" && c.add.isEmpty && c.remove.isEmpty && c.dv.nonEmpty,
      s"delete must land as vectors only, got op=${c.op} adds=${c.add.size} " +
        s"removes=${c.remove.size} dvs=${c.dv.size}")
    assert(CommitLog.snapshotFiles(dir) == before)
    val left = spark.sql("SELECT id FROM rlcat.dml.md ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(left == Seq(1L, 3L, 5L, 7L, 9L))
    // a second delete over the SAME files must merge vectors, and the
    // already-suppressed rows must not be re-servable
    spark.sql("DELETE FROM rlcat.dml.md WHERE id % 3 = 0")
    assert(spark.sql("SELECT id FROM rlcat.dml.md ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 5L, 7L))
  }

  test("merge-on-read MERGE INTO: matched suppressed + images appended, one commit") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.mm")
    spark.sql("CREATE TABLE rlcat.dml.mm AS SELECT id, CAST(0 AS INT) AS gen FROM range(5)")
    val dir = tableDir("mm")
    CommitLog.enableDv(dir)
    val before = CommitLog.snapshotFiles(dir).toSet
    val vPre = CommitLog.currentVersion(dir)
    spark.sql("SELECT id, CAST(1 AS INT) AS gen FROM range(3, 8)")
      .createOrReplaceTempView("rl_dv_src")

    spark.sql(
      """MERGE INTO rlcat.dml.mm t USING rl_dv_src s ON t.id = s.id
        |WHEN MATCHED AND s.id = 4 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET gen = s.gen
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    assert(CommitLog.currentVersion(dir) == vPre + 1, "MERGE must be ONE commit")
    val c = CommitLog.readCommit(dir, vPre + 1)
    assert(c.op == "merge" && c.remove.isEmpty && c.dv.nonEmpty && c.add.nonEmpty,
      s"merge must land as vectors + image adds, got op=${c.op}")
    assert(before.subsetOf(CommitLog.snapshotFiles(dir).toSet))
    val got = spark.sql("SELECT id, gen FROM rlcat.dml.mm ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1, 5L -> 1, 6L -> 1, 7L -> 1),
      s"got $got")
  }

  test("row-identity metadata columns: selectable, suppressed rows excluded") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.mc")
    spark.sql("CREATE TABLE rlcat.dml.mc AS SELECT id FROM range(6)")
    val dir = tableDir("mc")
    CommitLog.enableDv(dir)
    val tagged = spark.sql(
      "SELECT id, _graft_dv_file AS f, _graft_dv_pos AS p FROM rlcat.dml.mc")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(tagged.length == 6 && tagged.forall(t => t._2.endsWith(".parquet")),
      s"every row must carry its (file, position) identity: ${tagged.toSeq}")
    spark.sql("DELETE FROM rlcat.dml.mc WHERE id % 2 = 1")
    val after = spark.sql("SELECT id, _graft_dv_pos AS p FROM rlcat.dml.mc")
      .collect().map(r => r.getLong(0)).sorted.toSeq
    assert(after == Seq(0L, 2L, 4L),
      "the metadata-column read must apply live vectors")
    // the schema itself never grows the identity columns
    assert(!spark.table("rlcat.dml.mc").schema.fieldNames.exists(_.startsWith("_graft_")))
  }

  test("merge-on-read UPDATE refuses a CHECK-violating image, nothing lands") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.mk")
    spark.sql("CREATE TABLE rlcat.dml.mk AS SELECT id, id * 10 AS a FROM range(5)")
    val dir = tableDir("mk")
    CommitLog.enableDv(dir)
    CommitLog.addConstraint(spark, dir, "a_small", "a < 1000")
    val vPre = CommitLog.currentVersion(dir)
    val e = intercept[Throwable] {
      spark.sql("UPDATE rlcat.dml.mk SET a = 5000 WHERE id = 2")
    }
    val named = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(_.getMessage).exists(m => m != null && m.contains("a_small"))
    assert(named, s"the refusal must name the constraint: $e")
    assert(CommitLog.currentVersion(dir) == vPre, "nothing may land")
    assert(spark.sql("SELECT count(*) AS n FROM rlcat.dml.mk").head.getLong(0) == 5L)
  }

  test("graft.dv.maxRatio fires on the SQL delta route: past-ratio file " +
      "rewrites inside the statement's own commit") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.mr")
    spark.sql("CREATE TABLE rlcat.dml.mr " +
      "TBLPROPERTIES ('graft.dv.enabled' = 'true', 'graft.dv.maxRatio' = '0.5') " +
      "AS SELECT id, concat('v', id) AS v FROM range(10)")
    val dir = tableDir("mr")
    // CTAS ignores properties? ensure both opt-ins landed
    assert(CommitLog.dvEnabled(dir) && CommitLog.dvMaxRatioOf(dir).contains(0.5),
      "both TBLPROPERTIES must ride CTAS")
    val vPre = CommitLog.currentVersion(dir)
    // a DELETE suppressing > half of some file must materialize THAT file
    // in the same SQL statement's commit
    spark.sql("DELETE FROM rlcat.dml.mr WHERE id % 10 < 6")
    val vDel = CommitLog.currentVersion(dir)
    assert(vDel == vPre + 1, "one commit")
    val c = CommitLog.readCommit(dir, vDel)
    assert(c.remove.nonEmpty,
      s"at least one past-ratio file must rewrite inside the statement: $c")
    // the policy is PER FILE: whatever vectors survive sit at or below
    // the declared ratio
    val counts = CommitLog.fileRowCounts(dir)
    CommitLog.dvFor(dir).foreach { case (f, (_, n)) =>
      assert(counts.get(f).exists(total => n.toDouble / total <= 0.5),
        s"file $f keeps a vector past the ratio: $n of ${counts.get(f)}")
    }
    val got = spark.sql("SELECT id FROM rlcat.dml.mr ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(6L, 7L, 8L, 9L), s"got $got")
    assert(CommitLog.read(spark, dir, Some(vPre)).count() == 10L,
      "the pre-delete snapshot must still time-travel")
  }

  test("row-identity reads plan the NATIVE columnar scan on vector-less files") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.nv")
    spark.sql("CREATE TABLE rlcat.dml.nv AS SELECT id, concat('v', id) AS v FROM range(6)")
    val dir = tableDir("nv")
    CommitLog.enableDv(dir)
    val q = "SELECT id, _graft_dv_file AS f, _graft_dv_pos AS p FROM rlcat.dml.nv"
    val df = spark.sql(q)
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("row-identity native scan"),
      s"vector-less row-identity reads must plan the native scan:\n$plan")
    val scans = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      "the native row-identity scan must serve columnar batches")
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length == 6 && rows.forall(_._2.endsWith(".parquet")))
    // positions are each file's own 0-based row index
    rows.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (0L until g.length.toLong),
        s"per-file positions must be dense from 0: ${g.toSeq}")
    }
    // a live vector KEEPS the native scan — suppression happens in-scan
    // (per-task sidecar probe over the row-index vector), still columnar
    val idBefore = spark.sql(q).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    spark.sql("DELETE FROM rlcat.dml.nv WHERE id % 2 = 1")
    val df2 = spark.sql(q)
    val plan2 = df2.queryExecution.executedPlan
    assert(plan2.toString.contains("row-identity native scan"),
      s"vectored files must stay on the suppressing native scan:\n$plan2")
    val scans2 = plan2.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans2.nonEmpty && scans2.forall(_.supportsColumnar),
      "the suppressing native scan must still serve columnar batches")
    val rows2 = df2.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(rows2.keySet == Set(0L, 2L, 4L), s"got $rows2")
    // surviving rows keep their ORIGINAL (file, position) identity (gaps
    // where suppressed rows sat) — what a second DML round suppresses by
    assert(rows2 == idBefore.view.filterKeys(Set(0L, 2L, 4L)).toMap,
      s"row identity must survive suppression: $rows2 vs $idBefore")
    // plain reads (no metadata columns) of a vectored snapshot are native
    // too — the V1 row bridge is gone from every dv regime
    val df3 = spark.sql("SELECT id, v FROM rlcat.dml.nv")
    assert(df3.queryExecution.executedPlan.toString.contains(
      "row-identity native scan"),
      s"plain vectored reads must plan the suppressing native scan:\n" +
        df3.queryExecution.executedPlan)
    assert(df3.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L))
  }

  test("second UPDATE on already-vectored files: native scan end-to-end, " +
      "vectors merge, no row resurrected or double-served") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.nv2")
    spark.sql("CREATE TABLE rlcat.dml.nv2 AS " +
      "SELECT id, CAST(0 AS INT) AS gen FROM range(12)")
    val dir = tableDir("nv2")
    CommitLog.enableDv(dir)
    // round 1 vectors half the rows
    spark.sql("UPDATE rlcat.dml.nv2 SET gen = 1 WHERE id % 2 = 0")
    assert(CommitLog.dvFor(dir).nonEmpty, "round 1 must land vectors")
    // round 2 scans files that ALREADY carry vectors — the dense-DV
    // regime the native scan must serve (pre-round-15: V1 bridge)
    spark.sql("UPDATE rlcat.dml.nv2 SET gen = gen + 10 WHERE id < 6")
    val got = spark.sql("SELECT id, gen FROM rlcat.dml.nv2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq(0L -> 11, 1L -> 10, 2L -> 11, 3L -> 10, 4L -> 11,
      5L -> 10, 6L -> 1, 7L -> 0, 8L -> 1, 9L -> 0, 10L -> 1, 11L -> 0),
      s"got $got")
    // round 3: DELETE through the merged-vector state
    spark.sql("DELETE FROM rlcat.dml.nv2 WHERE gen = 11")
    val left = spark.sql("SELECT id FROM rlcat.dml.nv2 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(left == Seq(1L, 3L, 5L, 6L, 7L, 8L, 9L, 10L, 11L), s"got $left")
  }

  test("vectored scan suppression on complex types (row-based reader path)") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.nvc")
    spark.sql("CREATE TABLE rlcat.dml.nvc AS " +
      "SELECT id, array(id, id * 2) AS xs, " +
      "named_struct('a', id, 'b', concat('s', id)) AS st FROM range(8)")
    val dir = tableDir("nvc")
    CommitLog.enableDv(dir)
    spark.sql("DELETE FROM rlcat.dml.nvc WHERE id IN (1, 4, 6)")
    val got = spark.sql(
      "SELECT id, xs[1] AS x2, st.b AS b FROM rlcat.dml.nvc ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((0L, 0L, "s0"), (2L, 4L, "s2"), (3L, 6L, "s3"),
      (5L, 10L, "s5"), (7L, 14L, "s7")), s"got $got")
    // and a second round over the vectored complex-typed files
    spark.sql("UPDATE rlcat.dml.nvc SET xs = array(id, -1) WHERE id >= 5")
    val got2 = spark.sql(
      "SELECT id, xs[1] AS x2 FROM rlcat.dml.nvc ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == Seq((0L, 0L), (2L, 4L), (3L, 6L), (5L, -1L), (7L, -1L)),
      s"got $got2")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: copy-on-write route") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.nbs")
    spark.sql("CREATE TABLE rlcat.dml.nbs AS SELECT id, CAST(0 AS INT) AS gen FROM range(8)")
    val dir = tableDir("nbs")
    spark.sql("SELECT id, CAST(1 AS INT) AS gen FROM range(2, 5)")
      .createOrReplaceTempView("rl_nbs_src")
    val vPre = CommitLog.currentVersion(dir)
    // source-absent target rows must FLOW to the writer: id 0/1 deleted,
    // id >= 5 marked stale, id 2-4 updated from the source
    spark.sql(
      """MERGE INTO rlcat.dml.nbs t USING rl_nbs_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET gen = s.gen
        |WHEN NOT MATCHED BY SOURCE AND t.id < 2 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET gen = -1""".stripMargin)
    assert(CommitLog.currentVersion(dir) == vPre + 1, "one commit")
    val got = spark.sql("SELECT id, gen FROM rlcat.dml.nbs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq(2L -> 1, 3L -> 1, 4L -> 1,
      5L -> -1, 6L -> -1, 7L -> -1), s"got $got")
    assert(CommitLog.read(spark, dir, Some(vPre)).count() == 8L,
      "the pre-merge snapshot must still time-travel")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: merge-on-read route + CDF labels") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.nbd")
    spark.sql("CREATE TABLE rlcat.dml.nbd AS SELECT id, CAST(0 AS INT) AS gen FROM range(8)")
    val dir = tableDir("nbd")
    CommitLog.enableDv(dir)
    spark.sql("SELECT id, CAST(1 AS INT) AS gen FROM range(2, 5)")
      .createOrReplaceTempView("rl_nbd_src")
    val before = CommitLog.snapshotFiles(dir).toSet
    val vPre = CommitLog.currentVersion(dir)
    spark.sql(
      """MERGE INTO rlcat.dml.nbd t USING rl_nbd_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET gen = s.gen
        |WHEN NOT MATCHED BY SOURCE AND t.id < 2 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET gen = -1""".stripMargin)
    val vM = CommitLog.currentVersion(dir)
    assert(vM == vPre + 1, "one commit")
    val c = CommitLog.readCommit(dir, vM)
    assert(c.op == "merge" && c.remove.isEmpty && c.dv.nonEmpty && c.add.nonEmpty,
      s"the delta route must land vectors + image adds, got op=${c.op} " +
        s"removes=${c.remove.size}")
    assert(before.subsetOf(CommitLog.snapshotFiles(dir).toSet),
      "no pre-merge data file may be removed")
    val got = spark.sql("SELECT id, gen FROM rlcat.dml.nbd ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq(2L -> 1, 3L -> 1, 4L -> 1,
      5L -> -1, 6L -> -1, 7L -> -1), s"got $got")
    // CDF: by-source DELETEs keep plain labels; every UPDATE clause —
    // matched AND not-matched-by-source — pairs update_pre/postimage
    // (the writer saw which callback fired, per row)
    val w = CommitLog.changes(spark, dir, vPre, vM)
      .select("id", "gen", "_change_type").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(w == Set(
      (0L, 0, "delete"), (1L, 0, "delete"),
      (2L, 0, "update_preimage"), (3L, 0, "update_preimage"),
      (4L, 0, "update_preimage"),
      (5L, 0, "update_preimage"), (6L, 0, "update_preimage"),
      (7L, 0, "update_preimage"),
      (2L, 1, "update_postimage"), (3L, 1, "update_postimage"),
      (4L, 1, "update_postimage"),
      (5L, -1, "update_postimage"), (6L, -1, "update_postimage"),
      (7L, -1, "update_postimage")), s"got $w")
  }

  // ---------------------------------------------------------------- lost races

  /** Starts a watcher that commits one unrelated `alter` to `dir` the
    * moment a new file `pick` accepts appears there: the statement under
    * test has then derived its commit and staged its bytes but not landed
    * them (on a bloom-declared table its commit first runs a bloom job per
    * staged file), so it loses that version race. Returns the watcher to
    * join. */
  private def raceOnFirst(dir: String)(pick: String => Boolean): Thread = {
    def names: Set[String] = {
      val s = Files.list(Paths.get(dir))
      try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    val before = names
    val watcher = new Thread(() => {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      var fired = false
      while (!fired && System.nanoTime() < deadline) {
        if ((names -- before).exists(pick)) {
          CommitLog.setDvMaxRatio(dir, 1.0)
          fired = true
        } else Thread.sleep(1)
      }
    })
    watcher.setDaemon(true)
    watcher.start()
    watcher
  }

  test("copy-on-write UPDATE that loses its race reclaims its files and their blooms") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.rb")
    spark.sql("CREATE TABLE rlcat.dml.rb (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.bloom.column' = 'id')")
    spark.sql("INSERT INTO rlcat.dml.rb SELECT id, concat('v', id) FROM range(8)")
    val dir = tableDir("rb")
    val vPre = CommitLog.currentVersion(dir)
    val watcher = raceOnFirst(dir)(_.endsWith(".parquet"))
    val e = intercept[Throwable] {
      spark.sql("UPDATE rlcat.dml.rb SET v = concat(v, '!') WHERE id % 2 = 0")
    }
    watcher.join()
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"the UPDATE must fail on the write conflict, got $e")
    assert(CommitLog.currentVersion(dir) == vPre + 1 &&
      CommitLog.readCommit(dir, vPre + 1).op == "alter", "only the racer landed")
    assertNoLeakedFiles(dir)
    // re-running re-derives at the new tip
    spark.sql("UPDATE rlcat.dml.rb SET v = concat(v, '!') WHERE id % 2 = 0")
    val got = spark.sql("SELECT id, v FROM rlcat.dml.rb ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == (0L until 8L).map(i => i -> (if (i % 2 == 0) s"v$i!" else s"v$i")),
      s"got $got")
    assertNoLeakedFiles(dir)
  }

  test("metadata DELETE that loses its race reclaims its empty guard file") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS rlcat.dml.rt")
    spark.sql("CREATE TABLE rlcat.dml.rt (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.bloom.column' = 'id')")
    spark.sql("INSERT INTO rlcat.dml.rt SELECT id, concat('v', id) FROM range(8)")
    val dir = tableDir("rt")
    val vPre = CommitLog.currentVersion(dir)
    // dropping every file stages an empty schema-bearing guard; the racer
    // fires on the first one, the delete re-derives and lands a second
    val watcher = raceOnFirst(dir)(_.startsWith("empty-"))
    spark.sql("TRUNCATE TABLE rlcat.dml.rt")
    watcher.join()
    assert(CommitLog.readCommit(dir, vPre + 1).op == "alter" &&
      CommitLog.readCommit(dir, vPre + 2).op == "delete" &&
      CommitLog.currentVersion(dir) == vPre + 2,
      "the racer lands first, the re-derived delete on top of it")
    assert(spark.sql("SELECT count(*) FROM rlcat.dml.rt").head.getLong(0) == 0L)
    assertNoLeakedFiles(dir)
  }
}
