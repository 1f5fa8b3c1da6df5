package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.io.CommitLog

/** CHECK constraints enforced on write (the public Delta table-constraint
  * semantics): declaration validates the existing snapshot, every staging
  * write validates the batch, NULL passes (SQL CHECK), violations refuse
  * the WHOLE write naming the constraint, and the declaration survives
  * checkpoint rolls. */
class ConstraintSpec extends SparkSpec {

  private def freshTable(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft_ck_$name")
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
    p.toString
  }

  private def df(rows: (Long, java.lang.Long)*) = {
    import spark.implicits._
    rows.toDF("id", "qty")
  }

  test("a violating append is refused whole; a clean one lands") {
    val t = freshTable("basic")
    CommitLog.append(df(1L -> 5L), t)
    CommitLog.addConstraint(spark, t, "qty_pos", "qty > 0")
    val e = intercept[IllegalStateException] {
      CommitLog.append(df(2L -> 3L, 3L -> -1L), t)
    }
    assert(e.getMessage.contains("qty_pos") && e.getMessage.contains("qty > 0"))
    assert(CommitLog.read(spark, t).count() == 1,
      "the violating batch must not land even partially")
    CommitLog.append(df(2L -> 3L), t)
    assert(CommitLog.read(spark, t).count() == 2)
  }

  test("declaring over an already-violating snapshot is refused") {
    val t = freshTable("preexisting")
    CommitLog.append(df(1L -> -5L), t)
    val e = intercept[IllegalArgumentException] {
      CommitLog.addConstraint(spark, t, "qty_pos", "qty > 0")
    }
    assert(e.getMessage.contains("already violates"))
    assert(CommitLog.constraintsOf(t).isEmpty)
  }

  test("NULL passes (SQL CHECK semantics); drop lifts enforcement") {
    val t = freshTable("nulls")
    CommitLog.append(df(1L -> 5L), t)
    CommitLog.addConstraint(spark, t, "qty_pos", "qty > 0")
    CommitLog.append(df(2L -> null), t) // NULL qty: not FALSE, passes
    assert(CommitLog.read(spark, t).count() == 2)
    assert(CommitLog.dropConstraint(t, "qty_pos").isDefined)
    assert(CommitLog.dropConstraint(t, "qty_pos").isEmpty, "second drop: no-op")
    CommitLog.append(df(3L -> -9L), t) // enforcement lifted
    assert(CommitLog.read(spark, t).count() == 3)
  }

  test("upsert and ingest stage through the same enforcement") {
    val t = freshTable("paths")
    CommitLog.append(df(1L -> 5L), t)
    CommitLog.addConstraint(spark, t, "qty_pos", "qty > 0")
    intercept[IllegalStateException] {
      CommitLog.upsert(spark, df(1L -> -2L), t, Seq("id"))
    }
    intercept[IllegalStateException] {
      CommitLog.dedupAppend(spark, df(9L -> 0L), t, Seq("id"))
    }
    assert(CommitLog.read(spark, t).collect().map(_.getLong(1)).toSeq == Seq(5L))
  }

  test("a violating streaming epoch fails the write; nothing lands") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = Paths.get(freshTable("stream"))
    Files.createDirectories(root)
    spark.conf.set("spark.sql.catalog.ckcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ckcat.warehouse",
      root.resolve("wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ckcat.s")
    spark.sql("DROP TABLE IF EXISTS ckcat.s.t")
    spark.sql("CREATE TABLE ckcat.s.t (id BIGINT, qty BIGINT)")
    val dst = root.resolve("wh").resolve("s").resolve("t").toString
    CommitLog.addConstraint(spark, dst, "qty_pos", "qty > 0")
    val src = root.resolve("src").toString
    CommitLog.append(Seq((1L, 5L), (2L, -3L)).toDF("id", "qty"), src)
    val e = intercept[Exception] {
      val q = spark.readStream.format("graftlog").load(src)
        .writeStream.option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).toTable("ckcat.s.t")
      q.awaitTermination(120000L)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("qty_pos")), msgs(e).mkString(" | "))
    assert(CommitLog.snapshotFiles(dst).count(_.endsWith(".parquet")) >= 0)
    assert(spark.sql("SELECT count(*) AS n FROM ckcat.s.t").head().getLong(0) == 0L,
      "the violating epoch must not land even partially")
  }

  test("renaming or dropping a constrained column refuses at the alter") {
    val t = freshTable("rename")
    CommitLog.append(df(1L -> 5L), t)
    CommitLog.addConstraint(spark, t, "qty_pos", "qty > 0")
    val cur = CommitLog.read(spark, t).schema
    val renamed = org.apache.spark.sql.types.StructType(cur.fields.map(f =>
      if (f.name == "qty") f.copy(name = "quantity") else f))
    val e = intercept[IllegalArgumentException] {
      CommitLog.evolveSchema(t, renamed, CommitLog.currentVersion(t))
    }
    assert(e.getMessage.contains("qty_pos") &&
      e.getMessage.contains("drop the constraint first"))
    // renaming the UNconstrained column is fine; after dropping the
    // constraint the rename lands too
    val otherRenamed = org.apache.spark.sql.types.StructType(cur.fields.map(f =>
      if (f.name == "id") f.copy(name = "key") else f))
    CommitLog.evolveSchema(t, otherRenamed, CommitLog.currentVersion(t))
    CommitLog.dropConstraint(t, "qty_pos")
    CommitLog.evolveSchema(t, org.apache.spark.sql.types.StructType(
      CommitLog.declaredSchema(t).get.fields.map(f =>
        if (f.name == "qty") f.copy(name = "quantity") else f)),
      CommitLog.currentVersion(t))
  }

  test("a constrained append is ONE job: validation rides the staging write") {
    val plain = freshTable("onejob_plain")
    val ck = freshTable("onejob_ck")
    CommitLog.append(df(1L -> 5L), plain)
    CommitLog.append(df(1L -> 5L), ck)
    CommitLog.addConstraint(spark, ck, "qty_pos", "qty > 0")
    val (_, plainJobs) = jobsDuring(CommitLog.append(df(2L -> 3L), plain))
    val (_, checkedJobs) = jobsDuring(CommitLog.append(df(2L -> 3L), ck))
    assert(checkedJobs == plainJobs,
      s"constraint validation must ride the staging write, not run its own " +
        s"probe job: unconstrained=$plainJobs constrained=$checkedJobs")
    assert(CommitLog.read(spark, ck).count() == 2)
  }

  test("validation sees the exact rows written: nondeterministic source refused") {
    val t = freshTable("nondet")
    CommitLog.append(df(1L -> 5L), t)
    CommitLog.addConstraint(spark, t, "qty_pos", "qty > 0")
    // rand()-derived qty: some rows violate on ANY evaluation — per-row
    // in-write checking refuses regardless of which sample a probe saw
    val nondet = spark.range(2000).selectExpr("id",
      "CAST(CASE WHEN rand() < 0.5 THEN -1 ELSE 1 END AS BIGINT) AS qty")
    val e = intercept[IllegalStateException] {
      CommitLog.append(nondet, t)
    }
    assert(e.getMessage.contains("qty_pos"))
    assert(CommitLog.read(spark, t).count() == 1, "nothing may land")
  }

  test("NOT NULL column: a staged NULL row refuses naming the column") {
    import org.apache.spark.sql.types.StructType
    val t = freshTable("notnull")
    CommitLog.append(df(1L -> 5L), t)
    val cur = CommitLog.read(spark, t).schema
    CommitLog.evolveSchema(t, StructType(cur.fields.map(f =>
      if (f.name == "qty") f.copy(nullable = false) else f)),
      CommitLog.currentVersion(t))
    val e = intercept[IllegalStateException] {
      CommitLog.append(df(2L -> 3L, 3L -> null), t)
    }
    assert(e.getMessage.contains("NOT NULL qty"),
      s"the refusal must name the column: ${e.getMessage}")
    assert(CommitLog.read(spark, t).count() == 1, "nothing may land")
    CommitLog.append(df(2L -> 3L), t) // non-null rows still land
    assert(CommitLog.read(spark, t).count() == 2)
  }

  test("set_not_null via CALL, DROP NOT NULL via SQL, refused over NULL data") {
    val root = Paths.get(freshTable("notnull_sql"))
    Files.createDirectories(root)
    spark.conf.set("spark.sql.catalog.nncat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.nncat.warehouse", root.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS nncat.s")
    spark.sql("DROP TABLE IF EXISTS nncat.s.nn")
    spark.sql("CREATE TABLE nncat.s.nn AS SELECT id, id * 2 AS qty FROM range(4)")
    val dir = root.resolve("s").resolve("nn").toString
    // Spark's v2 ALTER analysis hard-blocks nullable->non-null (it cannot
    // know the data was validated) — the declaration is a CALL procedure
    spark.sql("CALL nncat.system.set_not_null(`table` => 's.nn', column => 'qty')")
    assert(CommitLog.declaredSchema(dir).exists(
      _.fields.exists(f => f.name == "qty" && !f.nullable)))
    // a NULL row refuses through the staging chokepoint
    val e = intercept[Throwable] {
      spark.sql("INSERT INTO nncat.s.nn VALUES (9, NULL)")
    }
    val named = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .flatMap(t2 => Option(t2.getMessage)).exists(m =>
        m.contains("qty") && m.toUpperCase.contains("NULL"))
    assert(named, s"the refusal must name the column: $e")
    assert(spark.sql("SELECT count(*) AS n FROM nncat.s.nn").head.getLong(0) == 4L)
    // DROP NOT NULL lifts enforcement
    spark.sql("ALTER TABLE nncat.s.nn ALTER COLUMN qty DROP NOT NULL")
    spark.sql("INSERT INTO nncat.s.nn VALUES (9, NULL)")
    assert(spark.sql("SELECT count(*) AS n FROM nncat.s.nn").head.getLong(0) == 5L)
    // and SET NOT NULL over the now-NULL-holding data refuses at the alter
    val e2 = intercept[Throwable] {
      spark.sql("CALL nncat.system.set_not_null(`table` => 's.nn', column => 'qty')")
    }
    assert(Iterator.iterate(e2)(_.getCause).takeWhile(_ != null).take(8)
      .flatMap(t2 => Option(t2.getMessage)).exists(_.contains("already holds NULL")),
      s"SET NOT NULL over NULL data must refuse at the alter: $e2")
  }

  test("constraints survive a checkpoint roll + log expiry") {
    val t = freshTable("ckpt")
    CommitLog.append(df(1L -> 5L), t)
    CommitLog.addConstraint(spark, t, "qty_pos", "qty > 0")
    CommitLog.checkpoint(t)
    CommitLog.expireLog(t)
    assert(CommitLog.constraintsOf(t) == Map("qty_pos" -> "qty > 0"))
    intercept[IllegalStateException] {
      CommitLog.append(df(2L -> -1L), t)
    }
  }
}
