package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.io.{CommitLog, Footers, Tables}

/** The engine declares the schema of every parquet file it already knows
  * from one driver-side footer read ([[Footers.read]]) instead of letting
  * Spark infer it. These tests pin that the declared schema is exactly the
  * one Spark's inference serves, and that reads no longer start a Spark
  * job before their first action. */
class FooterSchemaSpec extends SparkSpec {

  private def freshTable(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft_footer_$name")
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
    p.toString
  }

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  private def livePaths(t: String): Seq[String] =
    CommitLog.snapshotFiles(t).map(f => Paths.get(t, f).toString)

  /** Spark's own inference over `paths` against the footer path. */
  private def assertSameSchema(paths: Seq[String], what: String): Unit = {
    val inferred = spark.read.parquet(paths: _*).schema
    assert(Footers.read(spark, paths).schema == inferred,
      s"$what: footer schema differs from Spark's inference")
    // the served schema does not depend on the order the caller lists files
    assert(Footers.read(spark, paths.reverse).schema == inferred,
      s"$what: footer schema depends on the path order")
  }

  private val corpus = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  test("every corpus table's footer schema equals Spark's inference") {
    for (name <- corpus.filterNot(_ == "events")) {
      val path = s"$sf0001/$name.parquet"
      assertSameSchema(Seq(path), name)
      assert(Tables.table(spark, sf0001, name).schema ==
        spark.read.parquet(path).schema, s"Tables.table($name)")
    }
  }

  test("events' footer schema equals Spark's inference under both nanosAsLong values") {
    val path = s"$sf0001/events.parquet"
    for (nanosAsLong <- Seq("false", "true"))
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> nanosAsLong) {
        assertSameSchema(Seq(path), s"events, nanosAsLong=$nanosAsLong")
        assert(Tables.table(spark, sf0001, "events").schema ==
          spark.read.parquet(path).schema, s"Tables.table(events), nanosAsLong=$nanosAsLong")
      }
  }

  test("a commit-log table's snapshot schema equals Spark's inference after every kind of commit") {
    val t = freshTable("lifecycle")
    def check(step: String): Unit = {
      assertSameSchema(livePaths(t), step)
      assert(CommitLog.read(spark, t).schema == spark.read.parquet(livePaths(t): _*).schema,
        s"CommitLog.read after $step")
    }
    CommitLog.append(df(1L -> "a", 2L -> "b", 3L -> "c"), t)
    check("append")
    CommitLog.enableDv(t)
    CommitLog.append(df(4L -> "d", 5L -> "e"), t)
    CommitLog.upsert(spark, df(2L -> "B", 6L -> "f"), t, Seq("id"))
    check("upsert")
    assert(CommitLog.dvDelete(spark, t, col("id") === 4L).isDefined)
    check("dvDelete")
    assert(CommitLog.compact(spark, t, 1).isDefined)
    check("compact")
    CommitLog.checkpoint(t)
    check("checkpoint")
    val rows = CommitLog.read(spark, t).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a", 2L -> "B", 3L -> "c", 5L -> "e", 6L -> "f"))
  }

  test("files that disagree: the served schema is the first file's by path, as in inference") {
    import spark.implicits._
    val t = freshTable("drift")
    CommitLog.append(df(1L -> "a"), t)
    // a column added without a declared schema: the two files disagree
    CommitLog.append(Seq((2L, "b", 7.5)).toDF("id", "v", "extra"), t)
    val paths = livePaths(t)
    assert(paths.size == 2)
    val first = Footers.read(spark, Seq(paths.min)).schema
    val last = Footers.read(spark, Seq(paths.max)).schema
    assert(first != last, "the two files must carry different schemas")
    assertSameSchema(paths, "drifted table")
    assert(spark.read.parquet(paths: _*).schema == first,
      "Spark's inference reads the first file by path")
    assert(CommitLog.read(spark, t).schema == first)
    // mergeSchema still unions both files
    assert(CommitLog.read(spark, t, mergeSchema = true).columns.toSeq == Seq("id", "v", "extra"))
  }

  test("reads, time travel, change feeds and corpus tables start no job before their first action") {
    val t = freshTable("jobs")
    CommitLog.append(df(1L -> "a", 2L -> "b"), t)
    CommitLog.enableDv(t)
    CommitLog.upsert(spark, df(2L -> "B", 3L -> "c"), t, Seq("id"))
    CommitLog.dvDelete(spark, t, col("id") === 1L)
    val tip = CommitLog.currentVersion(t)
    val (_, readJobs) = jobsDuring(CommitLog.read(spark, t))
    assert(readJobs == 0, s"CommitLog.read started $readJobs jobs")
    val (_, travelJobs) = jobsDuring(CommitLog.read(spark, t, asOf = Some(0L)))
    assert(travelJobs == 0, s"time-travel read started $travelJobs jobs")
    val (_, changeJobs) = jobsDuring(CommitLog.changes(spark, t, 0L, tip))
    assert(changeJobs == 0, s"CommitLog.changes started $changeJobs jobs")
    for (name <- corpus) {
      val (_, tableJobs) = jobsDuring(Tables.table(spark, sf0001, name))
      assert(tableJobs == 0, s"Tables.table($name) started $tableJobs jobs")
    }
  }

  test("a corpus table written as a directory of part files declares its schema, with no job") {
    import spark.implicits._
    val dir = freshTable("dir_corpus")
    // three part files whose schemas differ in one column, plus the
    // writer's _SUCCESS marker
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(2)
      .write.parquet(s"$dir/orders.parquet")
    Seq((3L, "c", 0.5)).toDF("id", "v", "extra")
      .write.mode("append").parquet(s"$dir/orders.parquet")
    val (t, jobs) = jobsDuring(Tables.table(spark, dir, "orders"))
    assert(jobs == 0, s"Tables.table on a directory started $jobs jobs")
    val path = s"$dir/orders.parquet"
    assert(Files.exists(Paths.get(path, "_SUCCESS")))
    assert(t.schema == spark.read.parquet(path).schema, "declared schema differs from inference")
    assert(t.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    val empty = freshTable("dir_empty")
    Files.createDirectories(Paths.get(empty, "orders.parquet"))
    val e = intercept[IllegalArgumentException](Tables.table(spark, empty, "orders"))
    assert(e.getMessage.contains("no data file"))
  }

  test("a snapshot collect on a table without a declared schema runs exactly one job") {
    val t = freshTable("onejob")
    CommitLog.append(df(1L -> "a", 2L -> "b"), t)
    CommitLog.append(df(3L -> "c"), t)
    assert(CommitLog.declaredSchema(t).isEmpty)
    val (rows, jobs) = jobsDuring(CommitLog.read(spark, t).collect())
    assert(rows.length == 3)
    assert(jobs == 1, s"snapshot collect ran $jobs jobs")
  }

  test("reading a version whose files vacuum removed still fails loudly") {
    val t = freshTable("vacuumed")
    CommitLog.append(df(1L -> "a"), t)
    val v0Files = CommitLog.snapshotFiles(t)
    CommitLog.overwrite(df(1L -> "A"), t)
    assert(CommitLog.vacuum(t, retainMillis = 0).toSet == v0Files.toSet)
    val e = intercept[Exception] { CommitLog.read(spark, t, asOf = Some(0L)) }
    assert(v0Files.exists(f => String.valueOf(e.getMessage).contains(f)),
      s"the failure must name the missing file: ${e.getMessage}")
    assert(CommitLog.read(spark, t).collect().map(_.getString(1)).toSeq == Seq("A"))
  }
}
