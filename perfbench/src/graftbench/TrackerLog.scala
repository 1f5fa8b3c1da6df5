package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.io.CommitLog

/** One annotation-tracker row, with the eight columns `tracker_build` emits
  * (the reference's `track_annotator_draw`), keyed by `chip_name`. */
final case class Chip(tile_name: String, chip_name: String, chip_pathway: String,
                      xml_annotation: String, annotator_draw: String,
                      annotator_verify_coverage: String, annotator_verify_quality: String,
                      annotator_verify_classes: String) {
  /** Logical size a user submits for this row: the UTF-8 bytes of every field. */
  def userBytes: Long = productIterator.map(_.toString.getBytes("UTF-8").length.toLong).sum
}

object Chip {
  def fromRow(r: Row): Chip = Chip(r.getAs[String]("tile_name"), r.getAs[String]("chip_name"),
    r.getAs[String]("chip_pathway"), r.getAs[String]("xml_annotation"),
    r.getAs[String]("annotator_draw"), r.getAs[String]("annotator_verify_coverage"),
    r.getAs[String]("annotator_verify_quality"), r.getAs[String]("annotator_verify_classes"))
}

object TrackerLog {
  /** Steps per cycle; every cycle starts again from the post-init table. */
  val StepCycle = 6
  val Commits = Seq("append", "upsert", "dv_delete")
  /** Runs a call as a named nested span (or just runs it). */
  type Span = String => (() => Unit) => Unit

  /** The cycle's steps: the maintenance call that opens it, if any, the
    * write and the append block it concerns, and the read. */
  private val Script = Vector(
    (None, "append", 0, "snapshot"),
    (None, "upsert", 0, "time_travel"),
    (None, "append", 1, "changes"),
    (Some("checkpoint"), "dv_delete", 0, "snapshot"),
    (None, "upsert", 1, "changes"),
    (Some("compact"), "append", 2, "time_travel"))
  /** The initial load is the first half of the chip set; each append adds
    * the next twentieth. */
  val InitialShare = 2
  val BlockShare = 20
  val CompactFiles = 4

  /** The tracker's inputs from the outputs of `tracker_build` and
    * `p9_verifier_update` written under `dir`: the chips in `chip_name`
    * order, and each chip's verifier. */
  def inputs(spark: SparkSession, dir: String): (Seq[Chip], Map[String, String]) = {
    val chips = spark.read.parquet(s"$dir/tracker_build").collect().map(Chip.fromRow).toSeq
      .sortBy(_.chip_name)
    val verifier = spark.read.parquet(s"$dir/p9_verifier_update").collect()
      .map(r => r.getAs[String]("chip_name") -> r.getAs[String]("annotator_verify_coverage")).toMap
    (chips, verifier)
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val q = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  private def deleteTree(path: String): Unit =
    Files.walk(Paths.get(path)).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
}

/** The tracker lifecycle on a commit-log table, checked against an
  * in-memory model that keeps the expected snapshot of every version.
  *
  * The chip set is `tracker_build`'s output on the timed corpus. `init` loads its
  * first half and enables deletion vectors. Each cycle of `StepCycle` steps
  * then runs on a fresh copy of that table, so every cycle does the same
  * work however many ran before. One step is a write then a read, in the
  * fixed `Script` order. Appends add the next block of chips. An upsert
  * applies `p9_verifier_update`'s verifier to an appended block, keyed by
  * `chip_name`. A `dvDelete` rejects the chips of a block that carry no XML
  * annotation. A read is a snapshot read, a time-travel read of a seeded
  * earlier version, or a change-feed window. A checkpoint and a compaction
  * open the fourth and sixth steps. Every read is compared with the model. */
final class TrackerLog(spark: SparkSession, root: String, seed: Long,
                       chips: Seq[Chip], verifier: Map[String, String]) {
  import spark.implicits._
  import TrackerLog._

  private val rng = new scala.util.Random(seed)
  private val initial = chips.take(chips.size / InitialShare)
  private val blockSize = chips.size / BlockShare
  private def block(k: Int): Seq[Chip] =
    chips.slice(initial.size + k * blockSize, initial.size + (k + 1) * blockSize)

  private val base = s"$root/base"
  private val model = mutable.LongMap.empty[Map[String, Chip]]
  private var baseModel = Map.empty[Long, Map[String, Chip]]
  private var tip = -1L
  private var cycles = 0
  private var steps = 0
  private var writes = 0
  private var dvRows = 0L
  var table: String = base
  var userBytes = 0L

  def current: Map[String, Chip] = model(tip)

  /** Records the expected state of the version a call committed, if any. */
  private def record(version: Option[Long], state: Map[String, Chip]): Unit =
    version.foreach { v => model(v) = state; tip = v }

  def init(): Unit = {
    record(Some(CommitLog.append(initial.toDF(), base)), initial.map(c => c.chip_name -> c).toMap)
    record(Some(CommitLog.enableDv(base)), current)
    baseModel = model.toMap
  }

  /** Starts a cycle on a fresh copy of the post-init table; not timed. */
  def restart(): Unit = {
    if (table != base) deleteTree(table)
    table = s"$root/c$cycles"
    cycles += 1
    copyTree(base, table)
    model.clear()
    baseModel.foreach { case (v, s) => model(v) = s }
    tip = baseModel.keys.max
    userBytes = initial.map(_.userBytes).sum
    steps = 0
  }

  /** One step of the cycle. Each commit-log call runs inside `span(kind)`
    * (a nested span in a traced run) and its wall time lands in `parts` as
    * `<call>_ms`; building inputs and checking results against the model
    * stay outside the timing. Returns the first mismatch with the model. */
  def step(parts: mutable.Map[String, Double], span: Span): Option[String] = {
    val (maintenance, write, k, read) = Script(steps % StepCycle)
    steps += 1
    val checks = mutable.ArrayBuffer.empty[Option[String]]
    val ok = () => None
    def call(name: String, kind: String)(body: => () => Option[String]): Unit = {
      var check: () => Option[String] = null
      val t0 = System.nanoTime()
      span(kind)(() => check = body)
      parts(s"${name}_ms") = (System.nanoTime() - t0) / 1e6
      checks += check()
    }

    maintenance.foreach {
      case "checkpoint" => call("checkpoint", "maintenance") { CommitLog.checkpoint(table); ok }
      case _ =>
        val before = current
        call("compact", "maintenance") { record(CommitLog.compact(spark, table, CompactFiles), before); ok }
    }

    val before = current
    writes += 1
    write match {
      case "append" =>
        val rows = block(k)
        userBytes += rows.map(_.userBytes).sum
        val df = rows.toDF()
        call("append", "commit") {
          record(Some(CommitLog.append(df, table)), before ++ rows.map(c => c.chip_name -> c)); ok
        }
      case "upsert" =>
        val rows = block(k).map(c => c.copy(annotator_verify_coverage = verifier(c.chip_name)))
        userBytes += rows.map(_.userBytes).sum
        val df = rows.toDF()
        call("upsert", "commit") {
          record(Some(CommitLog.upsert(spark, df, table, Seq("chip_name"))),
            before ++ rows.map(c => c.chip_name -> c)); ok
        }
      case _ =>
        val names = block(k).filter(_.xml_annotation.isEmpty).map(_.chip_name)
        userBytes += names.map(_.getBytes("UTF-8").length.toLong).sum
        call("dv_delete", "commit") {
          record(CommitLog.dvDelete(spark, table, col("chip_name").isin(names: _*)), before -- names); ok
        }
        dvRows = CommitLog.dvRowCount(table)
    }

    val now = current
    read match {
      case "snapshot" => call("snapshot_read", "read") {
        val t0 = System.nanoTime()
        val df = CommitLog.read(spark, table)
        parts("read_replay_ms") = (System.nanoTime() - t0) / 1e6
        val rows = df.collect()
        () => compare(rows.map(Chip.fromRow).toSeq, now.values.toSeq, "snapshot")
      }
      case "time_travel" =>
        val v = rng.nextInt(tip.toInt).toLong
        call("time_travel_read", "read") {
          val t0 = System.nanoTime()
          CommitLog.snapshotFiles(table, Some(v))
          parts("snapshot_files_ms") = (System.nanoTime() - t0) / 1e6
          val rows = CommitLog.read(spark, table, Some(v)).collect()
          () => compare(rows.map(Chip.fromRow).toSeq, model(v).values.toSeq, s"version $v")
        }
      case _ =>
        val (from, to) = (math.max(0L, tip - 2), tip)
        call("changes", "read") {
          val rows = CommitLog.changes(spark, table, from, to).collect()
          () => compareChanges(rows.toSeq, from, to)
        }
    }
    checks.flatten.headOption
  }

  private def compare(got: Seq[Chip], want: Seq[Chip], what: String): Option[String] =
    if (got.sortBy(_.chip_name) == want.sortBy(_.chip_name)) None
    else Some(s"$what: got ${got.size} rows, model ${want.size}")

  /** The change feed of versions (from, to] against the model's diffs; an
    * update's pre- and post-images count as a delete and an insert. */
  private def compareChanges(rows: Seq[Row], from: Long, to: Long): Option[String] = {
    val got = rows.map { r =>
      (r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"), Chip.fromRow(r))
    }
    val want = ((from + 1) to to).flatMap { v =>
      val (a, b) = (model(v - 1), model(v))
      a.values.filterNot(c => b.get(c.chip_name).contains(c)).map(c => ("delete", v, c)) ++
        b.values.filterNot(c => a.get(c.chip_name).contains(c)).map(c => ("insert", v, c))
    }
    val norm = (xs: Seq[(String, Long, Chip)]) =>
      xs.map { case (t, v, c) => (if (t.startsWith("update_pre")) "delete"
        else if (t.startsWith("update_post")) "insert" else t, v, c) }
        .sortBy(x => (x._2, x._3.chip_name, x._1))
    if (norm(got) == norm(want)) None
    else Some(s"changes ($from, $to]: got ${got.size} rows, model ${want.size}")
  }

  /** Table bytes on disk (data files, log, sidecars), all versions kept. */
  def diskBytes: Long = Files.walk(Paths.get(table)).iterator().asScala
    .filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Figures of the current cycle's table; `dv_rows` as the last
    * `dvDelete` left it, since the cycle's compaction rewrites them away. */
  def stats: Map[String, Any] = {
    val disk = diskBytes
    val live = CommitLog.snapshotSizeBytes(table)
    Map(
      "chips" -> chips.size,
      "initial_rows" -> initial.size,
      "block_rows" -> blockSize,
      "cycles" -> cycles,
      "log_versions" -> (tip + 1),
      "live_files" -> CommitLog.snapshotFiles(table).size,
      "dv_rows" -> dvRows,
      "live_rows" -> current.size,
      "bytes_written" -> disk,
      "user_bytes" -> userBytes,
      "live_bytes" -> live,
      "write_amp" -> disk.toDouble / userBytes,
      "space_amp" -> disk.toDouble / live,
      "writes" -> writes,
      "last_checkpoint" -> CommitLog.lastCheckpoint(table).getOrElse(-1L))
  }
}
