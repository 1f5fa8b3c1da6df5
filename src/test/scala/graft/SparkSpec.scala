package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps the
  * test run fast; Spark's getOrCreate caches it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"

  /** Set session confs for the duration of `body`, then restore the prior
    * state exactly (re-set what existed, unset what didn't). The test
    * session is JVM-shared across every suite, so a conf left flipped in
    * one spec silently changes another spec's plans — round 8's
    * SpatialJoinRewriteSpec failed 4 tests purely from suite order this
    * way. Every spec that flips a conf must go through this (or pin the
    * flag itself, as the j8 gates do for their own deferred actions). */
  def withConf[A](pairs: (String, Any)*)(body: => A): A = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v.toString) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => try spark.conf.unset(k) catch { case _: Throwable => () }
    }
  }

  /** Runs `body` and counts the Spark jobs it started. Only jobs tagged
    * with this measurement's job group count, so a concurrent or
    * background job never skews it, and the listener bus is drained
    * instead of sleep-polled for delivery. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val group = s"jobs-probe-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (e.properties != null &&
            group == e.properties.getProperty("spark.jobGroup.id"))
          n.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "job-count probe")
      val out = try body finally spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.GraftSqlShim.drainListenerBus(spark)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Asserts that no writer left bytes behind in the commit-log table at
    * `table`: every data file, key bloom and vector sidecar (`.parquet`,
    * `.bloom`, `.dv-`, `.dvu-`) in its directory is named by some commit
    * or checkpoint of its log. A writer that loses a version race must
    * reclaim everything it staged. */
  def assertNoLeakedFiles(table: String): Unit = {
    import graft.io.LogAction
    def names(dir: Path): Seq[String] = {
      val s = Files.list(dir)
      try s.iterator.asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    val logDir = Paths.get(table, "_log")
    val referenced = names(logDir).filter(_.endsWith(".json")).flatMap { n =>
      LogAction.decodeFile(Files.readAllBytes(logDir.resolve(n)), n).collect {
        case a: LogAction.Add => a.file
        case LogAction.Dv(_, sc, _) => sc
        case LogAction.Dvu(_, sc) => sc
      }
    }.toSet
    val leaked = names(Paths.get(table)).filter { n =>
      (n.endsWith(".parquet") || n.endsWith(".bloom") || n.contains(".dv-") ||
        n.contains(".dvu-")) && !referenced(n.stripSuffix(".bloom"))
    }
    assert(leaked.isEmpty, s"$table holds files no version references: ${leaked.sorted}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
