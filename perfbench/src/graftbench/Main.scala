package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.io.Tables
import graft.pipeline.TankInventory
import graft.sources.Shapefile

/** One measured op: its mix entry, kind, start offset into the window, wall
  * time, and how it ended. `err` is the exception class of a failed op;
  * `wrong` says why a completed op's output did not check out. */
final case class OpRec(name: String, kind: String, startMs: Double, wallMs: Double,
                       err: Option[String], wrong: Option[String],
                       parts: Map[String, Double], span: String, traced: Boolean)

/** Benchmark harness. Runs one workload against a generated corpus in one
  * Spark session (closed loop, one client), writes the raw record as JSON;
  * `run.py` turns it into metrics.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --corpus DIR
  * --work DIR --out FILE. */
object Main {

  /** Each workload's queries. All are checked against their oracle SQL on
    * the corpus; batch also times them: the inventory chain and the dedup
    * operators. tracker_log's are the tracker's inputs, not timed. */
  val Mixes: Map[String, Seq[String]] = Map(
    "batch" -> Seq("e3e_persisted_crosstabs", "s13_shapefile_sink", "d6_neardup_components",
      "v15b_lloyd_centroids", "v1_cosine_topk", "t_bpe_train"),
    "tracker_log" -> Seq("tracker_build", "p9_verifier_update"))

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Full materialization reduced to `rows:sum(lo32):sum(hi32)` of an
    * xxhash64 over every column — order-insensitive, and no column can be
    * pruned away, unlike under `count()`. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftright(col("h"), 32)))
      .head()
    def v(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (v(0), s"${v(0)}:${v(1)}:${v(2)}")
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Mixes.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val (corpus, work) = (a("corpus"), a("work"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val mix = Mixes(workload)
    val rec = mutable.LinkedHashMap.empty[String, Any]
    rec("workload") = workload; rec("seed") = seed; rec("cpus") = cpus
    rec("load_before") = loadAvg()

    // ---------------------------------------------------------------- set-up
    // Set-up = session start plus the warm pass, in this fresh JVM, where the
    // first run of each plan pays for class loading, JIT, AQE re-planning and
    // codegen. The warm pass runs every mix query once on the corpus and
    // writes its output as parquet for the DuckDB check in run.py;
    // tracker_log then builds its table and runs one untimed cycle on it
    // (see `window`).
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    rec("session_s") = ms(t0) / 1e3
    val oracleDir = s"$work/oracle"
    Files.createDirectories(Paths.get(oracleDir))
    Files.writeString(Paths.get(s"$oracleDir/oracle_sql.json"),
      Json(mix.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    mix.foreach { q =>
      SparkEntry.queries(q)(spark, corpus).coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/$q")
      spark.catalog.clearCache()
    }
    rec("oracle_pass_s") = ms(t0) / 1e3 - rec("session_s").asInstanceOf[Double]
    // timed ops must reproduce the output the oracle checks
    val fps: Map[String, String] =
      if (workload == "tracker_log") Map.empty
      else mix.map(q => q -> fingerprint(spark.read.parquet(s"$oracleDir/$q"))._2).toMap
    val tracker =
      if (workload == "tracker_log") {
        val t1 = System.nanoTime()
        // the oracle pass's outputs are the tracker's inputs
        val (chips, verifier) = TrackerLog.inputs(spark, oracleDir)
        val t = new TrackerLog(spark, s"$work/tracker", seed, chips, verifier)
        t.init()
        rec("tracker_init_s") = ms(t1) / 1e3
        Some(t)
      } else None

    def runQuery(q: String): (String, Double) = {
      val t0 = System.nanoTime()
      val fp = fingerprint(SparkEntry.queries(q)(spark, corpus))._2
      spark.catalog.clearCache()
      (fp, ms(t0))
    }

    // ops repeat in cycles (a tracker_log step cycle, a pass over the batch
    // mix); a window ends on a whole cycle, and a traced window traces every
    // other cycle
    val cycle = if (tracker.isDefined) TrackerLog.StepCycle else mix.size

    /** Runs whole cycles for `seconds` of timed work (one cycle when
      * `seconds` is 0). Not timed: restoring the tracker table before a
      * cycle and, in a measured window, the live-heap probe after one.
      * Returns the ops, the timed seconds and the peak live heap. */
    def window(tracer: Option[Tracer], tag: String, seconds: Double): (Seq[OpRec], Double, Double) = {
      val ops = mutable.ArrayBuffer.empty[OpRec]
      val w0 = System.nanoTime()
      var untimedNs = 0L
      var liveHeap = 0.0
      def untimed(body: => Unit): Unit = {
        val t0 = System.nanoTime(); body; untimedNs += System.nanoTime() - t0
      }
      def elapsed = (System.nanoTime() - w0 - untimedNs) / 1e9
      // a traced window runs at least two cycles: one untraced, one traced
      def more = ops.isEmpty || ops.size % cycle != 0 ||
        seconds > 0 && (elapsed < seconds || tracer.isDefined && ops.size < 2 * cycle)
      def one(name: String, kind: String)(
          body: (mutable.Map[String, Double], TrackerLog.Span) => Option[String]): Unit = {
        if (ops.size % cycle == 0) tracker.foreach(t => untimed(t.restart()))
        val span = s"$tag${ops.size}"
        val traced = tracer.isDefined && (ops.size / cycle) % 2 == 1
        tracer.foreach(t => if (traced) t.register() else t.pause())
        val sub: TrackerLog.Span = k => call => if (traced) tracer.get.span(s"$span.$k")(call()) else call()
        val parts = mutable.Map.empty[String, Double]
        val start = (System.nanoTime() - w0) / 1e6
        val t0 = System.nanoTime()
        val (err, wrong) =
          try { (None, if (traced) tracer.get.span(span)(body(parts, sub)) else body(parts, sub)) }
          catch { case e: Throwable => (Some(e.getClass.getName), None) }
        ops += OpRec(name, kind, start, ms(t0), err, wrong, parts.toMap, span, traced)
        if (seconds > 0 && ops.size % cycle == 0) untimed { liveHeap = math.max(liveHeap, liveHeapMb()) }
      }
      def checkFp(q: String, fp: String): Option[String] =
        if (fp == fps(q)) None else Some(s"$q fingerprint $fp != ${fps(q)}")
      workload match {
        case "tracker_log" =>
          while (more) one(s"step${ops.size % cycle + 1}", "step")((parts, sub) => tracker.get.step(parts, sub))
        case _ =>
          // each cycle runs the mix in the cold pass's order, so a query
          // meets the same warm-up state in every run
          while (more) mix.foreach { q =>
            one(q, "query") { (parts, _) => val (fp, t) = runQuery(q); parts(q) = t; checkFp(q, fp) }
          }
      }
      tracer.foreach(_.pause())
      (ops.toSeq, elapsed, liveHeap)
    }

    def opsJson(ops: Seq[OpRec]): Seq[Map[String, Any]] = ops.map(o => Map(
      "name" -> o.name, "kind" -> o.kind, "start_ms" -> o.startMs, "ms" -> o.wallMs,
      "err" -> o.err, "wrong" -> o.wrong, "parts" -> o.parts))

    val warmOps = if (tracker.isEmpty) Nil else window(None, "warm", 0)._1
    rec("warm_ops") = opsJson(warmOps)
    rec("setup_s") = ms(t0) / 1e3

    // ---------------------------------------------------------------- measured loop
    // a traced run traces every other cycle of its window, so traced and
    // untraced ops share warm-up and host conditions
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val (all, elapsed, liveHeap) = window(tracer, "op", seconds)
    val (tops, ops) = all.partition(_.traced)
    rec("ops") = opsJson(ops)
    rec("measure_s") = elapsed
    rec("live_heap_mb") = liveHeap
    rec("fingerprints") = fps

    tracer.foreach { tracer =>
      tracer.register()
      val decomp = Decompose(workload, spark, corpus, work, tracer)
      tracer.finish()
      rec("traced_ops") = opsJson(tops)
      rec("layers") = Layers(tops, tracer, cpus, ops) ++ decomp.layers(tracer) ++
        tracker.map(t => Layers.commitLog(tops, tracer, t)).getOrElse(Map.empty)
    }
    tracker.foreach(t => rec("tracker") = t.stats)
    rec("load_after") = loadAvg()
    rec("spark_version") = spark.version
    rec("java_version") = System.getProperty("java.version")
    rec("scala_version") = scala.util.Properties.versionNumberString
    spark.stop()
    rec("peak_rss_mb") = vmHwmMb()
    rec("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    Files.writeString(Paths.get(a("out")), Json(rec))
  }

  /** Heap in use after a full collection, in MB: what the driver retains.
    * The second collection follows a pause in which Spark's ContextCleaner
    * drops the blocks of broadcasts and shuffles the first one released. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Driver high-water resident set (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Per-op layer metrics from a traced window. Times are per-op means. */
object Layers {
  def apply(ops: Seq[OpRec], tracer: Tracer, cpus: Int, untraced: Seq[OpRec]): Map[String, Any] = {
    val n = math.max(1, ops.size).toDouble
    val ts = ops.map(o => (o, tracer.totals(o.span)))
    def mean(f: SpanTotals => Double): Double = ts.map(x => f(x._2)).sum / n
    val wall = ops.map(_.wallMs).sum
    val union = ts.map(_._2.jobUnionMs.toDouble).sum
    val catalyst = ts.map(_._2.catalystMs.toDouble).sum
    val taskRun = ts.map(_._2.taskRunMs.toDouble).sum
    val unaccounted = wall - catalyst - union
    val byQuery = ops.filter(_.kind == "query").flatMap(_.parts.toSeq).groupBy(_._1).map { case (q, xs) =>
      s"queries.${q}_ms" -> median(xs.map(_._2))
    }
    // tracing overhead: mean traced op wall over mean untraced op wall
    val untracedMean = untraced.map(_.wallMs).sum / math.max(1, untraced.size)
    Map(
      "catalyst.analysis_ms" -> mean(_.analysisMs.toDouble),
      "catalyst.optimization_ms" -> mean(_.optimizationMs.toDouble),
      "catalyst.planning_ms" -> mean(_.planningMs.toDouble),
      "catalyst.share" -> catalyst / wall,
      "scheduler.jobs" -> mean(_.jobs.toDouble),
      "scheduler.stages" -> mean(_.stages.toDouble),
      "scheduler.tasks" -> mean(_.tasks.toDouble),
      "scheduler.job_ms" -> union / n,
      "scheduler.driver_gap_ms" -> (wall - union) / n,
      "scheduler.driver_gap_share" -> (wall - union) / wall,
      "exec.task_run_ms" -> taskRun / n,
      "exec.task_cpu_ms" -> mean(_.taskCpuNs / 1e6),
      "exec.gc_ms" -> mean(_.gcMs.toDouble),
      "exec.busy_share" -> taskRun / (wall * cpus),
      "exec.job_share" -> union / wall,
      "exec.peak_mem_mb" -> ts.map(_._2.peakMemBytes).foldLeft(0L)(math.max) / 1048576.0,
      "shuffle.write_bytes" -> mean(_.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> mean(_.shuffleRead.toDouble),
      "shuffle.fetch_wait_ms" -> mean(_.fetchWaitMs.toDouble),
      "shuffle.spill_bytes" -> mean(_.spill.toDouble),
      "io.scan_rows" -> mean(_.scanRows.toDouble),
      "io.scan_bytes" -> mean(_.scanBytes.toDouble),
      "io.scan_ms" -> mean(_.scanMs.toDouble),
      "trace.op_wall_ms" -> wall / n,
      "trace.unaccounted_ms" -> unaccounted / n,
      "trace.unaccounted_share" -> unaccounted / wall,
      "trace.overhead_share" -> (wall / n / untracedMean - 1.0),
      "trace.ops" -> ops.size) ++ byQuery
  }

  def commitLog(ops: Seq[OpRec], tracer: Tracer, t: TrackerLog): Map[String, Any] = {
    def meanOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def partOf(name: String) = meanOf(ops.flatMap(_.parts.get(name)))
    val commitDriver = ops.flatMap { o =>
      TrackerLog.Commits.flatMap(c => o.parts.get(s"${c}_ms"))
        .map(_ - tracer.totals(s"${o.span}.commit").jobUnionMs)
    }
    val s = t.stats
    Map(
      "commitlog.append_ms" -> partOf("append_ms"),
      "commitlog.upsert_ms" -> partOf("upsert_ms"),
      "commitlog.dv_delete_ms" -> partOf("dv_delete_ms"),
      "commitlog.compact_ms" -> partOf("compact_ms"),
      "commitlog.checkpoint_ms" -> partOf("checkpoint_ms"),
      "commitlog.commit_driver_ms" -> meanOf(commitDriver),
      "commitlog.read_replay_ms" -> partOf("read_replay_ms"),
      "commitlog.snapshot_files_ms" -> partOf("snapshot_files_ms"),
      "commitlog.changes_ms" -> partOf("changes_ms"),
      "commitlog.log_versions" -> s("log_versions"),
      "commitlog.live_files" -> s("live_files"),
      "commitlog.dv_rows" -> s("dv_rows"),
      "commitlog.bytes_written" -> s("bytes_written"),
      "commitlog.write_amp" -> s("write_amp"),
      "commitlog.space_amp" -> s("space_amp"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Decomposed calls into each module's public functions (traced run only),
  * each timed as its own span on the timed corpus. */
final class Decompose(val times: Map[String, Double], val extra: Map[String, Double]) {
  def layers(tracer: Tracer): Map[String, Any] = {
    def jobs(span: String) = tracer.totals(span).jobs.toDouble
    if (times.isEmpty) extra else extra ++ Map(
      "pipeline.boxes_ms" -> times("boxes"),
      "plans.merge_boxes_ms" -> (times("merge") - times("boxes")),
      "pipeline.inventory_ms" -> (times("inventory") - times("merge")),
      "io.persist_ms" -> (times("persist") - times("inventory")),
      "pipeline.crosstab_ms" -> times("crosstab"),
      "sources.shapefile_write_ms" -> times("shp_write"),
      "sources.shapefile_scan_ms" -> times("shp_scan"),
      "operators.minhash_ms" -> times("minhash"),
      "operators.lsh_pairs_ms" -> times("lsh_pairs"),
      "operators.graphcc_ms" -> times("graphcc"),
      "operators.graphcc_jobs" -> jobs("decomp.graphcc"),
      "operators.lloyd_ms" -> times("lloyd"),
      "operators.lloyd_jobs" -> jobs("decomp.lloyd"),
      "operators.topk_ms" -> times("topk"),
      "operators.bpe_ms" -> times("bpe"))
  }
}

object Decompose {
  import Main.fingerprint

  def apply(workload: String, spark: SparkSession, dir: String, work: String,
            tracer: Tracer): Decompose = {
    val times = mutable.LinkedHashMap.empty[String, Double]
    val extra = mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tracer.span(s"decomp.$name")(body)
      times(name) = (System.nanoTime() - t0) / 1e6
      spark.catalog.clearCache()
      r
    }
    if (workload == "batch") {
      // the inventory chain's stages, then the dedup operators
      val boxes = timed("boxes")(fingerprint(TankInventory.boxes(spark, dir))._1)
      val clusters = timed("merge")(fingerprint(
        graft.plans.MergeBoxesApi.mergeBoxes(TankInventory.boxes(spark, dir)))._1)
      extra("plans.merge_ratio") = clusters.toDouble / math.max(1L, boxes)
      timed("inventory")(fingerprint(TankInventory.inventory(spark, dir)))
      val path = s"$work/decomp/inventory"
      timed("persist")(TankInventory.inventory(spark, dir).write.mode("overwrite").parquet(path))
      timed("crosstab") {
        val inv = spark.read.parquet(path)
        Seq("county_key", "state_key").flatMap(d => Seq(false, true).map(p =>
          fingerprint(TankInventory.crosstabFrom(inv, d, p))))
      }
      val shp = s"$work/decomp/shp"
      timed("shp_write") {
        Shapefile.writeZippedLayer(spark.read.parquet(path).select(
          col("minx").cast("double").as("minx"), col("miny").cast("double").as("miny"),
          col("maxx").cast("double").as("maxx"), col("maxy").cast("double").as("maxy"),
          col("object_class"), col("county_key").cast("string").as("county_fips"),
          col("state_key").cast("string").as("state_fips")),
          shp, Seq(("object_class", 20), ("county_fips", 10), ("state_fips", 10)))
      }
      timed("shp_scan")(fingerprint(Shapefile.scanZippedShapefiles(spark, shp)))
      import graft.operators.{GraphCC, Lloyd, TextPipeline, VectorSearch}
      val docs = Tables.spread(spark, Tables.documents(spark, dir).select("doc_id", "text"))
      val shingled = docs.withColumn("toks", TextPipeline.tokens(col("text")))
        .select(col("doc_id"), explode(TextPipeline.shinglesFromTokens(col("toks"), 3)).as("shingle"))
      timed("minhash")(fingerprint(TextPipeline.minhashSignature(shingled, "doc_id", "shingle", 8)))
      val sig = TextPipeline.minhashSignature(shingled, "doc_id", "shingle", 8).localCheckpoint()
      val pairs = TextPipeline.lshCandidatePairs(sig, "doc_id", 8, 2)
      val candidates = timed("lsh_pairs")(fingerprint(pairs)._1)
      val ckPairs = pairs.localCheckpoint()
      def side(s: String) = (0 until 8).foldLeft(sig)((d, i) => d.withColumnRenamed(s"h$i", s"h${i}_$s"))
        .withColumnRenamed("doc_id", s"id_$s")
      val verified = ckPairs.join(side("a"), "id_a").join(side("b"), "id_b")
        .filter(TextPipeline.signatureAgreement(8) >= 0.5).count()
      extra("operators.lsh_yield") = verified.toDouble / math.max(1L, candidates)
      timed("graphcc")(fingerprint(GraphCC.connectedComponents(
        docs.select(lit("").as("key"), col("doc_id").as("id")), ckPairs.withColumn("key", lit("")))))
      val emb = Tables.embeddings(spark, dir)
      val qvecs = emb.withColumn("dvec", transform(col("embedding"), x => x.cast("double")))
        .withColumn("scale", lit(127.0) / array_max(transform(col("dvec"), x => abs(x))))
        .select(col("vec_id"), transform(col("dvec"),
          x => floor(x * col("scale") + lit(0.5)).cast("int")).as("qvec"))
        .coalesce(1).cache()
      timed("lloyd")(Lloyd.train(spark, qvecs, k = 8, maxIters = 8).iterations)
      qvecs.unpersist()
      timed("topk")(fingerprint(VectorSearch.bruteForceTopK(emb, emb.filter(col("vec_id") % 50 === 0), 3)))
      timed("bpe")(fingerprint(SparkEntry.queries("t_bpe_train")(spark, dir)))
    }
    new Decompose(times.toMap, extra.toMap)
  }
}
