package graft

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE final JSON metric line for the driver,
  * PLUS one compact progress line per query as it completes.
  *
  * local[32] with shuffle.partitions=32 (not the 200 default — at this
  * data scale extra partitions are pure scheduling overhead; on a real
  * cluster this knob scales with executor count). AQE stays on so joins
  * re-plan to broadcast at runtime exactly as they would at scale.
  *
  * Survivability contract (round-5): a run killed at ANY point (driver
  * timeout, OOM-kill, SIGKILL) must still leave machine-readable evidence:
  *   - stdout tail holds one `{"query":...,"sec":...}` line per completed
  *     query (distinct shape from the final `"metric"` line, so a driver
  *     grepping for the metric line never confuses a partial record with
  *     a total);
  *   - BENCH_FULL.json is REWRITTEN after every query with the results so
  *     far (`"partial":true` until the suite completes), so the in-repo
  *     artifact is always parseable and at most one query stale.
  * Round 4 lost its entire driver record to a timeout (rc 124 → parsed
  * null + CORRECTNESS `{}`) because all output happened once, at the end.
  *
  * Modes:
  *   - default: per query, one untimed warm run (codegen/JIT/parquet
  *     footers land here) then two timed runs; report min (steady state)
  *     and max (envelope). Same statistics as the round-3/4 protocol; the
  *     difference is ordering — per-query consecutive instead of
  *     suite-wide passes — which is what makes incremental emission
  *     possible. Cross-query warmup of shared Spark infrastructure still
  *     happens naturally as the suite progresses.
  *   - SPARK_GRAFT_BENCH_FAST=1: ONE timed run per query, no warm pass
  *     (~3x less budget; numbers include first-run codegen compile).
  *     For budget-constrained drivers on a degraded machine: full
  *     coverage beats steady-state precision. The record carries
  *     `"mode":"fast"` so fast numbers are never compared against
  *     steady-state ones.
  *   - SPARK_GRAFT_ONLY=q1,q2: limit to named queries (dev: repeated
  *     focused timing without the full suite).
  *   - SPARK_GRAFT_REQUEUE_LOAD (default 3.0, 0 disables): any query whose
  *     before/after host-load stamp exceeded the threshold is re-measured
  *     once more at the END of the run (hopefully past the burst). The
  *     record keeps BOTH readings — `queries` carries the effective
  *     (minimum) seconds, `requeued` the original/retry pair with its own
  *     load stamps — so burst-inflated readings adjudicate themselves
  *     instead of needing a manual re-run narrative.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val fast = sys.env.get("SPARK_GRAFT_BENCH_FAST").exists(v => v == "1" || v == "true")
    val spark = GraftSession.local(cpus)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_ONLY lists no valid queries (unknown: ${unknown.mkString(", ")})")
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // Host 1-minute loadavg, recorded before/after every query. The round-6
    // driver record carried a 30.9s reading for a query that is 1.3s in every
    // other record — co-tenant host load with no in-guest consumer. Stamping
    // load into the record makes burst-inflated readings machine-flaggable
    // (load >> local parallelism during the window) instead of narrative.
    def loadAvg(): Double =
      try {
        val l = java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
        math.rint(l * 100) / 100
      } catch { case _: Throwable => -1.0 }

    // name -> exception class of the query's last failed run, recorded
    // beside its -1 so a failed record explains itself without a re-run
    val causes = scala.collection.mutable.Map.empty[String, String]
    def runOnce(name: String): Double =
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()                  // no cross-run cache reuse
        dt
      } catch { case e: Throwable => causes(name) = e.getClass.getName; -1.0 }
    // (min, max) seconds: one timed run in fast mode, else an untimed warm
    // run (codegen/JIT/IO) then two timed ones
    def measure(name: String): (Double, Double) =
      if (fast) { val t = runOnce(name); (t, t) }
      else {
        runOnce(name)
        val a = runOnce(name); val b = runOnce(name)
        if (a < 0 || b < 0) (-1.0, -1.0) else (math.min(a, b), math.max(a, b))
      }

    val headline = Seq(
      "e1_inventory", "e3_inventory_crosstab", "e3e_persisted_crosstabs",
      "a8_merge_clusters", "a8c_merge_unbounded", "d2_lsh_pairs",
      "d2c_lsh_capped", "d9_simhash_pairs", "q1_agg",
      "q3_join_topk", "j8_spatial_argmax", "v1_cosine_topk",
      "s7_voc_roundtrip", "s13_shapefile_sink", "g1_chip_pixels",
      "tracker_build", "tl1_commitlog_snapshot", "e4_text_pipeline",
      "t_token_count", "s3_session_window", "w2_limit_allocation")

    // A SPARK_GRAFT_ONLY-filtered dev run must NOT clobber the committed
    // full-run record — it only writes when given an explicit path.
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some("BENCH_FULL.json") else None)

    // retry readings from the end-of-run burst re-measure:
    // name -> (retrySec, retryMax, retryLoadBefore, retryLoadAfter)
    val requeued = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Double, Double, Double)]
    // threshold in loadavg units: quiet benching sits at 1-2 on this host;
    // the documented burst signature is 4-16 (read here so the record
    // writer can flag retries that were THEMSELVES burst-contaminated)
    val requeueLoad = sys.env.getOrElse("SPARK_GRAFT_REQUEUE_LOAD", "3.0").toDouble

    // effective seconds: the retry replaces the original only when BOTH
    // are valid and the retry is faster (a burst can hit the retry too)
    def effective(done: Seq[(String, Double, Double, Double, Double)]): Seq[(String, Double)] =
      done.map { case (n, lo, _, _, _) =>
        n -> (requeued.get(n) match {
          case Some((r, _, _, _)) if r >= 0 && lo >= 0 => math.min(lo, r)
          case Some((r, _, _, _)) if lo < 0 => r
          case _ => lo
        })
      }
    // the fields the record and the summary line open with: the run's
    // conditions and its failures, each failed query's exception class
    // beside its -1. A -1 must NOT shrink the summed total (a broken run
    // would otherwise look faster).
    def head(g: JsonGenerator, results: Seq[(String, Double)]): Unit = {
      val failed = results.collect { case (k, v) if v < 0 => k }
      g.writeStringField("metric", "total")
      g.writeNumberField("value", results.collect { case (_, v) if v >= 0 => v }.sum)
      g.writeStringField("unit", "sec")
      g.writeNumberField("n_queries", results.size)
      g.writeNumberField("cpus", cpus)
      if (fast) g.writeStringField("mode", "fast")
      g.writeNumberField("n_failed", failed.size)
      g.writeArrayFieldStart("failed")
      failed.foreach(g.writeString)
      g.writeEndArray()
      g.writeObjectFieldStart("failed_cause")
      failed.foreach(n => g.writeStringField(n, causes.getOrElse(n, "")))
      g.writeEndObject()
    }

    def record(done: Seq[(String, Double, Double, Double, Double)], partial: Boolean): String =
      Bench.json { g =>
        val results = effective(done)
        head(g, results)
        g.writeNumberField("n_selected", selected.size)
        if (partial) g.writeBooleanField("partial", true)
        Bench.numbers(g, "queries", results)
        Bench.numbers(g, "queries_max", done.map { case (n, _, hi, _, _) => n -> hi })
        // per-query [loadBefore, loadAfter] — the variance canary
        g.writeObjectFieldStart("load")
        done.foreach { case (n, _, _, lb, la) => Bench.pair(g, n, lb, la) }
        g.writeEndObject()
        // burst_residual: this query's RETRY ran under load above the
        // threshold too, so even min(orig, retry) may still be inflated —
        // the record self-describes its residual contamination instead of
        // passing a warm-min-looking number off as quiet (round-8 example:
        // gr2b retried at loadavg 11-14)
        val origByName = done.map { case (n, lo, _, _, _) => n -> lo }.toMap
        g.writeObjectFieldStart("requeued")
        requeued.foreach { case (n, (r, rMax, lb, la)) =>
          g.writeObjectFieldStart(n)
          g.writeNumberField("orig", origByName.getOrElse(n, -1.0))
          g.writeNumberField("sec", r)
          g.writeNumberField("max", rMax)
          Bench.pair(g, "load", lb, la)
          if (requeueLoad > 0 && math.max(lb, la) > requeueLoad)
            g.writeBooleanField("burst_residual", true)
          g.writeEndObject()
        }
        g.writeEndObject()
        g.writeStringField("sf", sfDir)
      }
    def flush(done: Seq[(String, Double, Double, Double, Double)], partial: Boolean): Unit =
      outPath.foreach { o =>
        // atomic-rename rewrite: a kill mid-write can't leave a torn file
        try {
          val tmp = java.nio.file.Paths.get(o + ".tmp")
          java.nio.file.Files.write(tmp, record(done, partial).getBytes("UTF-8"))
          java.nio.file.Files.move(tmp, java.nio.file.Paths.get(o),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } catch { case _: Throwable => () } // bench output must never fail the run
      }

    val done = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Double, Double)]
    selected.zipWithIndex.foreach { case ((name, _), i) =>
      val loadBefore = loadAvg()
      val (lo, hi) = measure(name)
      val loadAfter = loadAvg()
      done += ((name, lo, hi, loadBefore, loadAfter))
      // per-query progress line: compact, bounded, and shaped differently
      // from the final metric line (no "metric" key) so tail-grabs stay
      // unambiguous. This is the kill-survivable stdout evidence.
      println(Bench.json { g =>
        g.writeStringField("query", name)
        g.writeNumberField("sec", lo)
        g.writeNumberField("max", hi)
        Bench.pair(g, "load", loadBefore, loadAfter)
        g.writeNumberField("i", i + 1)
        g.writeNumberField("n", selected.size)
      })
      flush(done.toSeq, partial = true)
    }
    // -------------------------------------------------------------- burst re-queue
    // Re-measure queries whose load stamps flagged a co-tenant burst, once,
    // at the end of the run (the burst has usually passed).
    if (requeueLoad > 0) {
      val flagged = done.toSeq.collect {
        case (n, _, _, lb, la) if math.max(lb, la) > requeueLoad => n
      }
      flagged.foreach { name =>
        val lb = loadAvg()
        val (lo, hi) = measure(name)
        val la = loadAvg()
        requeued += name -> ((lo, hi, lb, la))
        println(Bench.json { g =>
          g.writeStringField("requeue", name)
          g.writeNumberField("sec", lo)
          g.writeNumberField("max", hi)
          Bench.pair(g, "load", lb, la)
        })
        flush(done.toSeq, partial = true)
      }
    }

    val results = effective(done.toSeq)
    flush(done.toSeq, partial = false)
    // stop Spark BEFORE the metric line so nothing can interleave after
    // it — the driver parses the LAST stdout tail, and round 7's record
    // came back parsed:null
    spark.stop()
    // The driver captures only a bounded tail of stdout: the round-2 full
    // per-query line (~3 KB for 104 queries) was truncated past parseability
    // (BENCH_r02.json parsed:null). Print a compact headline line that always
    // fits; the complete per-query map is persisted to BENCH_FULL.json.
    val headlineRs = results.filter { case (k, _) => headline.contains(k) }
    val summary = Bench.json { g =>
      head(g, results)
      g.writeNumberField("n_requeued", requeued.size)
      Bench.numbers(g, "queries", if (only.isEmpty) headlineRs else results)
      g.writeStringField("sf", sfDir)
    }
    // Sentinel-prefixed copy FIRST (a wrapper can grep ^GRAFT_BENCH_RESULT
    // and can never land on a mid-run requeue/progress line), then the bare
    // JSON as the very last stdout write for any naive last-line parser.
    println(s"GRAFT_BENCH_RESULT $summary")
    println(summary)
  }

  private val factory = new JsonFactory()

  /** One JSON object, its fields written by `fields`: every name and
    * string is escaped, and doubles print as `Double.toString` does. */
  private def json(fields: JsonGenerator => Unit): String = {
    val out = new java.io.StringWriter
    val g = factory.createGenerator(out)
    g.writeStartObject()
    fields(g)
    g.writeEndObject()
    g.close()
    out.toString
  }

  /** `"name": {query: seconds, ...}` */
  private def numbers(g: JsonGenerator, name: String, rs: Seq[(String, Double)]): Unit = {
    g.writeObjectFieldStart(name)
    rs.foreach { case (k, v) => g.writeNumberField(k, v) }
    g.writeEndObject()
  }

  /** `"name": [a, b]` */
  private def pair(g: JsonGenerator, name: String, a: Double, b: Double): Unit = {
    g.writeArrayFieldStart(name)
    g.writeNumber(a)
    g.writeNumber(b)
    g.writeEndArray()
  }
}
