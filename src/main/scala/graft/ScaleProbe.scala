package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off empirical scale probe (NOT a gate): times the headline
  * pipelines at 1×/3×/10× of sf0.1 and reports per-query scaling
  * exponents (`log(t_k/t_1)/log k`). The expanded inputs are built by
  * generator expansion — k key-shifted copies of each fact table with
  * FK consistency preserved (orders.o_custkey shifts with customer,
  * lineitem with orders/part/supplier) and CONTENT made distinct where
  * near-duplicate structure would distort the measurement:
  * `documents.text` gets a per-copy alphabet rotation (a verbatim copy
  * would be a near-dup of its original, so dedup pair counts would grow
  * quadratically in k by construction, not by algorithmic regression);
  * `embeddings` get a small deterministic per-copy/dim perturbation for
  * the same reason. Dimensions (region/nation) are not expanded.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 java ... graft.ScaleProbe`
  * Prints one JSON line per (query, factor) and a final exponents line.
  */
object ScaleProbe {

  /** (table, copy-index column shifts). A shift of ("col", base) adds
    * `i * base` to the column in copy i — bases chosen as clean powers
    * beyond any real key so copies never collide. */
  private val keyShifts: Map[String, Seq[(String, Long)]] = Map(
    "customer"   -> Seq(("c_custkey", 10000000L)),
    "orders"     -> Seq(("o_orderkey", 100000000L), ("o_custkey", 10000000L)),
    "lineitem"   -> Seq(("l_orderkey", 100000000L), ("l_partkey", 10000000L),
                        ("l_suppkey", 1000000L)),
    "part"       -> Seq(("p_partkey", 10000000L)),
    "supplier"   -> Seq(("s_suppkey", 1000000L)),
    "events"     -> Seq(("event_id", 100000000L), ("user_id", 10000000L)),
    "documents"  -> Seq(("doc_id", 10000000L)),
    "embeddings" -> Seq(("vec_id", 10000000L)))

  private val dims = Seq("region", "nation")

  private def copyOf(df: DataFrame, table: String, i: Int): DataFrame = {
    val shifted = keyShifts.getOrElse(table, Seq.empty).foldLeft(df) {
      case (d, (c, base)) => d.withColumn(c, col(c) + lit(i.toLong * base))
    }
    table match {
      case "documents" if i > 0 =>
        // per-copy alphabet rotation: every shingle differs from the
        // original's, so copies are NOT near-duplicates of each other.
        // The rotation alphabet wraps at 25, so copies past it ALSO
        // reverse the text (rotation+reversal = 50 distinct forms) —
        // without this, copy 25 is byte-identical to the original and
        // the probe would measure constructed duplicates, not scaling.
        val a = "abcdefghijklmnopqrstuvwxyz"
        val rot = (i % 25) + 1
        val to = a.substring(rot) + a.substring(0, rot)
        val rotated = translate(col("text"), a, to)
        shifted.withColumn("text", if (i >= 25) reverse(rotated) else rotated)
      case "embeddings" if i > 0 =>
        // deterministic per-copy/dim jitter keeps copies geometrically
        // distinct without reshaping the corpus's cluster structure
        shifted.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            x + (pmod(lit(i) * 31 + j * 17, lit(13)) - lit(6)).cast("float") * lit(0.003f)))
      case _ => shifted
    }
  }

  private def expand(spark: SparkSession, base: String, root: String, k: Int): String = {
    if (k == 1) return base
    val dir = s"$root/x$k"
    val done = java.nio.file.Paths.get(dir, "_PROBE_READY")
    if (java.nio.file.Files.exists(done)) return dir
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // SPARK_GRAFT_PROBE_TABLES restricts WHICH tables expand (others are
    // copied 1×) — the big-factor text/vector probe expands 5k-row
    // documents 50× without paying a 30M-row lineitem expansion it
    // never reads
    val expandSet = sys.env.get("SPARK_GRAFT_PROBE_TABLES")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(keyShifts.keySet)
    val all = dims ++ keyShifts.keys.toSeq.sorted
    all.foreach { t =>
      val src = graft.io.Tables.table(spark, base, t)
      val out =
        if (dims.contains(t) || !expandSet.contains(t)) src
        else (0 until k).map(i => copyOf(src, t, i)).reduce(_.unionByName(_))
      out.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    java.nio.file.Files.createFile(done)
    dir
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val root = sys.env.getOrElse("SPARK_GRAFT_PROBE_ROOT", "/tmp/graft_scale_probe")
    val factors = sys.env.getOrElse("SPARK_GRAFT_PROBE_FACTORS", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val queries = sys.env.getOrElse("SPARK_GRAFT_PROBE_QUERIES",
      "e1_inventory,d2_lsh_pairs,a8_merge_clusters,v14_ivfpq_search,gr2_triangles")
      .split(",").map(_.trim).toSeq

    // the bench's own session: the probe measures how the BENCHED plans
    // scale, so the plan-shaping confs (AQE, the 64 MB broadcast
    // threshold gr2's size gate consults) must match exactly
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val dirs = factors.map(k => k -> expand(spark, base, root, k)).toMap
    def load(): Double = {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.split(" ")(0).toDouble finally s.close()
    }
    // warm the JIT/classloading once on the smallest factor, untimed
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, dirs(factors.min)).count()
      catch { case e: Throwable =>
        println(s"""{"warmfail":"$q","err":"${e.getClass.getSimpleName}"}""")
      }
    }
    val times = scala.collection.mutable.Map.empty[(String, Int), Double]
    // best-of-2 per cell: a single co-tenant burst or a late JIT pass
    // otherwise lands in exactly one cell and fabricates an exponent
    for (k <- factors.sorted; q <- queries) {
      val lb = load()
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.queries(q)(spark, dirs(k)).count(); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        if (ok) dt else -1.0
      }
      val valid = runs.filter(_ >= 0)
      if (valid.nonEmpty) times((q, k)) = valid.min
      println(s"""{"query":"$q","factor":$k,"sec":${valid.minOption.getOrElse(-1.0)},""" +
        s""""runs":[${runs.mkString(",")}],"load":[$lb,${load()}]}""")
    }
    val kLo = factors.min
    val kHi = factors.max
    val exps = queries.flatMap { q =>
      for (a <- times.get((q, kLo)); b <- times.get((q, kHi)))
        yield q -> math.log(b / a) / math.log(kHi.toDouble / kLo)
    }
    spark.stop()
    println("GRAFT_PROBE_RESULT {" + exps.map { case (q, e) =>
      "\"" + q + "\":" + f"$e%.3f" }.mkString(",") + "}")
  }
}
