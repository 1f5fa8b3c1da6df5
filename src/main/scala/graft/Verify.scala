package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Survivability contract (round-5): oracle_sql.json is written FIRST —
  * it depends only on the static SparkEntry.oracleSql map, not on any
  * query having run. Round 4's driver record came back empty (`{}`)
  * after a timeout because this file was written last: a kill at any
  * point during the query loop left zero comparable evidence even though
  * every already-completed query had its parquet on disk. With the
  * oracle up front, a killed run still yields a valid partial compare
  * over every query whose output directory finished writing.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Corpus-schema canary (round-6): record what each table actually scans
    // back as, so the next silent testdata regeneration (round 5 lost ten
    // queries to an unannounced ts retype) is diagnosed from the artifact
    // instead of re-derived in-session. Written before the query loop so a
    // killed run still carries it.
    // nanosAsLong up front, mirroring Tables.events: on old corpus drops
    // where events carries TIMESTAMP(NANOS), the schema conversion would throw
    // and record UNREADABLE for exactly the table this canary diagnoses
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // listFiles() is null for a missing sfDir — canary must record that,
    // not NPE before the query loop even starts
    val sfFiles = Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
    val canary = sfFiles
      .filter(f => f.getName.endsWith(".parquet")).map(_.getName.stripSuffix(".parquet"))
      .sorted.map { t =>
        val schema = try {
          graft.io.Tables.table(spark, sfDir, t).schema
            .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        } catch { case e: Throwable => s"UNREADABLE ${e.getMessage.take(120)}" }
        System.err.println(s"[verify] schema $t = $schema")
        s"${q(t)}: ${q(schema)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/corpus_schema.json"), canary)
    // Dev filter, same contract as Bench: SPARK_GRAFT_ONLY=d13,d13b runs a
    // subset (the driver never sets it). oracle_sql.json above still holds
    // every query, so check.py simply skips entries with no output dir.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    all.zipWithIndex.foreach { case ((name, fn), i) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[verify] ${i + 1}/${all.size} $name ok in $dt%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${i + 1}/${all.size} $name failed: ${e.getMessage}")
      }
      // match Bench.runOnce's per-run clearCache: queries persist shared
      // subtrees inside their own plans, and without this the one-session
      // 237-query loop accumulates every query's MEMORY_AND_DISK blocks
      // for the whole run. clearCache drops only CacheManager entries
      // (Dataset.persist/cache); blocks of localCheckpoint'ed RDDs (d2,
      // d13, e4) are freed only when the ContextCleaner sees their RDDs
      // garbage-collected on the driver
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
