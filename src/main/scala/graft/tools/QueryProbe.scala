package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev profiler: run a mix of queries in order, `repeats` times, and print
  * per query its wall time, its Spark jobs and the generated classes it
  * compiled (guide §1: decide whether the time is compute, shuffle,
  * orchestration or code generation BEFORE changing anything). Usage:
  *   QueryProbe <query>[,<query>...] [sfDir] [repeats]
  * Per query and repeat it prints `<name> repeat <r>: <sec> s, <n> jobs,
  * <c> compiles (<ms> ms janino)`, then the slowest jobs as
  * `job <id> <sec>s tasks=<n> <description>`; each repeat ends with the
  * mix's totals. The first repeat is the warm-up. A warm repeat that still
  * compiles means the mix needs more distinct classes than Spark's codegen
  * cache holds (`spark.sql.codegen.cache.maxEntries`, default 100), so it
  * evicts and recompiles them every cycle.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val mix = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(sys.error("usage: QueryProbe <query>[,<query>...] [sfDir] [repeats]"))
    val unknown = mix.filterNot(graft.SparkEntry.queries.contains)
    require(mix.nonEmpty && unknown.isEmpty, s"QueryProbe: unknown queries: ${unknown.mkString(", ")}")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val repeats = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    @volatile var rows = Seq.empty[(Int, Double, Int, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val nTasks = e.stageInfos.map(_.numTasks).sum
        starts.put(e.jobId, (System.nanoTime(), desc, nTasks))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.remove(e.jobId)).foreach { case (t0, desc, nTasks) =>
          val dt = (System.nanoTime() - t0) / 1e9
          rows.synchronized { rows = rows :+ ((e.jobId, dt, nTasks, desc)) }
        }
      }
    }
    // janino compiles: one histogram sample per class body compiled (a
    // codegen cache hit records none); the compile time accumulates in ns
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    def compileMs: Long = CodeGenerator.compileTime / 1000000
    spark.sparkContext.addSparkListener(listener)
    (1 to repeats).foreach { r =>
      var cycleSec = 0.0
      var cycleJobs = 0
      var cycleCompiles = 0L
      mix.foreach { name =>
        rows = Seq.empty
        val (c0, ms0) = (compiles.getCount, compileMs)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir).count()
        val total = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.GraftSqlShim.drainListenerBus(spark)
        spark.catalog.clearCache()
        val (nc, ms) = (compiles.getCount - c0, compileMs - ms0)
        cycleSec += total; cycleJobs += rows.size; cycleCompiles += nc
        println(f"===== $name repeat $r: $total%.3f s, ${rows.size} jobs, $nc compiles ($ms ms janino) =====")
        rows.sortBy(-_._2).take(40).foreach { case (id, dt, nTasks, desc) =>
          println(f"  job $id%4d $dt%7.3f s tasks=$nTasks%4d  ${desc.take(110)}")
        }
        val sum = rows.map(_._2).sum
        println(f"  [sum of job wall times: $sum%.3f s; gaps (driver work): ${total - sum}%.3f s]")
      }
      println(f"##### repeat $r: ${mix.size} queries, $cycleSec%.3f s, $cycleJobs jobs, " +
        s"$cycleCompiles compiles; codegen cache ${cacheKeys()}")
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.stop()
  }

  /** `<k> keys over <b> class bodies` held by Spark's codegen cache (read by
    * reflection: the cache is private). The cache keys a class by (class
    * loader, source), so a body compiled under two loaders holds two keys.
    * Run with `-Dspark.sql.codegen.cache.maxEntries=<large>` to read a
    * mix's whole working set instead of the 100 most recent keys. */
  private def cacheKeys(): String =
    try {
      val m = CodeGenerator.getClass.getDeclaredMethod("cache")
      m.setAccessible(true)
      val wrapper = m.invoke(CodeGenerator)
      val keys = wrapper.getClass.getMethod("cache").invoke(wrapper)
        .asInstanceOf[org.sparkproject.guava.cache.Cache[(AnyRef, AnyRef), AnyRef]]
        .asMap().keySet().asScala
      s"${keys.size} keys over ${keys.map(_._2).size} class bodies"
    } catch { case e: ReflectiveOperationException => s"unreadable ($e)" }
}
