package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev profiler: run one query and print every Spark JOB's wall time with
  * its description (guide §1: decide whether the time is compute, shuffle,
  * or orchestration BEFORE changing anything). Usage:
  *   QueryProbe <queryName> [sfDir] [repeats]
  * Prints per-job lines `job <id> <sec>s tasks=<n> <description>` plus the
  * end-to-end seconds per repeat (first repeat is the warm-up; compare the
  * later ones to the bench's steady-state numbers).
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: QueryProbe <query> [sfDir] [repeats]"))
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
    val fn = graft.SparkEntry.queries(name)
    (1 to repeats).foreach { r =>
      rows = Seq.empty
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
      println(f"===== $name repeat $r: $total%.3f s, ${rows.size} jobs =====")
      rows.sortBy(-_._2).take(40).foreach { case (id, dt, nTasks, desc) =>
        println(f"  job $id%4d $dt%7.3f s tasks=$nTasks%4d  ${desc.take(110)}")
      }
      val sum = rows.map(_._2).sum
      println(f"  [sum of job wall times: $sum%.3f s; gaps (driver work): ${total - sum}%.3f s]")
    }
    spark.stop()
  }
}
