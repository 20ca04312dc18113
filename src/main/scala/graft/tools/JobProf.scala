package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Scratch diagnostic: per-Spark-job wall times for one `SparkEntry`
  * query — where a multi-action operator (iterative loop, staged write,
  * probe + rewrite) actually spends its seconds. Usage:
  * runMain graft.tools.JobProf <queryName> <sfDir>
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val Array(q, sfDir) = args
    val spark = graft.Sessions.local()
    spark.read.parquet(s"$sfDir/${graft.Bench.probeTable(sfDir).getOrElse("nation")}.parquet").count()

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobs = mutable.ListBuffer.empty[(Int, Double, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.lastOption.map(s =>
          s.name.take(60) + " [" + e.stageInfos.map(_.numTasks).sum + " tasks/" +
            e.stageInfos.size + " stages]").getOrElse("?")
        starts.put(e.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.remove(e.jobId)).foreach { case (t0, site) =>
          jobs.synchronized { jobs += ((e.jobId, (System.nanoTime() - t0) / 1e9, site)) }
        }
      }
    })
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(q)(spark, sfDir).count()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1500) // listener bus is async; jobs are all ended by now
    println(f"TOTAL $total%.2f s, ${jobs.size} jobs")
    jobs.synchronized {
      jobs.sortBy(-_._2).take(25).foreach { case (id, d, site) =>
        println(f"JOB $id%4d ${d}%7.2f s  $site")
      }
    }
    spark.stop()
  }
}
