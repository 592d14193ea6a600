package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev-only empirical profiler (guide §1.1): run named registered
  * queries in a warm session with a listener that attributes wall
  * clock to Spark jobs vs driver-side gaps, and sums executor task
  * time per job. Output per query:
  *   jobs=N jobWall=X taskSum=Y gaps=Z (wall - sum of job spans)
  * plus the top job spans with their first stage name. Not part of
  * the driver contract — an iterate-on-one-operator lens next to
  * [[TimeQ]] (which stays the timing tool of record).
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(s"local[$cpus]", cpus, "graft-jobprof")
    spark.sparkContext.setLogLevel("WARN")

    case class J(var start: Long = 0L, var end: Long = 0L,
      var taskMs: Long = 0L, var tasks: Int = 0, var desc: String = "")
    val jobs = mutable.LinkedHashMap[Int, J]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val j = jobs.getOrElseUpdate(e.jobId, J())
        j.start = e.time
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
          j.taskMs += Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
          j.tasks += 1
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    try Tables.documents(spark, sfDir).count() catch { case _: Throwable => () }
    try SparkEntry.queries("q1_agg")(spark, sfDir).count() catch { case _: Throwable => () }
    spark.catalog.clearCache()

    names.foreach { name =>
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val wallMs = (System.nanoTime() - t0) / 1e6
      spark.catalog.clearCache()
      Thread.sleep(200) // let listener events drain
      jobs.synchronized {
        val spans = jobs.values.toSeq
        val jobWall = spans.map(j => math.max(0L, j.end - j.start)).sum
        val taskSum = spans.map(_.taskMs).sum
        val nTasks = spans.map(_.tasks).sum
        println(f"[jobprof] $name wall=${wallMs / 1000}%.3fs jobs=${spans.size} " +
          f"jobWall=${jobWall / 1000.0}%.3fs taskSum=${taskSum / 1000.0}%.3fs " +
          f"tasks=$nTasks gap=${(wallMs - jobWall) / 1000}%.3fs")
        spans.toSeq.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
          println(f"[jobprof]   span=${(j.end - j.start) / 1000.0}%.3fs " +
            f"taskMs=${j.taskMs} tasks=${j.tasks} ${j.desc.take(80)}")
        }
      }
    }
    spark.stop()
  }
}
