package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Dev-loop main, the iterate-on-one-operator lens next to [[Bench]]
  * (the timing tool of record), on Bench's session, warm-up, name check
  * and per-query loop:
  *
  *   runMain graft.Dev time <sfDir> <reps> <query…>   seconds per rep, min, rows
  *   runMain graft.Dev prof <sfDir> <query…>          wall by job, hottest jobs and stages
  *   runMain graft.Dev explain <sfDir> [query…]       formatted physical plans (all if none named)
  *
  * `time` and `prof` run Bench's full warm-up first, so their numbers
  * start from the bench's warm state. Reads SPARK_GRAFT_CPUS (default
  * 32); conf experiments go in as JVM `-Dspark.<key>=<value>`
  * properties, which SparkConf reads (except the keys [[Graft.session]]
  * sets). Not part of the [[SparkEntry]] contract.
  */
object Dev {
  final case class Job(id: Int, start: Long, end: Long, desc: String) {
    def spanMs: Long = math.max(0L, end - start)
  }

  /** Executor work of one stage, attributed to the first job listing it. */
  final case class Stage(id: Int, job: Int, name: String = "", ms: Long = 0L, tasks: Int = 0,
      rows: Long = 0L, shuffleRead: Long = 0L, shuffleWrite: Long = 0L)

  /** Where one run's wall clock went. */
  final case class Profile(wallMs: Double, jobs: Seq[Job], stages: Seq[Stage]) {
    def taskMs(job: Int): Long = stages.filter(_.job == job).map(_.ms).sum
    def tasks(job: Int): Int = stages.filter(_.job == job).map(_.tasks).sum
  }

  /** Records every job and stage but the listener fence's. Written on
    * the listener queue's one thread, read after [[Bench.drainListeners]]. */
  private final class Recorder extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stages = mutable.LinkedHashMap[Int, Stage]()

    override def onJobStart(e: SparkListenerJobStart): Unit = if (!Bench.isFence(e)) {
      jobs(e.jobId) = Job(e.jobId, e.time, e.time, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      e.stageIds.foreach(id => stages.getOrElseUpdate(id, Stage(id, e.jobId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(j => jobs(j.id) = j.copy(end = e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.get(e.stageInfo.stageId).foreach(s => stages(s.id) = s.copy(name = e.stageInfo.name))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics))
        stages(s.id) = s.copy(ms = s.ms + m.executorRunTime, tasks = s.tasks + 1,
          rows = s.rows + m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
          shuffleRead = s.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = s.shuffleWrite + m.shuffleWriteMetrics.bytesWritten)

    def profile(wallMs: Double): Profile =
      Profile(wallMs, jobs.values.toSeq, stages.values.filter(_.tasks > 0).toSeq)
  }

  /** Counts `name` once under a [[Recorder]]. The bus is drained before
    * the Recorder is added, so no earlier run's late events reach it, and
    * before the profile is read, so every task end of this run is in it. */
  def profile(spark: SparkSession, sfDir: String, name: String): Either[Throwable, Profile] = {
    val sc = spark.sparkContext
    val rec = new Recorder
    Bench.drainListeners(sc)
    sc.addSparkListener(rec)
    try Bench.attempt(spark, "dev", name) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e6
    }.map { wallMs =>
      Bench.drainListeners(sc)
      rec.profile(wallMs)
    } finally sc.removeSparkListener(rec)
  }

  private def report(name: String, p: Profile): Unit = {
    val jobWall = p.jobs.map(_.spanMs).sum
    println(f"[prof] $name wall=${p.wallMs / 1000}%.3fs jobs=${p.jobs.size} " +
      f"jobWall=${jobWall / 1000.0}%.3fs taskSum=${p.stages.map(_.ms).sum / 1000.0}%.3fs " +
      f"tasks=${p.stages.map(_.tasks).sum} gap=${(p.wallMs - jobWall) / 1000}%.3fs")
    p.jobs.sortBy(-_.spanMs).take(12).foreach { j =>
      println(f"[prof]   job ${j.id} span=${j.spanMs / 1000.0}%.3fs " +
        f"taskMs=${p.taskMs(j.id)} tasks=${p.tasks(j.id)} ${j.desc.take(80)}")
    }
    p.stages.sortBy(-_.ms).take(10).foreach { s =>
      println(f"[prof]   stage ${s.id} (job ${s.job}) ms=${s.ms} tasks=${s.tasks} " +
        f"rows=${s.rows} sr=${s.shuffleRead} sw=${s.shuffleWrite} ${s.name.take(110)}")
    }
  }

  /** Checks the names, then runs `body` on a fresh session that it stops. */
  private def run(names: Seq[String], sfDir: String, warm: Boolean)(
      body: (SparkSession, Seq[String]) => Unit): Unit = {
    val qs = Bench.select(names)
    val spark = Bench.session("graft-dev")
    try {
      if (warm) Bench.warmUp(spark, sfDir)
      body(spark, qs)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: reps :: names if names.nonEmpty =>
      require(reps.toInt >= 1, s"reps must be at least 1: $reps")
      run(names, sfDir, warm = true) { (spark, qs) =>
        Bench.time(spark, sfDir, qs, reps.toInt).passed.foreach { r =>
          println(f"[time] ${r.name} min=${r.secs.min}%.3fs " +
            s"reps=${r.secs.map(s => f"$s%.3f").mkString(",")} rows=${r.rows}")
        }
      }
    case "prof" :: sfDir :: names if names.nonEmpty =>
      run(names, sfDir, warm = true) { (spark, qs) =>
        qs.foreach(n => profile(spark, sfDir, n).foreach(report(n, _)))
      }
    case "explain" :: sfDir :: names =>
      run(names, sfDir, warm = false) { (spark, qs) =>
        qs.foreach { n =>
          println(s"\n========== $n ==========")
          Bench.attempt(spark, "dev", n)(SparkEntry.queries(n)(spark, sfDir).explain("formatted"))
        }
      }
    case _ => throw new IllegalArgumentException("usage: graft.Dev time <sfDir> <reps> " +
      "<query…> | prof <sfDir> <query…> | explain <sfDir> [query…]")
  }
}
