package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev-only: per-STAGE executor-time attribution for named queries,
  * with the stage name (callsite) so hot stages map back to operators.
  * Sibling of [[JobProf]]; not part of the driver contract. */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(s"local[$cpus]", cpus, "graft-stageprof")
    spark.sparkContext.setLogLevel("WARN")

    case class St(var ms: Long = 0L, var tasks: Int = 0, var name: String = "",
      var shufRead: Long = 0L, var shufWrite: Long = 0L, var rows: Long = 0L)
    val stages = mutable.LinkedHashMap[Int, St]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.synchronized {
          stages.getOrElseUpdate(e.stageInfo.stageId, St()).name = e.stageInfo.name
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
        val st = stages.getOrElseUpdate(e.stageId, St())
        Option(e.taskMetrics).foreach { m =>
          st.ms += m.executorRunTime
          st.shufRead += m.shuffleReadMetrics.totalBytesRead
          st.shufWrite += m.shuffleWriteMetrics.bytesWritten
          st.rows += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        }
        st.tasks += 1
      }
    }
    spark.sparkContext.addSparkListener(listener)

    try Tables.documents(spark, sfDir).count() catch { case _: Throwable => () }
    try SparkEntry.queries("q1_agg")(spark, sfDir).count() catch { case _: Throwable => () }
    spark.catalog.clearCache()

    names.foreach { name =>
      stages.synchronized { stages.clear() }
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val wallMs = (System.nanoTime() - t0) / 1e6
      spark.catalog.clearCache()
      Thread.sleep(300)
      stages.synchronized {
        println(f"[stageprof] $name wall=${wallMs / 1000}%.3fs stages=${stages.size} " +
          f"taskSum=${stages.values.map(_.ms).sum / 1000.0}%.3fs")
        stages.toSeq.sortBy(-_._2.ms).take(10).foreach { case (id, st) =>
          println(f"[stageprof]   s$id ms=${st.ms} tasks=${st.tasks} rows=${st.rows} " +
            f"sr=${st.shufRead} sw=${st.shufWrite} ${st.name.take(110)}")
        }
      }
    }
    spark.stop()
  }
}
