package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared session for all suites (one JVM, getOrCreate dedupes). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-test")

  val sf0001 = "/root/testdata/sf0.001"

  /** The reference's 53 RDF/XML conference dumps (FIXTURES.md §1). The
    * repository does not hold them; tests about the dumps themselves
    * need them at this path. */
  val referenceModels = "/root/reference/models"

  def hasReferenceCorpus: Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(referenceModels))

  /** Cancels the calling test unless the reference dumps are present. */
  def assumeReferenceCorpus(): Unit =
    assume(hasReferenceCorpus, s"reference corpus absent: $referenceModels (FIXTURES.md §1)")

  /** `body`'s result and every stderr line it printed. */
  def withStderr[T](body: => T): (T, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    val r = try body finally System.setErr(prev)
    (r, buf.toString.linesIterator.toSeq)
  }

  /** `body`'s result and the result-stage name (its call site, such as
    * `count at Fixpoint.scala:33`) of every job it started, read once
    * the listener bus has delivered every event of the run. */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "jobs-during"))
          started.add(e.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobs-during", "jobs-during")
      val r = try body finally sc.clearJobGroup()
      Bench.drainListeners(sc)
      (r, started.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
