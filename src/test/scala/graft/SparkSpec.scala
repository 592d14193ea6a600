package graft

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
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

  private val testDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory, deleted with everything in it when the
    * calling test ends (`deleteOnExit` cannot remove a non-empty one). */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    testDirs.add(d)
    d.toString
  }

  private val IndexRoot = "spark.graft.indexRoot"
  /** `spark.graft.indexRoot` as it was before the calling test moved it. */
  @volatile private var rootBefore: Option[Option[String]] = None

  /** Points `spark.graft.indexRoot` (the root of every `Tables.scratch`
    * dir) at a fresh [[tempDir]] until the calling test ends, so index
    * and cache trees keyed by a throwaway corpus die with the test; the
    * root the test found comes back afterwards. */
  def tempIndexRoot(prefix: String): String = {
    val d = tempDir(prefix)
    if (rootBefore.isEmpty) rootBefore = Some(spark.conf.getOption(IndexRoot))
    spark.conf.set(IndexRoot, d)
    d
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally {
      rootBefore.foreach(_.fold(spark.conf.unset(IndexRoot))(spark.conf.set(IndexRoot, _)))
      rootBefore = None
      Iterator.continually(testDirs.poll()).takeWhile(_ != null)
        .filter(Files.exists(_)).foreach { d =>
          val walk = Files.walk(d)
          try walk.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
          finally walk.close()
        }
    }

  /** `body`'s result and every stderr line it printed. */
  def withStderr[T](body: => T): (T, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    val r = try body finally System.setErr(prev)
    (r, buf.toString.linesIterator.toSeq)
  }

  /** `body`'s result and the name and executed plan of every Dataset
    * action it ran in this session (such as `localCheckpoint`), read once
    * the listener bus has delivered every event of the run. */
  def sqlActionsDuring[T](body: => T): (T, Seq[(String, String)]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        ran.add(name -> qe.executedPlan.toString)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      Bench.drainListeners(spark.sparkContext)
      (r, ran.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** `body`'s result and the name of every job it started, read once
    * the listener bus has delivered every event of the run. A job that
    * runs for a Dataset action is named by that action's call site (such
    * as `count at Fixpoint.scala:33`), read from its SQL execution, so
    * the stage jobs adaptive execution starts from its own threads carry
    * it too; any other job by its result stage's call site, and a job
    * over zero partitions, which has no stage, by the call site Spark
    * gives it as its description. */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.SparkListenerEvent
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val tag = "jobs-during"
    val sites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sites.put(x.executionId.toString, x.description)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.job.tags").exists(_.split(",").contains(tag)))
          started.add(prop(SQLExecution.EXECUTION_ID_KEY).flatMap(id => Option(sites.get(id)))
            .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
            .getOrElse(prop("spark.job.description").getOrElse(s"job ${e.jobId}")))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val r = try body finally sc.removeJobTag(tag)
      Bench.drainListeners(sc)
      (r, started.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
