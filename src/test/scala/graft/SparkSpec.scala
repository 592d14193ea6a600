package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, getOrCreate dedupes). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-test")

  val sf0001 = "/root/testdata/sf0.001"

  /** `body`'s result and every stderr line it printed. */
  def withStderr[T](body: => T): (T, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    val r = try body finally System.setErr(prev)
    (r, buf.toString.linesIterator.toSeq)
  }
}
