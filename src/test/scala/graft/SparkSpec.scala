package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, getOrCreate dedupes). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Graft.session("local[4]", 4, "graft-test")

  val sf0001 = "/root/testdata/sf0.001"
}
