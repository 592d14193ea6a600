package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** The contract of [[Fixpoint.iterate]]: one job (the round's count) per
  * round whose step needs no shuffle, where the loop stops, and the shape
  * of what it returns. */
class FixpointSpec extends SparkSpec {

  private def ints(xs: Long*): DataFrame = {
    import spark.implicits._
    xs.toDF("n")
  }

  /** A step that adds one to every row of the last round, up to `limit`. */
  private def counting(limit: Long, calls: AtomicInteger) =
    (_: DataFrame, delta: DataFrame) => {
      calls.incrementAndGet()
      delta.select((col("n") + 1).as("n")).filter(col("n") <= limit)
    }

  private def values(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).sorted.toSeq

  private def isCount(job: String) = job.startsWith("count at Fixpoint.scala")

  test("each round runs exactly one job, its count; an empty round ends the loop") {
    val calls = new AtomicInteger()
    val (all, jobs) = jobsDuring(
      Fixpoint.iterate(ints(0L), Int.MaxValue, Long.MaxValue)(counting(4L, calls)))
    // seed {0}, rounds {1}..{4}, then the empty fifth round
    assert(calls.get == 5)
    assert(jobs.size == 6 && jobs.forall(isCount), jobs)
    assert(values(all) == (0L to 4L))
  }

  test("an empty seed costs one job and no step call") {
    val calls = new AtomicInteger()
    val (all, jobs) = jobsDuring(
      Fixpoint.iterate(spark.range(4).toDF("n").filter(col("n") > 4), 10, 100L)(
        counting(4L, calls)))
    assert(calls.get == 0)
    assert(jobs.size == 1 && jobs.forall(isCount), jobs)
    assert(all.isEmpty)
  }

  test("maxRounds caps the step calls") {
    val calls = new AtomicInteger()
    val all = Fixpoint.iterate(ints(0L), 3, Long.MaxValue)(counting(100L, calls))
    assert(calls.get == 3)
    assert(values(all) == (0L to 3L))
  }

  test("maxRows stops once the union holds more than it") {
    val calls = new AtomicInteger()
    // 2 rows per round: 2 ≤ 5, 4 ≤ 5, then 6 > 5 stops
    val all = Fixpoint.iterate(ints(0L, 10L), Int.MaxValue, 5L)(counting(100L, calls))
    assert(calls.get == 2)
    assert(values(all) == Seq(0L, 1L, 2L, 10L, 11L, 12L))
    // a bound the seed already exceeds runs no step
    calls.set(0)
    Fixpoint.iterate(ints(0L, 10L), Int.MaxValue, 1L)(counting(100L, calls))
    assert(calls.get == 0)
  }

  test("step sees every round so far; the result's plan is one checkpoint leaf") {
    val seen = scala.collection.mutable.Buffer[Seq[Long]]()
    val all = Fixpoint.iterate(ints(0L), Int.MaxValue, Long.MaxValue) { (all, delta) =>
      seen += values(all)
      delta.select((col("n") + 1).as("n")).filter(col("n") <= 4L)
    }
    assert(seen.toSeq == (0L to 4L).map(k => 0L to k))
    val plan = all.queryExecution.optimizedPlan
    assert(plan.isInstanceOf[LogicalRDD], plan.treeString)
  }
}
