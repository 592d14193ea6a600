package graft

/** The job names `SparkSpec.jobsDuring` reports, which plan and job-count
  * pins across the suite rely on. */
class JobsDuringSpec extends SparkSpec {

  private val collectHere = """collect at JobsDuringSpec\.scala:\d+""".r

  test("a job over zero partitions is listed under its call site") {
    val (rows, jobs) = jobsDuring(spark.sparkContext.emptyRDD[Int].collect())
    assert(rows.isEmpty)
    assert(jobs.size == 1 && jobs.forall(collectHere.matches), jobs)
  }

  test("every job of an adaptive Dataset action is named by the action's call site") {
    val (rows, jobs) = jobsDuring(spark.range(1000).selectExpr("id % 7 as k").distinct().collect())
    assert(rows.length == 7)
    // the shuffle stage runs as its own job from adaptive execution's thread
    assert(jobs.size >= 2 && jobs.forall(collectHere.matches), jobs)
  }
}
