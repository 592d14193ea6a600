package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The harness [[Bench]], [[Verify]] and [[Dev]] share: listener
  * attribution, per-query failure handling and the name check. */
class DevSpec extends SparkSpec {

  test("prof attributes q1_agg's jobs, stages and task time as soon as the action returns") {
    val p = Dev.profile(spark, sf0001, "q1_agg").fold(throw _, identity)
    assert(p.jobs.nonEmpty)
    assert(p.stages.size >= 2, p.stages)
    val taskSum = p.stages.map(_.ms).sum
    assert(taskSum > 0, p.stages)
    assert(p.stages.forall(s => p.jobs.exists(_.id == s.job)), "a stage outside every job")
    assert(p.jobs.map(j => p.taskMs(j.id)).sum == taskSum)
    assert(p.wallMs > 0)
  }

  test("a query that throws is reported with its exception, never timed or counted in total") {
    // q1_agg reads lineitem only; q5_multijoin also needs the tables this dir lacks
    val dir = Paths.get(tempDir("graft_bench"))
    Files.copy(Paths.get(s"$sf0001/lineitem.parquet"), dir.resolve("lineitem.parquet"))
    val (t, log) = withStderr(Bench.time(spark, dir.toString, Seq("q1_agg", "q5_multijoin"), 2))
    assert(t.passed.map(_.name) == Seq("q1_agg"))
    assert(t.passed.head.secs.size == 2 && t.passed.head.rows > 0)
    assert(t.total == t.passed.head.secs.min)
    val Seq((name, e)) = t.failed
    assert(name == "q5_multijoin")
    assert(log.contains(s"[bench] q5_multijoin failed: $e"), log)
  }

  test("an unknown query name or a rep count below 1 is rejected before any query runs") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Bench.isFence(e)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = tempDir("graft_verify")
      val unknown = "unknown queries: no_such_query"
      Seq[(() => Unit, String)](
        (() => Bench.main(Array("q1_agg", "no_such_query"))) -> unknown,
        (() => Verify.main(Array(sf0001, out, "q1_agg", "no_such_query"))) -> unknown,
        (() => Dev.main(Array("time", sf0001, "1", "q1_agg", "no_such_query"))) -> unknown,
        (() => Dev.main(Array("prof", sf0001, "q1_agg", "no_such_query"))) -> unknown,
        (() => Dev.main(Array("explain", sf0001, "no_such_query"))) -> unknown,
        (() => Dev.main(Array("time", sf0001, "0", "q1_agg"))) -> "reps must be at least 1: 0"
      ).foreach { case (run, msg) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(msg))
      }
      Bench.drainListeners(sc)
      assert(jobs.get == 0)
    } finally sc.removeSparkListener(listener)
  }
}
