package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":294,"failed":K,"sf":...}.
  * A query that throws is reported (name + exception, to stderr and to
  * BENCH_FULL.json) and never timed: `total` sums passing queries only.
  *
  * A warmup pass (count each base table + one tiny query) runs first so
  * per-query numbers measure the operators, not JVM/codegen/FS-init
  * warmup — the first parquet scan of a session otherwise pays ~3-4 s
  * of one-time cost that would land on an arbitrary query.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 2) and the
  * reported number is the MIN — the bench shares its box with whatever
  * else runs at round-end, and in past rounds one-off contention swung
  * unchanged queries 4-6x in both directions, making round-over-round
  * deltas unreadable without manual isolated re-runs (round-7 verdict
  * #3). The min over two spaced reps damps a transient spike while
  * still reflecting any real regression; every rep lands in the
  * persisted line (`reps`) so variance stays visible.
  *
  * The session, warm-up, name check and per-query loop below are the
  * one copy [[Verify]] and [[Dev]] run on too.
  */
object Bench {
  /** 1-minute load average from /proc/loadavg (-1 if unreadable) —
    * recorded at start and end of the run so a contended-box bench is
    * self-diagnosing (rounds 10 and 12 both spent cycles proving a
    * timing blip was environmental). */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args: bench only the named queries (per-op perf
    // iteration); no args = the full registered surface
    val names = select(args.toSeq)
    val spark = session("graft-bench")
    warmUp(spark, sfDir)

    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    val loadStart = loadAvg()
    val timings = time(spark, sfDir, names, reps)
    val qs = timings.passed.map(r => "\"" + r.name + "\":" + r.secs.min)
      .mkString("{", ",", "}")
    val allReps = timings.passed.map(r => "\"" + r.name + "\":" + r.secs.mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val fails = timings.failed.map { case (k, e) => Verify.jsonStr(k) + ":" + Verify.jsonStr(e.toString) }
      .mkString("{", ",", "}")
    val total = timings.total
    val loadEnd = loadAvg()
    // max run-to-run spread ratio across queries (slowest rep / fastest
    // rep): > ~3 on an unchanged query is the contention signature
    val spread = timings.passed.map { r =>
      if (r.secs.min > 0) r.secs.max / r.secs.min else 1.0
    }.foldLeft(1.0)(math.max)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fails,"reps":$allReps,"load":{"start":$loadStart,"end":$loadEnd,"max_spread":$spread},"sf":"$sfDir"}"""
    // Stdout line: totals only, at most 200 chars — the 294 query names
    // alone are 4.6 KB, more than a stdout capture window holds. The
    // per-query numbers, reps, load and failures go to the file below.
    val stdoutLine = "{\"metric\":\"total\",\"value\":" +
      "%.3f".formatLocal(java.util.Locale.ROOT, total) +
      s""","unit":"sec","queries":${names.size},"failed":${timings.failed.size},"sf":"$sfDir"}"""
    // A name-filtered run is a per-op iteration probe, not the
    // canonical surface — persisting it would silently replace the
    // committed full-run numbers with a partial set.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (args.isEmpty) Some("BENCH_FULL.json") else None)
    out.foreach { o =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(o), line + "\n")
      catch {
        // NonFatal only: a fatal VM error must not be swallowed, and a
        // failed write needs a signal — otherwise the persisted numbers
        // go stale silently, defeating the fallback's purpose.
        case NonFatal(e) =>
          System.err.println(s"graft: failed to persist bench line to $o: $e")
      }
    }
    println(stdoutLine)
    spark.stop()
  }

  /** The session of every graft main: `local[SPARK_GRAFT_CPUS]` with as
    * many shuffle partitions, WARN logging. */
  def session(appName: String, defaultCpus: Int = 32): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString).toInt
    val spark = Graft.session(s"local[$cpus]", cpus, appName)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registered queries to run, sorted: all of them when `names` is
    * empty, else the named ones. An unknown name fails before any query
    * runs — a silently-empty filter would print total 0 and read as a
    * perf win, or dump nothing and let a check pass vacuously. */
  def select(names: Seq[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(all.toSet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) all else all.filter(names.contains)
  }

  /** Touches every base table and runs one tiny query. A step that fails
    * (a table this sf dir lacks) is skipped and logged. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    def step(what: String)(count: => Long): Unit =
      try count catch { case NonFatal(e) => System.err.println(s"[bench] warm-up skipped $what: $e") }
    Graft.TableNames.foreach(t => step(t)(Graft.table(spark, sfDir, t).count()))
    step("q1_agg")(SparkEntry.queries("q1_agg")(spark, sfDir).count())
    spark.catalog.clearCache()
  }

  /** One step of one query: its result, or the exception it threw,
    * logged as `[tag] name failed: exception` (StackOverflowError too: a
    * deep plan must fail its query, not the whole run). The cache is
    * cleared after, so intra-query caches (LSH signatures, shingle sets)
    * leak no memory pressure into the next query. */
  def attempt[T](spark: SparkSession, tag: String, name: String)(body: => T): Either[Throwable, T] = {
    val r = try Right(body) catch { case e @ (NonFatal(_) | _: StackOverflowError) =>
      System.err.println(s"[$tag] $name failed: $e")
      Left(e)
    }
    spark.catalog.clearCache()
    r
  }

  /** A query that passed every rep: its seconds per rep and its rows. */
  final case class Run(name: String, secs: Seq[Double], rows: Long)

  /** A query that failed in ANY rep is a failure, with its first
    * exception: its other reps' times are not a measurement of it. */
  final case class Timings(passed: Seq[Run], failed: Seq[(String, Throwable)]) {
    def total: Double = passed.map(_.secs.min).sum
  }

  /** Times `reps` counts of each query. Rep 1 of every query runs before
    * rep 2 of any (spaced reps): contention spikes last
    * seconds-to-minutes, so back-to-back reps of one query would both
    * sit inside the same spike. */
  def time(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): Timings = {
    val runs = (1 to reps).map { _ =>
      names.map { name =>
        name -> attempt(spark, "bench", name) {
          val t0 = System.nanoTime()
          val rows = SparkEntry.queries(name)(spark, sfDir).count()
          ((System.nanoTime() - t0) / 1e9, rows)
        }
      }.toMap
    }
    val (passed, failed) = names.partition(n => runs.forall(_(n).isRight))
    Timings(
      passed.map { n =>
        val rs = runs.map(_(n).toOption.get)
        Run(n, rs.map(_._1), rs.last._2)
      },
      failed.map(n => n -> runs.flatMap(_(n).left.toOption).head))
  }

  private val FenceGroup = "graft-listener-fence"

  /** Whether a job-start event belongs to a [[drainListeners]] fence. */
  def isFence(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == FenceGroup)

  /** Returns once every listener event posted before the call has been
    * delivered. The listener bus is asynchronous; the fence is a
    * one-task job in its own job group. Listeners added with
    * `addSparkListener` share one queue that delivers events in posting
    * order, so when the fence job's end reaches the fence's own
    * listener, every earlier event (late task ends included) has
    * reached every listener. Clears the calling thread's job group. */
  def drainListeners(sc: SparkContext): Unit = {
    val delivered = new CountDownLatch(1)
    val fence = new SparkListener {
      private var job = -1 // read and written on the queue's one thread
      override def onJobStart(e: SparkListenerJobStart): Unit = if (isFence(e)) job = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (e.jobId == job) delivered.countDown()
    }
    sc.addSparkListener(fence)
    try {
      sc.setJobGroup(FenceGroup, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      if (!delivered.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener fence not delivered within 60 s")
    } finally sc.removeSparkListener(fence)
  }
}
