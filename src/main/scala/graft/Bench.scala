package graft

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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(s"local[$cpus]", cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every base table and exercise codegen once
    Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).count() catch { case _: Throwable => () }
    try SparkEntry.queries("q1_agg")(spark, sfDir).count() catch { case _: Throwable => () }

    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    // rep 1 of every query runs before rep 2 of any (spaced reps):
    // contention spikes last seconds-to-minutes, so back-to-back reps
    // of one query would both sit inside the same spike
    // optional trailing args: bench only the named queries (per-op
    // perf iteration); no args = the full registered surface
    val ordered = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      if (args.isEmpty) all
      else {
        // fail loudly on a typo'd name: a silently-empty filter would
        // print total 0 and read as a perf win
        val unknown = args.filterNot(all.toSet)
        require(unknown.isEmpty,
          s"unknown queries: ${unknown.mkString(", ")}")
        all.filter(args.contains)
      }
    }
    val loadStart = loadAvg()
    // one rep of one query: its seconds, or the exception it threw
    // (StackOverflowError too: a deep plan must fail its query, not the
    // whole bench)
    def timeOnce(name: String): Either[Throwable, Double] = {
      val t0 = System.nanoTime()
      val r = try {
        SparkEntry.queries(name)(spark, sfDir).count()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e @ (NonFatal(_) | _: StackOverflowError) =>
        System.err.println(s"[bench] $name failed: $e")
        Left(e)
      }
      // intra-query caches (LSH signatures, shingle sets) must not
      // leak memory pressure into the next query's measurement
      spark.catalog.clearCache()
      r
    }
    val repTimes: Seq[Map[String, Either[Throwable, Double]]] = (1 to reps).map { _ =>
      ordered.map(name => name -> timeOnce(name)).toMap
    }
    // a query that failed in ANY rep is a failure: its other reps'
    // times are not a measurement of the query
    val (passed, failed) = ordered.partition(n => repTimes.forall(_(n).isRight))
    val byName = passed.map(n => n -> repTimes.map(_(n).toOption.get))
    val failures = failed.map(n => n -> repTimes.flatMap(_(n).left.toOption).head)
    val results = byName.map { case (name, ts) => name -> ts.min }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val allReps = byName.map { case (k, ts) => "\"" + k + "\":" + ts.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val fails = failures.map { case (k, e) => Verify.jsonStr(k) + ":" + Verify.jsonStr(e.toString) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val loadEnd = loadAvg()
    // max run-to-run spread ratio across queries (slowest rep / fastest
    // rep): > ~3 on an unchanged query is the contention signature
    val spread = byName.map { case (_, ts) =>
      if (ts.min > 0) ts.max / ts.min else 1.0
    }.foldLeft(1.0)(math.max)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fails,"reps":$allReps,"load":{"start":$loadStart,"end":$loadEnd,"max_spread":$spread},"sf":"$sfDir"}"""
    // Stdout line: totals only, at most 200 chars — the 294 query names
    // alone are 4.6 KB, more than a stdout capture window holds. The
    // per-query numbers, reps, load and failures go to the file below.
    val stdoutLine = "{\"metric\":\"total\",\"value\":" +
      "%.3f".formatLocal(java.util.Locale.ROOT, total) +
      s""","unit":"sec","queries":${ordered.size},"failed":${failures.size},"sf":"$sfDir"}"""
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
}
