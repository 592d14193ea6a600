package graft

/** Dev tool: time one registered query in isolation.
  *
  *   sbt "runMain graft.RunQuery <name> <sfDir> [reps]"
  *
  * Uses the same session config as [[Bench]] (incl. the warmup read of
  * the query's base tables via a first throwaway run), so numbers are
  * comparable to per-query Bench entries.
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(s"local[$cpus]", cpus, "graft-runquery")
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).count() // warmup
    spark.catalog.clearCache()
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[runquery] $name rep$i: $dt%.3f s ($n rows)")
    }
    spark.stop()
  }
}
