package graft

/** Dev-loop micro-bench: time named registered queries in one warm
  * session, printing per-rep seconds. Bench.scala is the canonical
  * all-query round bench; this is the iterate-on-one-operator tool
  * (`runMain graft.TimeQ <sfDir> <reps> <query> [query ...]`).
  * Conf experiments go in as JVM `-Dspark.<key>=<value>` properties,
  * which SparkConf reads (except the keys [[Graft.session]] sets). */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(s"local[$cpus]", cpus, "graft-timeq")
    spark.sparkContext.setLogLevel("WARN")
    // warmup: one base-table scan + the cheapest query, so rep 1
    // doesn't pay session/codegen init
    try Tables.documents(spark, sfDir).count() catch { case _: Throwable => () }
    try SparkEntry.queries("q1_agg")(spark, sfDir).count() catch { case _: Throwable => () }
    spark.catalog.clearCache()
    names.foreach { name =>
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      println(f"[timeq] $name: min=${ts.min}%.3f reps=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
