package graft

/** Plan audit: print the formatted physical plan of registered queries
  * (all, or the names passed as args after the sfDir). Used to check
  * the 100 TB posture: filters pushed to parquet (PushedFilters),
  * pruned ReadSchema, broadcast joins on dims, WholeStageCodegen spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq else OpRegistry.ops.map(_.name)
    val spark = Graft.session("local[4]", 4, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val qs = OpRegistry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try qs(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
