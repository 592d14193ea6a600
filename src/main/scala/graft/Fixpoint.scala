package graft

import org.apache.spark.sql.DataFrame

/** The one iterative-fixpoint loop (Pregelix's shape: an iterative graph
  * program as joins and group-bys over relations, run by one loop).
  * Every round — the seed first — is a lazy `localCheckpoint`, so its
  * SQL plan is cut and its one count both materializes it and tests it
  * for emptiness: one job per round beyond the shuffle stages its plan
  * needs, and no eager checkpoint job. `step(all, delta)` gets every
  * non-empty round so far and the latest round, and returns the next
  * round. `all` is itself a lazy checkpoint of the rounds' union: it
  * runs no job, is stored when the next round first reads it, and keeps
  * every step's plan one leaf wide however many rounds ran. The loop
  * stops on an empty round, after `maxRounds` step calls, or once `all`
  * holds more than `maxRows` rows, and returns `all`. An empty seed is
  * returned after its count, with no step. */
object Fixpoint {
  def iterate(seed: DataFrame, maxRounds: Int, maxRows: Long)(
      step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    var delta = seed.localCheckpoint(false)
    var rows = count(delta)
    var all = delta
    var rounds = 0
    var grew = rows > 0
    while (grew && rounds < maxRounds && rows <= maxRows) {
      delta = step(all, delta).localCheckpoint(false)
      val n = count(delta)
      rounds += 1
      grew = n > 0
      if (grew) { all = all.union(delta).localCheckpoint(false); rows += n }
    }
    all
  }

  /** Rows of a checkpointed frame, computing and storing them: one job
    * over its partitions (`Dataset.count` would add an aggregate shuffle). */
  private def count(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
