package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one loop for operators that materialise a frame per round.
  *
  * One action per round: `step`'s output is checkpointed eagerly and
  * the next round reads the checkpoint's `LogicalRDD`, so the plan does
  * not grow with the round count (the q171 lesson), and
  * [[untilStable]]'s convergence metrics are `observe()`d on that same
  * action instead of a second `count`/`isEmpty` scan. Under AQE one
  * action can still run several jobs.
  *
  * Checkpoints are `localCheckpoint()`: executor blocks, no DFS
  * round-trip, and a lost executor fails the run. A
  * `reliableCheckpointDir` makes every checkpoint of the loop a
  * reliable `checkpoint()` into that directory.
  */
object Iterate {
  type Metrics = Map[String, Any]

  /** Checkpoints `inputs` (frames every round reads and none changes)
    * and `init`, then runs rounds `step(state, round, inputs)` until
    * `stable(previous, current)` holds on their observed `metrics`.
    * `onConverged(rounds, converged)` is called first; then running out
    * of `maxIters` rounds fails with `IllegalArgumentException` naming
    * `op`, since a truncated fixpoint looks like a finished one.
    */
  def untilStable(op: String, init: DataFrame, maxIters: Int,
                  onConverged: (Int, Boolean) => Unit, metrics: Seq[Column],
                  inputs: Seq[DataFrame] = Nil,
                  reliableCheckpointDir: Option[String] = None)(
      step: (DataFrame, Int, Seq[DataFrame]) => DataFrame)(
      stable: (Metrics, Metrics) => Boolean): DataFrame = {
    reliableCheckpointDir.foreach(init.sparkSession.sparkContext.setCheckpointDir)
    val reliable = reliableCheckpointDir.isDefined
    def observed(df: DataFrame): (DataFrame, Metrics) = {
      val obs = Observation()
      val cp = checkpoint(df.observe(obs, metrics.head, metrics.tail: _*), reliable)
      (cp, obs.get)
    }
    val fixed = inputs.map(checkpoint(_, reliable))
    var (cur, seen) = observed(init)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIters) {
      rounds += 1
      val (next, m) = observed(step(cur, rounds, fixed))
      converged = stable(seen, m)
      cur = next
      seen = m
    }
    onConverged(rounds, converged)
    require(converged, s"$op did not converge within $maxIters rounds " +
      s"(last round's metrics: ${seen.toSeq.sortBy(_._1).mkString(", ")}); raise maxIters")
    cur
  }

  /** `init` (not checkpointed) and the `n` checkpointed rounds after it. */
  def times(n: Int, init: DataFrame)(step: (DataFrame, Int) => DataFrame): Seq[DataFrame] =
    (1 to n).scanLeft(init)((cur, t) => checkpoint(step(cur, t), reliable = false))

  private def checkpoint(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint() else df.localCheckpoint()
}
