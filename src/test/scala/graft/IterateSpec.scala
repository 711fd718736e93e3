package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite
import graft.obs.Profile
import graft.ops.Graph

/** [[Iterate]]: every fixpoint operator runs one checkpoint action per
  * round and nothing else, fails loudly when it runs out of rounds,
  * and keeps its plan the same size however many rounds it ran. Also
  * the guard that keeps checkpoint calls in `src/main` inside it.
  * Self-contained: the graphs are planted in the spec.
  */
class IterateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** One fixpoint op on a small planted graph: `setup` checkpoints run
    * before round 1, `run(maxIters, report)` calls it with the op's
    * onConverged hook forwarding to `report`, and `maxIters = 1` is too
    * few rounds for the graph. */
  private case class Loop(op: String, setup: Int, reportsFailure: Boolean,
                          run: (Int, (Int, Boolean) => Unit) => DataFrame)

  private lazy val loops: Seq[Loop] = {
    val s = spark
    import s.implicits._
    val chain = (0L until 15L).map(i => (i, i + 1))
    val clique = for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)
    val tail = Seq((0L, 100L), (100L, 101L), (101L, 102L))
    val tri = Seq((200L, 201L), (201L, 202L), (200L, 202L))
    val path = (1L to 40L).sliding(2).map(p => (p(0), p(1))).toSeq
    Seq(
      Loop("starComponents", 1, reportsFailure = true, (n, report) =>
        Graph.starComponents((chain ++ tri).toDF("u", "v"), maxIters = n, onConverged = report)),
      Loop("kCore", 1, reportsFailure = true, (n, report) =>
        Graph.kCore((clique ++ tail ++ tri).toDF("u", "v"), k = 3, maxIters = n,
          onConverged = report)),
      Loop("maximalIndependentSet", 2, reportsFailure = true, (n, report) =>
        Graph.maximalIndependentSet((path ++ tri).toDF("src", "dst"), maxIters = n,
          onConverged = report)),
      // the one-argument hook reports converged runs only
      Loop("clusters", 2, reportsFailure = false, (n, report) =>
        Dedup.clusters(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a_id", "b_id"),
          (1L to 5L).toDF("doc_id"), "doc_id", maxIters = n,
          onConverged = r => report(r, true))))
  }

  test("each fixpoint op runs only its checkpoints: setup + one per round") {
    val profile = Profile.attach(spark)
    try loops.foreach { loop =>
      var reported = Option.empty[(Int, Boolean)]
      profile(loop.op)(loop.run(50, (r, c) => reported = Some((r, c))))
      val actions = profile.take(loop.op).actions
      val (rounds, converged) = reported.get
      assert(converged && rounds >= 2, s"${loop.op}: $reported")
      assert(actions.forall(_ == "localCheckpoint"),
        s"${loop.op}: every action must be a checkpoint, saw $actions")
      assert(actions.size == loop.setup + rounds,
        s"${loop.op}: ${loop.setup} setup + $rounds round checkpoints, saw $actions")
    } finally profile.close()
  }

  test("each fixpoint op fails loudly when it runs out of rounds, after reporting") {
    loops.foreach { loop =>
      var reported = Option.empty[(Int, Boolean)]
      val ex = intercept[IllegalArgumentException] {
        loop.run(1, (r, c) => reported = Some((r, c))).collect()
      }
      assert(ex.getMessage.contains(loop.op) && ex.getMessage.contains("did not converge"),
        ex.getMessage)
      assert(reported == (if (loop.reportsFailure) Some((1, false)) else None),
        s"${loop.op}: onConverged saw $reported")
    }
  }

  test("starComponents' plan is the same size after 2 rounds and after 8") {
    val s = spark
    import s.implicits._
    // both graphs are 101 nodes on 100 edges and end as one 100-edge
    // star. Broadcast is off: a checkpoint keeps the optimizer's size
    // estimate of the round it materialised, which compounds round by
    // round until it crosses the broadcast threshold, so with it on the
    // join strategy (not the plan's depth) follows the round count.
    def planOf(edges: Seq[(Long, Long)]): (Int, Int) = {
      var rounds = -1
      val df = Graph.starComponents(edges.toDF("u", "v"), onConverged = (r, _) => rounds = r)
      (rounds, df.queryExecution.explainString(FormattedMode).length)
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val (r2, broom) = planOf((1L until 100L).map(i => (0L, i)) :+ ((1L, 100L)))
      val (r8, path) = planOf((0L until 100L).map(i => (i, i + 1)))
      assert(r2 == 2 && r8 == 8, s"rounds $r2 and $r8")
      assert((broom - path).abs <= 16, s"formatted plan $broom vs $path bytes")
    } finally spark.conf.set(key, was)
  }

  /** Checkpoint calls that stay outside [[Iterate]], by file and
    * enclosing member, with the reason each stays. */
  private val allowed = Map(
    "ops/Sampling.scala:coverageGreedy" ->
      ("each greedy step's driver-side collect picks the next document; " +
        "the token table and covered set are checkpointed between picks, not in rounds"),
    "ops/Graph.scala:hyperBallProfile" ->
      ("the edge list and radius-0 registers are setup frames every round reads, " +
        "and Iterate.times does not checkpoint its init"))

  test("checkpoint calls in src/main live in Iterate or the allowlist") {
    SourceSites.assertAllowed("checkpoint calls",
      SourceSites("""localCheckpoint\(\)|\.checkpoint\(\)""".r, owner = "Iterate.scala"), allowed)
  }
}
