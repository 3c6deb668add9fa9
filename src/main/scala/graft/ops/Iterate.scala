package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Convergence-driven iterative refinement — the shared driver loop
  * behind [[Graph.hops]] (BFS frontier relaxation),
  * [[Graph.pagerankConverged]] (rank iteration) and [[Graph.kcore]]
  * (peeling), and the production form of any Pregel-shaped
  * computation: iterate a distributed step until a fixpoint, not for
  * a guessed round count.
  *
  * Contract: `step` maps the current state frame to the next one and
  * MUST emit a boolean `chg` column marking rows that changed this
  * round; the fixpoint is "no row changed". The loop owns the three
  * mechanics every such computation needs at scale:
  *   - each round is EAGERLY CHECKPOINTED (`df.checkpoint`) so lineage
  *     is cut per round — the uncheckpointed variant re-executes every
  *     earlier round inside each later one (O(rounds²) joins) and its
  *     plan deepens until the optimizer chokes;
  *   - the convergence check scans the just-written checkpoint files
  *     (one cheap job), never re-executing the round's join;
  *   - non-convergence within `maxIter` THROWS — a silent partial
  *     answer is wrong (split components, unconverged ranks), and the
  *     caller knows the domain bound (graph diameter, damping-factor
  *     contraction rate) to size `maxIter` from.
  *
  * `localCheckpoint` is deliberately NOT used — its blocks bypass the
  * CacheManager and measured as a cross-query storage leak (later
  * dedup queries inflated up to 6× under label propagation's rounds);
  * reliable checkpoint files live outside executor storage memory. */
object Iterate {

  /** Iterate `step` from `init` until no row has `chg`, at most
    * `maxIter` rounds; returns the converged frame without `chg`.
    *
    * Planning shape (r16): round 1 runs under AQE as before — AQE's
    * runtime coalescing measures the real round-frame size. Rounds 2+
    * run under [[staticRounds]]: AQE off, shuffle partitions pinned to
    * the AQE-coalesced width of the round-1 checkpoint. With AQE, every
    * exchange inside a round is materialized as its own stage JOB plus
    * a driver re-planning pass — for convergence loops over bounded
    * frames that driver constant dominates the data work (measured:
    * q_cluster_dbscan 114 jobs of 0.01–0.14 s). Static rounds collapse
    * each round to two jobs (checkpoint + convergence scan). The pinned
    * width is DERIVED from measured round-1 data, so at corpus scale
    * the loop keeps corpus-scale parallelism — this is not a local-mode
    * constant. Callers must keep per-round joins planner-safe without
    * stats (round frames are stat-less checkpoint scans): broadcast
    * hints on provably node-bounded sides, shuffle_hash otherwise (the
    * r15 AQE-off attempt regressed 5× precisely because unhinted
    * stat-less joins planned as per-round sort-merge). */
  def fixpoint(init: DataFrame, maxIter: Int, what: String)(
      step: DataFrame => DataFrame): DataFrame = {
    val s = init.sparkSession
    graft.Session.ensureCheckpointDir(s)
    var state = init
    var converged = false
    var i = 0
    def round(): Unit = {
      val next = step(state).checkpoint() // eager: materialize + cut lineage
      converged = next.filter(col("chg")).isEmpty // checkpoint-file scan only
      state = next.drop("chg")
      i += 1
    }
    if (!converged && i < maxIter) round() // round 1: AQE measures the frame
    if (!converged && i < maxIter) staticRounds(s, state) {
      while (!converged && i < maxIter) round()
    }
    if (!converged)
      throw new IllegalStateException(
        s"$what did not converge within maxIter=$maxIter rounds")
    state
  }

  /** Run `body` (the 2nd..nth rounds of a convergence loop) with AQE
    * off and shuffle partitions pinned to the measured width of the
    * just-checkpointed round frame — the loop-planning contract
    * documented on [[fixpoint]]. Restores both confs on exit; the
    * converged frame is a materialized checkpoint, so everything a
    * caller builds downstream plans under the session's normal confs. */
  def staticRounds[T](s: SparkSession, measured: DataFrame)(body: => T): T = {
    val aqePrev = s.conf.get("spark.sql.adaptive.enabled", "true")
    val spPrev = s.conf.get("spark.sql.shuffle.partitions", "200")
    val parts = math.max(1, measured.rdd.getNumPartitions)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body
    finally {
      s.conf.set("spark.sql.adaptive.enabled", aqePrev)
      s.conf.set("spark.sql.shuffle.partitions", spPrev)
    }
  }
}
