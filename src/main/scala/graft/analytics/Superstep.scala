package graft.analytics

import org.apache.spark.sql.DataFrame
import graft.Materialize.checkpoint

/** The superstep kernel of graft's iterative graph algorithms: every
  * ported vertex program is a `step` — one join + group-by dataflow over
  * the previous round's state — run under ONE checkpoint policy and ONE
  * convergence loop (the Pregelix shape, PAPERS.md). The algorithms
  * supply only their round body and, for fixpoints, their probe; the
  * cadence, the checkpoint, the round bookkeeping and the
  * non-convergence failure live here.
  *
  *   - [[rounds]] runs a fixed number of rounds (PageRank, PPR, LPA, the
  *     random-walk hop chain, and with `every = 1` the Lloyd loops of
  *     k-means centroids and residual PQ codebooks), materializing every
  *     `every`-th round and the last.
  *   - [[fixpoint]] runs until a round changes nothing (SSSP, weighted
  *     SSSP, k-core, k-truss, connected components). Each round is the
  *     step, a LAZY checkpoint, and the probe — the round's one Spark
  *     action, which also materializes the checkpoint.
  *
  * Every per-round checkpoint is [[graft.Materialize.checkpoint]], whose
  * capped size estimate keeps a deep loop's plan statistics from
  * compounding round over round (SCALE.md, "localCheckpoint stats
  * explosion").
  */
object Superstep {

  /** `n` rounds of `step(state, round)`, rounds numbered 1..n, starting
    * from `init` as given. Every `every`-th round and the last end in an
    * eager checkpoint; the rounds between chain lazily, so
    * plan depth stays bounded by `every`. `barrier(settled, round)` sees
    * each materialized round and returns the state the next round reads
    * (the walks split finished walks out there). */
  def rounds(init: DataFrame, n: Int, every: Int,
             barrier: (DataFrame, Int) => DataFrame = (df, _) => df)
            (step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to n).foldLeft(init) { (cur, i) =>
      val next = step(cur, i)
      if (i % every == 0 || i == n) barrier(checkpoint(next), i) else next
    }

  /** Rounds of `step(state, round)` from `init` (eagerly materialized
    * once) until `probe` reports that the round's state changed nothing.
    * Each round's output is lazily checkpointed and `probe` materializes
    * it: one action that reads every row (a count or global aggregate —
    * a bare `limit`/`isEmpty` would leave partitions unread and a second
    * job to fill them). Fails naming `what` when `maxIters` rounds pass
    * without convergence. */
  def fixpoint(init: DataFrame, maxIters: Int, what: String)
              (step: (DataFrame, Int) => DataFrame)
              (probe: DataFrame => Boolean): DataFrame = {
    var cur = checkpoint(init)
    var converged = false
    var round = 0
    while (!converged && round < maxIters) {
      round += 1
      cur = checkpoint(step(cur, round), eager = false)
      converged = probe(cur)
    }
    require(converged, s"$what did not converge in $maxIters rounds")
    cur
  }

  /** A [[fixpoint]] probe for monotone iterates: the round converged when
    * `fingerprint` (e.g. row count and value sum) equals the previous
    * round's. One fresh probe per fixpoint run — it remembers the last
    * fingerprint. */
  def unchanged[A](fingerprint: DataFrame => A): DataFrame => Boolean = {
    var last: Option[A] = None
    df => {
      val now = Some(fingerprint(df))
      val same = now == last
      last = now
      same
    }
  }
}
