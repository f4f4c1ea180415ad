package graft.operators

import graft.Checkpoints
import graft.Checkpoints.Tallied
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** k-core decomposition over the undirected simple projection:
  * the maximal induced subgraph in which every node has degree ≥ k,
  * found by synchronous peeling (drop all nodes of current degree < k,
  * recompute, repeat to the fixed point).
  *
  * Fourth of the structural family ([[Triangles]], [[LinkPredict]],
  * [[LabelProp]]): core membership is the standard density tier for
  * graph sampling ("train on the 3-core"), spam-tail removal, and as a
  * cheap importance floor before the expensive kernels run.
  *
  * Parity shape: peeling is MONOTONE — once no node is below the
  * threshold, further rounds are identities. A SQL oracle therefore
  * unrolls a GENEROUS fixed round count and equals the Spark fixed
  * point exactly whenever convergence happens within the unroll; the
  * operator enforces that contract by failing loudly if `maxRounds` is
  * reached without convergence (a silent partial peel would
  * hash-mismatch the oracle in a way that looks like an engine bug).
  *
  * Scale shape per round — DEGREE-DECREMENT since r20 (guide §2.4,
  * "remove shuffles outright"; VERDICT r19 next #4): instead of
  * re-aggregating all degrees from the surviving edge list every round
  * (a full 2·|e|-row shuffle) and semi-joining the edge list against
  * the |V|-sized KEEP set (two more |e|-row exchanges — the keep set's
  * post-aggregation size estimate is too coarse for the planner to
  * broadcast it), each round works from the DROPPED node set, which
  * the peel's own counter knows exactly: edges incident to a dropped
  * node leave via anti-joins, the surviving endpoint of each removed
  * edge gets its degree DECREMENTED by a count over removed edges
  * only, and the drop side carries an explicit broadcast hint whenever
  * its measured cardinality fits the session's broadcast threshold —
  * making every post-round-1 edge pass map-only. Round-boundary
  * invariant (KCoreSpec pins it against a from-first-principles peel):
  * `deg == Triangles.degrees(e)` exactly — same node set, same counts.
  * Convergence is `|drop| == 0`, counted by the job that checkpoints
  * the |V|-sized degree frame (a tally, no job of its own). The edge
  * list shrinks monotonically and is checkpointed per round on
  * [[graft.Fixpoint.rounds]]; the weighted peel is the same peel over
  * other tracked degree columns ([[Tracked]]).
  */
object KCore {

  /** Nodes of the k-core with their within-core degree:
    * `(id, core_degree)`, empty when the k-core is empty. */
  def run(edges: DataFrame, k: Int, maxRounds: Int = 24): DataFrame =
    runOn(Triangles.undirected(edges), k, maxRounds)

  /** [[run]] over an already-built undirected projection (the
    * persisted [[StructuralIndex]] or any `(a, b)` simple edge set —
    * the peel materializes its own working copy, so the input may be
    * a lazy plan). Bit-equal to the from-scratch path; the
    * `*_indexed` gate shares its oracle verbatim. */
  def runOn(und: DataFrame, k: Int, maxRounds: Int = 24): DataFrame = {
    val t = byDegree(k)
    val e0 = Checkpoints.materialize(und.select(col("a"), col("b")))
    peel(e0, Triangles.degrees(e0), t, maxRounds)
  }

  /** The peel over a STABLE projection whose degrees are ALREADY
    * materialized — the persisted [[StructuralIndex]] fast path.
    * Round 0's degree aggregate over the full edge list is the peel's
    * single most expensive stage and is exactly what the index stores
    * (`deg` MUST be [[Triangles.degrees]] of `und` — the contract the
    * shared-oracle gates prove), so it is read, not recomputed. `und`
    * must be cheap to re-scan (a table/parquet scan): round 0 reads it
    * per anti/semi pass instead of copying it through a checkpoint
    * first. Later rounds shrink and are checkpointed exactly as
    * [[runOn]]; results are bit-equal. */
  def runPreDegreed(und: DataFrame, deg: DataFrame, k: Int,
      maxRounds: Int = 24): DataFrame =
    peel(und.select(col("a"), col("b")),
      deg.select(col("id"), col("deg")), byDegree(k), maxRounds)

  /** Broadcast the drop side when its measured cardinality fits the
    * session broadcast threshold (guide §3.1: hint when you KNOW a
    * side is small — the planner's own estimate for these filtered
    * frames is too coarse to trust). ~32 bytes/row of UnsafeRow for a
    * short-string id; at 100 TB an early round's drop set exceeds the
    * threshold and the join falls back to the shuffled plan, which is
    * exactly the pre-r20 cost. */
  private def maybeBroadcast(drop: DataFrame, nDrop: Long): DataFrame = {
    // -1 disables auto-broadcast: honor it.
    val threshold =
      drop.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold > 0 && nDrop * 32 <= threshold) broadcast(drop) else drop
  }

  /** What a peel tracks per node. `drops` picks the nodes to drop; `cols`
    * are the tracked columns, each with the aggregate a survivor loses
    * over its removed edges — the last one counts the node's remaining
    * edges, and a node leaves the frame when it reaches 0; `result`
    * builds the output from the fixed point's edges. */
  private final case class Tracked(what: String, drops: Column,
      cols: Seq[(String, Column)], result: DataFrame => DataFrame)

  /** Peel by edge count: the tracked frame is `(id, deg)`. The final
    * within-core degrees ARE `deg` (the invariant), but they are
    * recomputed from the surviving edges so the OUTPUT never depends on
    * the decrement bookkeeping. */
  private def byDegree(k: Int): Tracked = {
    require(k >= 1, s"need k >= 1, got $k")
    Tracked("k-core peel", col("deg") < k, Seq("deg" -> count(lit(1))),
      e => Triangles.degrees(e)
        .select(col("id"), col("deg").as("core_degree")))
  }

  /** A generation: surviving edges, their tracked degree frame, and how
    * many of its nodes the next round drops (tallied by the degree
    * frame's checkpoint job). */
  private final case class Peel(e: DataFrame, deg: DataFrame, nDrop: Long)

  private def peel(e0: DataFrame, deg0: DataFrame, t: Tracked,
      maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"need maxRounds >= 1, got $maxRounds")
    // The edge columns past (a, b) — the weight — ride along unchanged.
    val weights = e0.columns.drop(2).map(col).toSeq
    val dropCount = Seq(count(when(t.drops, lit(1))))
    def peeled(e: DataFrame, deg: Tallied) =
      Peel(e, deg.df, deg.tally.getLong(0))
    graft.Fixpoint.rounds[Peel](e0, maxRounds, t.what)(
        p => Seq(p.e, p.deg)) { r =>
      // Materialized once: the drop filter reads `deg` several times a
      // round, and for the from-scratch path deg0 is a full-edge-list
      // aggregate that must not re-run per reference. For the indexed
      // path this copies the stored |V|-row table — one small job that
      // buys every round's reads.
      peeled(r.input, r.materialize(r.on(deg0), dropCount))
    } { (r, p) =>
      val e = p.e
      val nDrop = p.nDrop
      val drop = p.deg.where(t.drops).select(col("id"))
      // Fixed point: every surviving node clears the threshold.
      if (nDrop == 0L) Left(t.result(e))
      else {
        val da = maybeBroadcast(drop.withColumnRenamed("id", "a"), nDrop)
        val db = maybeBroadcast(drop.withColumnRenamed("id", "b"), nDrop)
        // Surviving edges: neither endpoint dropped.
        val next = r.materialize(
          e.join(da, Seq("a"), "left_anti")
            .join(db, Seq("b"), "left_anti")
            .select(e.columns.map(col).toSeq: _*))
        // Decrements: each removed edge with EXACTLY ONE dropped
        // endpoint costs its surviving endpoint that edge (an edge with
        // both endpoints dropped decrements nobody who remains).
        val aggs = t.cols.map { case (c, agg) => agg.as(s"d_$c") }
        val dec = e.join(da, Seq("a"), "left_semi")
            .join(db, Seq("b"), "left_anti")
            .select(col("b").as("id") +: weights: _*)
          .unionAll(
            e.join(db, Seq("b"), "left_semi")
              .join(da, Seq("a"), "left_anti")
              .select(col("a").as("id") +: weights: _*))
          .groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
        // deg - removed incident edges, for survivors that still have
        // an edge — exactly the degrees of `next` (the round invariant).
        val nextDeg = r.materialize(
          p.deg.join(maybeBroadcast(drop, nDrop), Seq("id"), "left_anti")
            .join(dec, Seq("id"), "left")
            .select(col("id") +: t.cols.map { case (c, _) =>
              (col(c) - coalesce(col(s"d_$c"), lit(0L))).as(c) }: _*)
            .where(col(t.cols.last._1) > 0), dropCount)
        Right(peeled(next, nextDeg))
      }
    }._1
  }

  /** WEIGHTED k-core: peel by weighted degree (strength = Σ incident
    * edge weights) instead of edge count — the "train on the
    * high-engagement core" variant, composable with the weighted
    * kernels that consume the same edge weights. A node survives while
    * its within-core strength ≥ `minStrength`; returns
    * `(id, core_strength)` (strength rounded to 6 decimals from the
    * exact micro-unit sum — see [[Triangles.undirectedWeighted]]).
    * Same monotone-peel parity contract as [[run]] and the same peel,
    * tracking micro-unit strength AND remaining-edge count
    * ([[byStrength]]), both decremented from removed edges only. */
  def runWeighted(edges: DataFrame, minStrength: Double,
      maxRounds: Int = 24): DataFrame =
    runWeightedOn(Triangles.undirectedWeighted(edges), minStrength,
      maxRounds)

  /** [[runWeighted]] over an already-built weighted projection
    * `(a, b, wt)` (micro-unit weights). */
  def runWeightedOn(undW: DataFrame, minStrength: Double,
      maxRounds: Int = 24): DataFrame = {
    val t = byStrength(minStrength)
    val e0 = Checkpoints.materialize(
      undW.select(col("a"), col("b"), col("wt")))
    // One aggregate computes BOTH round-0 columns (strength + count);
    // wd is identical to Triangles.weightedDegrees(e0).
    val wdeg0 = e0.select(col("a").as("id"), col("wt"))
      .unionAll(e0.select(col("b").as("id"), col("wt")))
      .groupBy(col("id"))
      .agg(sum(col("wt")).as("wd"), count(lit(1)).as("cnt"))
    peel(e0, wdeg0, t, maxRounds)
  }

  /** The WEIGHTED peel over a stable projection whose strengths are
    * ALREADY materialized — [[runPreDegreed]]'s twin on the strength
    * axis (`wdeg` MUST be [[Triangles.weightedDegrees]] of `undW`
    * zipped with its edge counts — the persisted [[StructuralIndex]]
    * stores both aggregates in one degree table, so the indexed gate
    * reads `(id, wd, deg)` in one scan). Same round-0 shape: the
    * stored aggregates replace the full-edge-list pass. Bit-equal to
    * [[runWeightedOn]]. */
  def runWeightedPreDegreed(undW: DataFrame, wdeg: DataFrame,
      minStrength: Double, maxRounds: Int = 24): DataFrame =
    peel(undW.select(col("a"), col("b"), col("wt")),
      wdeg.select(col("id"), col("wd"), col("cnt")), byStrength(minStrength),
      maxRounds)

  /** Peel by strength: the tracked frame is `(id, wd, cnt)`. Strengths
    * alone cannot tell "lost every edge" from "only zero-weight edges
    * remain" (l_discount-weighted edges genuinely carry wt = 0), so the
    * remaining-edge count rides along and decides when a survivor
    * leaves the frame, keeping the round invariant exact on both
    * columns. */
  private def byStrength(minStrength: Double): Tracked = {
    require(minStrength > 0, s"need minStrength > 0, got $minStrength")
    Tracked("weighted k-core peel", col("wd") < math.round(minStrength * 1e6),
      Seq("wd" -> sum(col("wt")), "cnt" -> count(lit(1))),
      e => Triangles.weightedDegrees(e).select(col("id"),
        round(col("wd").cast("double") / lit(1e6), 6).as("core_strength")))
  }
}
