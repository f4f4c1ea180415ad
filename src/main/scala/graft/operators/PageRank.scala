package graft.operators

import graft.{Fixpoint, Graph}
import graft.Fixpoint.{Program, Schedule}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank — a kernel-family extension (the reference covers HITS and
  * SALSA; PageRank is the third member of the classical link-analysis
  * trio and shares their execution shape, so a reference user gets it
  * for free from the same engine):
  *
  *   p'(v) = (1-d)/N + d * Σ_{(u,v)∈E} p(u)/outdeg(u)
  *
  * Dangling-node mass is NOT redistributed — the standard simplified
  * formulation; the DuckDB oracle implements the identical recurrence,
  * so the simplification is cross-engine consistent.
  *
  * Runs on the shared kernel loop [[graft.Fixpoint]]: the edge table
  * (the 100 TB side) is degree-annotated and hashed on `src` exactly
  * once; each iteration shuffles only the |V|-sized score vector (the
  * aggregation output is hash-partitioned on id, which co-partitions
  * both the node left-join and the next iteration's probe side).
  */
object PageRank {

  def run(g: Graph, damping: Double = 0.85, numIter: Int = 8): DataFrame =
    iterate(g, damping, Schedule(numIter), None).result

  /** PERSONALIZED PageRank — teleport mass goes to a topic seed set
    * instead of uniformly to every node (the PageRank analogue of
    * topic-specific HITS, completing the query-dependent story across
    * the kernel trio):
    *
    *   p'(v) = (1-d)·s(v) + d · Σ_{(u,v)∈E} p(u)/outdeg(u)
    *
    * with `s` uniform over the nodes labeled `topic` and zero
    * elsewhere; `p₀ = s`. Same simplified no-dangling-redistribution
    * formulation, same execution shape as [[run]]: the teleport vector
    * rides the loop's node checkpoint. Kept distinct from the uniform
    * teleport rather than expressing it through this path:
    * `(1-d)·(1/n)` and `(1-d)/n` round differently in IEEE doubles,
    * and the uniform gate's oracle replays the latter. */
  def runPersonalized(g: Graph, topic: String, damping: Double = 0.85,
      numIter: Int = 8): DataFrame =
    iterate(g, damping, Schedule(numIter), Some(topic)).result

  /** Fixed-point extension completing the convergence family
    * ([[Hits.runConverged]], [[Salsa.runConverged]]): iterate the
    * recurrence until the max absolute score change drops below `tol`,
    * checked on the `firstCheck/checkEvery` schedule (see
    * [[graft.Fixpoint]]). PageRank's geometric contraction is governed
    * by the damping factor (‖Δ_k‖ ≲ d^k), so expect
    * ~`ln(tol/Δ₀)/ln(d)` iterations — markedly more than HITS/SALSA's
    * spectral-gap-driven loops; pick `tol` with that cost in mind.
    * Callers pinning a determinized N (the oracle gates) align
    * `firstCheck` with the measured fixed point. The returned
    * [[graft.Fixpoint]] carries an explicit `converged` flag — false =
    * capped at `maxIter` without a sub-`tol` delta. */
  def runConverged(g: Graph, damping: Double = 0.85, tol: Double = 1e-7,
      maxIter: Int = 80, checkEvery: Int = 3, firstCheck: Int = 3)
      : Fixpoint[DataFrame] =
    iterate(g, damping, Schedule(maxIter, Some(tol), checkEvery, firstCheck),
      None)

  /** `topic`: teleport to the nodes labeled `topic`, or None for the
    * uniform `(1-d)/N`. The node universe (+ teleport column) is the
    * loop's node checkpoint, hash-partitioned on id, so the left join
    * that gives rankless nodes their floor is shuffle-free on both
    * sides; N and nSeeds are its tallies. */
  private def iterate(g: Graph, damping: Double, s: Schedule,
      topic: Option[String]): Fixpoint[DataFrame] =
    Fixpoint.run(g, Seq(col("src"), col("dst")), s,
        topic.map(Hits.labeled).toSeq) { e =>
      // Per-join SHUFFLE_HASH hints (not a session-wide planner flag) —
      // the degree/score sides are the |V|-sized build sides.
      val dOut = Degrees.out(e.bySrc).hint("SHUFFLE_HASH")
      val eOut = e.cached(e.bySrc.join(dOut, col("src") === dOut("id"))
        .select(col("src"), col("dst"), col("out_degree")))
      val (tele, init, floor) = topic match {
        case None => (e.nodes.select(col("id")),
          e.nodes.select(col("id"), Fixpoint.constant(1.0 / e.n).as("score")),
          Fixpoint.constant((1.0 - damping) / e.n))
        case Some(t) =>
          val nSeeds = e.counts.head
          require(nSeeds > 0, s"no nodes labeled '$t' to seed teleport")
          val tele = e.nodes.select(col("id"), when(Hits.labeled(t),
            Fixpoint.constant(1.0 / nSeeds)).otherwise(lit(0.0)).as("t"))
          (tele, tele.select(col("id"), col("t").as("score")),
            lit(1.0 - damping) * col("t"))
      }
      Program(init, None, v => tele
        .join(Fixpoint.gather(eOut, "src", col("score") / col("out_degree"))(v)
          .hint("SHUFFLE_HASH"), Seq("id"), "left")
        .select(col("id"), (floor +
          lit(damping) * coalesce(col("score"), lit(0.0))).as("score")),
        None, (_, p) => p)
    }
}
