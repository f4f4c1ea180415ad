package graft.operators

import graft.{Checkpoints, Fixpoint, Graph}
import graft.Fixpoint.{Edges, Program, Schedule}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SALSA kernel family, K7-K12 of SURVEY.md §2.6.
  *
  * Two shapes exist in the reference:
  *  - "simplified" SALSA (non-iterative): hub score = out-degree / Σ
  *    out-degrees, authority = in-degree / Σ in-degrees
  *    (reference `src/base_salsa.py:37-45`), optionally with weighted
  *    degrees (`src/weighted_salsa.py:41-42`);
  *  - iterative "mutual update" SALSA: h(a) = Σ_{(a,b)} auth(b)/indeg(b),
  *    a(b) = Σ_{(a,b)} hub(a)/outdeg(a), authorities from the fresh hubs,
  *    L1 normalization each iteration, init 1/√N
  *    (reference `src/base_salsa_2.py:71-84`), with teleport / topic
  *    variants mirroring the HITS ones but with `(1-beta)/(2N)` mass
  *    (`src/random_teleport_salsa.py:74-80`,
  *    `src/topic_specific_salsa.py:79-96`).
  *
  * Degrees are always computed on the FULL edge set passed in, and the
  * per-edge division uses the degree of the score-contributing endpoint
  * (in-degree of dst for the hub update, out-degree of src for the
  * authority update) — exactly the reference's keyed-tuple layout
  * (`src/base_salsa_2.py:20-23`).
  */
object Salsa {

  final case class Result(hubs: DataFrame, auths: DataFrame)

  /** K7 simplified SALSA: degree mass, L1-normalized. Integer degree
    * counts divide as doubles, matching Python true division. Each
    * vector is checkpointed, and the checkpoint's job tallies its mass
    * ([[Normalize.divide]]). */
  def runSimplified(edges: DataFrame): Result = Result(
    l1(Degrees.out(edges)
      .select(col("id"), col("out_degree").cast("double").as("score"))),
    l1(Degrees.in(edges)
      .select(col("id"), col("in_degree").cast("double").as("score"))))

  /** K9 weighted simplified SALSA: Σ weight instead of counts. */
  def runWeightedSimplified(edges: DataFrame): Result = Result(
    l1(Degrees.outWeighted(edges)
      .select(col("id"), col("out_degree").as("score"))),
    l1(Degrees.inWeighted(edges)
      .select(col("id"), col("in_degree").as("score"))))

  private def l1(scores: DataFrame): DataFrame =
    Normalize.divide(Checkpoints.materialize(scores, Seq(Normalize.L1)))

  /** K8 iterative SALSA (rank-equivalent to K7; reference
    * `src/base_salsa_2.py:1-2`). */
  def run(g: Graph, numIter: Int = 8): Result =
    fixed(g, numIter)(_ => Hits.Identity)

  /** K10 random-teleport SALSA: `beta*s + (1-beta)/(2N)` applied to every
    * aggregated node, hubs first (reference `src/random_teleport_salsa.py:70-85`). */
  def runTeleport(g: Graph, beta: Double = 0.8, numIter: Int = 8): Result =
    fixed(g, numIter)(e => Hits.Teleport(beta, 2L * e.n))

  /** K11 topic-specific SALSA: init 0 for non-topic nodes and
    * 1/(2·N_topic) for topic nodes (reference
    * `src/topic_specific_salsa.py:23`), conditional `(1-beta)/(2·N_topic)`
    * teleport each update. */
  def runTopicSpecific(g: Graph, topic: String, beta: Double = 0.8,
      numIter: Int = 8): Result =
    fixed(g, numIter, Seq(Hits.labeled(topic)))(
      Hits.topicTeleport(topic, beta, 2))

  /** K12 query-dependent SALSA: simplified SALSA on the neighborhood
    * subgraph (reference `src/query_dependent_salsa.py:36-55`). The
    * subgraph's semi/anti-join edge derivation is persisted so the two
    * degree aggregations (out + in) execute it once, not twice; both
    * score vectors are checkpointed before the cache drops. */
  def runQueryDependent(g: Graph, topic: String): Result = {
    val e = Subgraph.queryDependent(g, topic).edges.persist()
    try runSimplified(e)
    finally e.unpersist(false)
  }

  /** Fixed-point extension mirroring [[Hits.runConverged]] (the
    * reference always runs a fixed 8 iterations — `src/base_salsa_2
    * .py:71-84`): iterate the K8 mutual update until the max absolute
    * change of the L1-normalized authority vector drops below `tol`,
    * checked on the `firstCheck/checkEvery` schedule (see
    * [[graft.Fixpoint]]). The returned [[graft.Fixpoint]] carries an
    * explicit `converged` flag — false = capped at `maxIter` without
    * a sub-`tol` delta. */
  def runConverged(g: Graph, tol: Double = 1e-9,
      maxIter: Int = 50, checkEvery: Int = 3, firstCheck: Int = 3)
      : Fixpoint[Result] =
    Fixpoint.run(g, Cols,
      Schedule(maxIter, Some(tol), checkEvery, firstCheck))(
      program(_ => Hits.Identity))

  /** K8 over a [[graft.GraphIO.writeBucketedGraph]] layout — the SALSA
    * twin of [[Hits.runBucketed]]: the degree aggregations, the
    * degree-attach joins AND the per-iteration score joins all plan with
    * ZERO edge-side Exchange. Scores are identical to [[run]]. */
  def runBucketed(spark: SparkSession, prefix: String,
      numIter: Int = 8): Result =
    Fixpoint.runBucketed(spark, prefix, Cols, Schedule(numIter))(
      program(_ => Hits.Identity)).result

  // -----------------------------------------------------------------

  private val Cols = Seq(col("src"), col("dst"))

  /** `post` reuses the HITS transforms; for SALSA the teleport `n` slot
    * carries 2N / 2·N_topic (the reference's denominators). */
  private def fixed(g: Graph, numIter: Int, counted: Seq[Column] = Nil)(
      post: Edges => Hits.Post): Result =
    Fixpoint.run(g, Cols, Schedule(numIter), counted)(program(post)).result

  /** The mutual update over degree-annotated edge caches. Each degree
    * aggregation groups by its copy's clustering key and each
    * degree-attach join matches it, so neither adds an edge Exchange;
    * SHUFFLE_HASH hints on the (small) degree sides keep the joins
    * hash-based without touching session-wide planner flags. */
  private def program(post: Edges => Hits.Post)(e: Edges): Program[Result] = {
    // A derived edge set's upstream derivation runs exactly ONCE, into
    // the cached by-dst copy the by-src copy derives from.
    val eBase = e.cached(e.byDst)
    val dIn = Degrees.in(eBase).hint("SHUFFLE_HASH")
    val eIn = e.cached(eBase.join(dIn, eBase("dst") === dIn("id"))
      .select(col("src"), col("dst"), col("in_degree")))
    val dOut = Degrees.out(e.bySrc).hint("SHUFFLE_HASH")
    val eOut = e.cached(e.bySrc.join(dOut, col("src") === dOut("id"))
      .select(col("src"), col("dst"), col("out_degree")))
    val p = post(e)
    val init = p match {
      case Hits.TopicTeleport(_, twoNTopic, flags) => flags.select(col("id"),
        when(col("flag") === 0, lit(0.0))
          .otherwise(Fixpoint.constant(1.0 / twoNTopic)).as("score"))
      case _ => Hits.uniform(e)
    }
    Hits.mutual(init, eIn, col("score") / col("in_degree"),
      eOut, col("score") / col("out_degree"), p, Normalize.L1, Result)
  }
}
