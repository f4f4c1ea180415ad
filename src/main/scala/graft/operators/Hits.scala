package graft.operators

import graft.{Fixpoint, Graph}
import graft.Fixpoint.{Edges, Program, Schedule}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HITS (Kleinberg hubs & authorities) kernel family, K1-K6 of SURVEY.md §2.6.
  *
  * Parity-critical semantics preserved from the reference:
  *  - Gauss-Seidel ordering: hubs are updated from the *old* authorities,
  *    authorities from the *new, not-yet-normalized* hubs
  *    (reference `src/base_hits.py:57-60`).
  *  - Teleport / topic transforms apply to the aggregated vector *before*
  *    the opposite update consumes it and before normalization
  *    (reference `src/random_teleport_hits.py:66-77`), and only to nodes
  *    present in the aggregation result — dropout semantics, SURVEY.md §2
  *    notes B/C: zero-out-degree nodes leave the hub vector after
  *    iteration 1; no outer join resurrects them.
  *  - L2 normalization of both vectors at iteration end
  *    (reference `src/base_hits.py:63-64`).
  *
  * Execution model (the Spark-first redesign, nothing like the reference's
  * RDD loop): score vectors are DataFrames `(id, score)`; one iteration is
  * two equi-joins + two partial/final hash aggregates, all whole-stage
  * codegen'd, driven by the shared kernel loop [[graft.Fixpoint]] (edge
  * caches, loop width, per-iteration checkpoints, schedule). This file
  * holds only what is HITS's own: the `(src, dst, w)` projection, the
  * contribution, L2, the [[Post]] transforms — and [[mutual]], the
  * hub/authority update SALSA shares.
  */
object Hits {

  /** Post-aggregation score transform applied inside each iteration. */
  sealed trait Post
  case object Identity extends Post
  /** `score <- beta*score + (1-beta)/n` (reference `src/random_teleport_hits.py:69`). */
  final case class Teleport(beta: Double, n: Long) extends Post
  /** Conditional teleport: topic nodes get the `(1-beta)/nTopic` mass
    * (reference `src/topic_specific_hits.py:77`). `flags` = (id, flag). */
  final case class TopicTeleport(beta: Double, nTopic: Long, flags: DataFrame)
      extends Post

  final case class Result(hubs: DataFrame, auths: DataFrame)

  /** K1 base HITS. */
  def run(g: Graph, numIter: Int = 8): Result =
    fixed(g, numIter)(_ => Identity)

  /** K2 weighted HITS: contribution = weight * score
    * (reference `src/weighted_hits.py:53-56`). */
  def runWeighted(g: Graph, numIter: Int = 8): Result =
    fixed(g, numIter, weighted = true)(_ => Identity)

  /** K3 random-teleport HITS (reference `src/random_teleport_hits.py`). */
  def runTeleport(g: Graph, beta: Double = 0.8, numIter: Int = 8): Result =
    fixed(g, numIter)(e => Teleport(beta, e.n))

  /** K4 topic-specific HITS: uniform init over all nodes, teleport mass
    * only to topic nodes (reference `src/topic_specific_hits.py:54-87`). */
  def runTopicSpecific(g: Graph, topic: String, beta: Double = 0.8,
      numIter: Int = 8): Result =
    fixed(g, numIter, counted = Seq(labeled(topic)))(
      topicTeleport(topic, beta, 1))

  /** Fixed-point extension (not in the reference, which always runs a
    * fixed 8 iterations): stop when the max absolute change of the
    * normalized authority vector drops below `tol`, checked on the
    * `firstCheck/checkEvery` schedule (see [[graft.Fixpoint]]). The
    * returned [[graft.Fixpoint]] carries an explicit `converged` flag —
    * false = capped at `maxIter` without a sub-`tol` delta. */
  def runConverged(g: Graph, tol: Double = 1e-9,
      maxIter: Int = 50, checkEvery: Int = 3, firstCheck: Int = 3)
      : Fixpoint[Result] =
    Fixpoint.run(g, Cols,
      Schedule(maxIter, Some(tol), checkEvery, firstCheck))(
      program(weighted = false, _ => Identity))

  /** K5 topic-exclusive HITS: base kernel on the induced topic subgraph
    * (intent semantics by default — SURVEY.md §2 note E;
    * `selfLoopsOnly = true` replays the reference's literal
    * self-loops-only edge filter, see [[Subgraph.topicExclusive]]). */
  def runTopicExclusive(g: Graph, topic: String, numIter: Int = 8,
      selfLoopsOnly: Boolean = false): Result =
    run(Subgraph.topicExclusive(g, topic, selfLoopsOnly), numIter)

  /** K6 query-dependent HITS: base kernel on the neighborhood graph. */
  def runQueryDependent(g: Graph, topic: String, numIter: Int = 8): Result =
    run(Subgraph.queryDependent(g, topic), numIter)

  /** K1 over a [[graft.GraphIO.writeBucketedGraph]] layout: ZERO
    * edge-side Exchange for the whole run, not even the once-per-run
    * shuffle a derived edge set pays — worth it whenever a 100 TB graph
    * is scored more than once (see [[graft.Fixpoint.runBucketed]]). */
  def runBucketed(spark: SparkSession, prefix: String,
      numIter: Int = 8): Result =
    Fixpoint.runBucketed(spark, prefix, Cols, Schedule(numIter))(
      program(weighted = false, _ => Identity)).result

  // -----------------------------------------------------------------

  private val Cols =
    Seq(col("src"), col("dst"), col("weight").cast("double").as("w"))

  private def fixed(g: Graph, numIter: Int, weighted: Boolean = false,
      counted: Seq[Column] = Nil)(post: Edges => Post): Result =
    Fixpoint.run(g, Cols, Schedule(numIter), counted)(
      program(weighted, post)).result

  private def program(weighted: Boolean, post: Edges => Post)(e: Edges)
      : Program[Result] = {
    val contribution = if (weighted) col("w") * col("score") else col("score")
    // Both copies are re-probed every iteration: cache them (the parquet
    // scan of a bucketed layout then also stays out of the loop).
    mutual(uniform(e), e.cached(e.byDst), contribution, e.cached(e.bySrc),
      contribution, post(e), Normalize.L2, Result)
  }

  /** Uniform `1/√N` init over the loop's node checkpoint, hash-partitioned
    * on `id`, so iteration 1 shuffles no init (and a K5/K6 subgraph's
    * node plan runs once). */
  private[operators] def uniform(e: Edges): DataFrame =
    e.nodes.select(col("id"),
      Fixpoint.constant(1.0 / math.sqrt(e.n.toDouble)).as("score"))

  /** The nodes labeled `topic`, which the topic kernels' runs count. */
  private[operators] def labeled(topic: String): Column =
    col("label") === topic

  /** Topic teleport with the flags projected from the loop's node
    * checkpoint (hash-partitioned on id), so the per-iteration flag join
    * is shuffle-free on both sides. N_topic is the run's count of
    * [[labeled]], times `scale` (SALSA's denominator is 2·N_topic). */
  private[operators] def topicTeleport(topic: String, beta: Double,
      scale: Long)(e: Edges): TopicTeleport =
    TopicTeleport(beta, scale * e.counts.head, e.nodes.select(col("id"),
      when(labeled(topic), 1).otherwise(0).as("flag")))

  /** The HITS/SALSA mutual update as a loop program. Gauss-Seidel
    * ordering (reference `src/base_hits.py:57-60`): hubs from the
    * carried authorities over the dst-clustered side, authorities from
    * the NEW, not-yet-normalized hubs over the src-clustered side;
    * `post` applies to each aggregate before it is consumed or
    * normalized, and only to aggregated nodes (dropout semantics). */
  private[operators] def mutual[A](init: DataFrame, byDst: DataFrame,
      toHub: Column, bySrc: DataFrame, toAuth: Column, post: Post,
      norm: Column, result: (DataFrame, DataFrame) => A): Program[A] =
    Program(init,
      Some(v => applyPost(Fixpoint.gather(byDst, "dst", toHub)(v), post)),
      v => applyPost(Fixpoint.gather(bySrc, "src", toAuth)(v), post),
      Some(norm), result)

  private def applyPost(scores: DataFrame, post: Post): DataFrame = post match {
    case Identity => scores
    case Teleport(beta, n) =>
      scores.select(col("id"),
        (lit(beta) * col("score") + Fixpoint.constant((1.0 - beta) / n))
          .as("score"))
    case TopicTeleport(beta, nTopic, flags) =>
      // Inner join against the full flag table: agg keys are edge
      // endpoints, all present in the node set — same as the reference's
      // `.join(nodes_label)` (`src/topic_specific_hits.py:76`).
      // SHUFFLE_HASH, not the planner's broadcast pick (guide §3.1):
      // `scores` is a fresh aggregation output hash-partitioned on id
      // and `flags` is hashed on id ([[topicTeleport]]) — the join is
      // co-partitioned and exchange-free, while the broadcast plan
      // rebuilt and shipped a |V|-row broadcast TWICE PER ITERATION
      // (16 driver collects per topic kernel in the r19 event logs).
      scores.join(flags.hint("SHUFFLE_HASH"), Seq("id"))
        .select(col("id"),
          when(col("flag") === 0, lit(beta) * col("score"))
            .otherwise(lit(beta) * col("score") +
              Fixpoint.constant((1.0 - beta) / nTopic))
            .as("score"))
  }
}
