package graft.operators

import graft.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semi-supervised label propagation over the undirected simple
  * projection: sparse seed labels spread to unlabeled nodes by
  * deterministic neighbor majority.
  *
  * Beyond-reference graph analytics, third of the structural family
  * ([[Triangles]], [[LinkPredict]]): the training-data use is
  * propagating a label known for a FEW documents (human-rated quality,
  * verified domain, license class) across a similarity/citation graph
  * to the rest of the corpus.
  *
  * Semantics (synchronous, clamped, k fixed iterations — chosen so a
  * SQL oracle can unroll them exactly):
  *  - labeled nodes NEVER change (seed clamping);
  *  - each iteration, every still-unlabeled node takes the most frequent
  *    label among its LABELED neighbors, ties broken by label ascending
  *    — a total, deterministic rule (no random tie-break, unlike
  *    classic LPA, whose nondeterminism would make cross-engine parity
  *    meaningless);
  *  - nodes with no labeled neighbor stay unlabeled this iteration.
  *
  * Scale shape: per iteration, one equi-join of the symmetric edge list
  * against the |V|-sized label vector, a partial-aggregating
  * `(node, label)` count, and a per-node argmax window whose partitions
  * are bounded by the DISTINCT LABEL count (not by degree — the
  * count aggregation collapses a hot node's votes map-side first).
  * The label vector is checkpointed each round on
  * [[graft.Fixpoint.rounds]], for a fixed count of rounds.
  */
object LabelProp {

  /** Propagate `seeds(id, label)` over `edges(src, dst, *)` for `iters`
    * synchronous rounds; returns `(id, label)` for every node of the
    * undirected simple projection, label null if never reached. */
  def run(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame =
    runOn(spark, Triangles.undirected(edges), seeds, iters)

  /** WEIGHTED label propagation: each labeled neighbor's vote counts
    * its undirected edge STRENGTH (micro-unit integer sum of the
    * directed weights between the endpoints —
    * [[Triangles.undirectedWeighted]]) instead of 1, so a
    * high-engagement neighbor outvotes many weak ones — the natural
    * pairing with the weighted kernels, and the variant a curation
    * pipeline wants when edge weight IS the trust signal (citation
    * count, co-click mass). Ties break (weight desc, label asc) —
    * total and deterministic like [[run]], and the vote sums are
    * integer-exact, so the unrolled SQL twin reproduces every round
    * bit-for-bit. Same per-iteration scale shape as [[run]]: the
    * aggregate swaps COUNT for an integer SUM, keys unchanged. */
  def runWeighted(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame =
    runWeightedOn(spark, Triangles.undirectedWeighted(edges), seeds, iters)

  /** [[runWeighted]] over an already-built weighted projection
    * `(a, b, wt)` (micro-unit weights —
    * [[StructuralIndex.undirectedWeighted]] or
    * [[Triangles.undirectedWeighted]]). */
  def runWeightedOn(spark: SparkSession, undIn: DataFrame,
      seeds: DataFrame, iters: Int): DataFrame =
    propagate(spark, undIn, seeds, iters, weighted = true)

  /** [[run]] over an already-built undirected projection (the
    * persisted [[StructuralIndex]] or any `(a, b)` simple edge set —
    * the symmetric neighbor list is materialized internally, so the
    * input may be a lazy plan). Bit-equal to the from-scratch path;
    * the `*_indexed` gate shares its oracle verbatim. */
  def runOn(spark: SparkSession, undIn: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame =
    propagate(spark, undIn, seeds, iters, weighted = false)

  /** Shared propagation loop: the weighted and unweighted variants
    * differ ONLY in the vote each neighbor casts (its edge strength vs
    * the literal 1 — an integer SUM either way, so the unweighted path
    * is byte-identical to the original COUNT formulation). */
  private def propagate(spark: SparkSession, undIn: DataFrame,
      seeds: DataFrame, iters: Int, weighted: Boolean): DataFrame = {
    require(iters >= 0, s"need iters >= 0, got $iters")
    val und = Checkpoints.materialize(undIn)
    val vote = if (weighted) col("wt") else lit(1L)
    val byVotes = Window.partitionBy(col("id"))
      .orderBy(col("c").desc, col("label"))
    graft.Fixpoint.rounds[Labels](und, iters, "label propagation")(
        l => Seq(l.nbrs, l.lab)) { r =>
      // symmetric neighbor list: votes flow both ways across each edge
      val e = r.input
      val nbrs = r.materialize(
        e.select(col("a").as("src"), col("b").as("id"), vote.as("wt"))
          .unionAll(
            e.select(col("b").as("src"), col("a").as("id"), vote.as("wt"))))
      val nodes = nbrs.select(col("id")).distinct()
      Labels(nbrs, r.materialize(nodes.join(r.on(seeds), Seq("id"), "left")
        .select(col("id"), col("label"))), iters)
    } { (r, l) =>
      if (l.left == 0) Left(l.lab)
      else {
        // Votes only matter for still-unlabeled destinations (clamping
        // discards the rest), so gate the aggregate's input on them —
        // the per-round work shrinks as coverage grows, same output.
        val votes = l.nbrs
          .join(l.lab.where(col("label").isNull).select(col("id")),
            Seq("id"), "left_semi")
          .join(l.lab.where(col("label").isNotNull)
            .select(col("id").as("src"), col("label")), Seq("src"))
          .groupBy(col("id"), col("label"))
          .agg(sum(col("wt")).as("c"))
        val best = votes
          .select(col("id"), col("label"),
            row_number().over(byVotes).as("rn"))
          .where(col("rn") === 1)
          .select(col("id"), col("label").as("vote"))
        Right(l.copy(lab = r.materialize(
          l.lab.join(best, Seq("id"), "left")
            .select(col("id"),
              coalesce(col("label"), col("vote")).as("label"))),
          left = l.left - 1))
      }
    }._1
  }

  /** A generation: neighbor list, label vector, rounds still to run. */
  private final case class Labels(nbrs: DataFrame, lab: DataFrame, left: Int)
}
