package graft.operators

import graft.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss decomposition over the undirected simple projection: the
  * maximal subgraph in which every EDGE closes at least `k - 2`
  * triangles within the subgraph — the edge-level density tier next to
  * [[KCore]]'s node-level one (every k-truss sits inside the
  * (k-1)-core, but is strictly stricter: a hub whose neighbors don't
  * know each other survives the core and is peeled out of the truss).
  * Community-detection and spam-tail pipelines use it for the same
  * reason a training-data pipeline does: triangle-supported edges are
  * the relations corroborated by a third party.
  *
  * Found by synchronous support peeling: enumerate the current
  * subgraph's triangles, credit each triangle to its three edges, drop
  * every edge below `k - 2`, repeat to the fixed point. MONOTONE like
  * the k-core peel — each round's edge set is a subset of the last, so
  * edge-count equality IS set equality (the cheap convergence test),
  * rounds past the fixed point are identities, and the same
  * generously-unrolled SQL oracle contract applies
  * ([[graft.Oracles.kTruss]] unrolls the identical `maxRounds` bound;
  * the operator fails loudly rather than return a partial peel).
  *
  * Scale shape per round: triangle enumeration is the
  * [[Triangles.perNodeOn]] discipline — orient every edge from its
  * lower (degree, id) endpoint so wedge width is bounded by O(√m) and
  * hubs CONSUME wedges through a well-distributed equi-join key — then
  * one explode + partial-aggregating hash agg credits supports and one
  * equi-join drops the light edges. No windows, no sorts, nothing
  * quadratic; the edge list shrinks monotonically, checkpointed per
  * round on [[graft.Fixpoint.rounds]] (stock checkpoints: the r19 4×
  * lesson; the loop width also bounds the per-round wedge aggregation's
  * partial-agg fanout). Degrees are recomputed per round from the shrinking
  * frame — orientation only needs to be consistent WITHIN a round, so
  * any per-round total order yields the same triangle SET.
  */
object KTruss {

  /** Edges of the k-truss with their within-truss support:
    * `(a, b, support)` with `a < b`, empty when the truss is empty. */
  def run(edges: DataFrame, k: Int, maxRounds: Int = 24): DataFrame =
    runOn(Triangles.undirected(edges), k, maxRounds)

  /** [[run]] over an already-built undirected projection (the
    * persisted [[StructuralIndex]] or any `(a, b)` simple edge set).
    * Bit-equal to the from-scratch path — ids and integer supports
    * round-trip parquet exactly — so the `*_indexed` gate shares its
    * oracle verbatim. */
  def runOn(und: DataFrame, k: Int, maxRounds: Int = 24): DataFrame = {
    require(k >= 3, s"need k >= 3 (k - 2 triangles per edge), got $k")
    require(maxRounds >= 1, s"need maxRounds >= 1, got $maxRounds")
    val minSup = k - 2
    // Edge counts are tallied by the jobs that checkpoint the edges.
    val edges = Seq(count(lit(1)))
    val e0 = Checkpoints.materialize(und.select(col("a"), col("b")), edges)
    graft.Fixpoint.rounds[(DataFrame, Long)](e0.df, maxRounds,
        "k-truss peel")(en => Seq(en._1))(
        r => (r.input, e0.tally.getLong(0))) { case (r, (e, n)) =>
      val sup = r.materialize(support(e))
      val next = r.materialize(
        e.join(sup.where(col("support") >= minSup), Seq("a", "b"),
            "left_semi")
          .select(col("a"), col("b")), edges)
      val m = next.tally.getLong(0)
      // `sup` was computed over the fixed-point edge set: it IS the
      // final per-edge support (edges below minSup were already absent
      // from `e`, or `m` would have shrunk).
      if (m == n)
        Left(e.join(sup, Seq("a", "b"))
          .select(col("a"), col("b"), col("support")))
      else Right((next.df, m))
    }._1
  }

  /** Per-edge triangle support of a canonical `(a, b)` edge frame:
    * `(a, b, support)` for every edge in at least one triangle.
    * Degree-oriented once-each enumeration ([[Triangles.perNodeOn]]'s
    * wedge discipline), each triangle exploded back onto its three
    * canonical (id-ordered) edges, one hash agg. */
  private def support(e: DataFrame): DataFrame = {
    val deg = Triangles.degrees(e)
    val withDeg = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(lowFirst, col("a")).otherwise(col("b")).as("u"),
      when(lowFirst, col("b")).otherwise(col("a")).as("v"),
      when(lowFirst, col("db")).otherwise(col("da")).as("dv"))
    val wedges = oriented
      .join(oriented.select(col("u"), col("v").as("w"), col("dv").as("dw")),
        Seq("u"))
      .where(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    val tri = wedges
      .join(oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    tri.select(explode(array(
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"),
          greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"),
          greatest(col("v"), col("w")).as("b")))).as("t"))
      .select(col("t.a").as("a"), col("t.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
  }
}
