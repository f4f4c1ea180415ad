package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ranking output operators (SURVEY.md §2.5): global sort, top-k, seeded
  * samples, score rescaling, and the reference's tuple-text single-file
  * sink (reference `src/base_hits.py:66-79`). */
object RankOutput {

  /** Global descending sort with a deterministic id tiebreak. The
    * reference's `sortBy(score, ascending=False)` leaves tie order
    * partition-dependent; the tiebreak makes output reproducible without
    * changing the ranking. */
  def ranked(scores: DataFrame): DataFrame =
    scores.orderBy(desc("score"), asc("id"))

  /** True top-k: `orderBy(desc).limit(k)` plans as TakeOrderedAndProject —
    * per-partition heaps + driver merge, no global sort shuffle (the
    * reference pays a full `sortBy` before `take(k)`,
    * `src/base_hits.py:66,74`). */
  def topK(scores: DataFrame, k: Int): DataFrame =
    scores.orderBy(desc("score"), asc("id")).limit(k)

  /** Seeded Bernoulli sample, identical semantics to the reference's
    * `sample(False, fraction, 81)` (`src/base_hits.py:78-79`). */
  def sample(df: DataFrame, fraction: Double, seed: Long = 81L): DataFrame =
    df.sample(withReplacement = false, fraction, seed)

  /** Display rescale (reference `src/base_salsa.py:52-53`). */
  def rescale(scores: DataFrame, factor: Double): DataFrame =
    scores.select(col("id"), (col("score") * lit(factor)).as("score"))

  /** The reference's text-sink row format: `('id', score)` Python-tuple
    * strings (reference `src/base_hits.py:70-71`). */
  def tupleText(scores: DataFrame): DataFrame =
    scores.select(concat(lit("('"), col("id"), lit("', "),
      col("score").cast("string"), lit(")")).as("value"))

  /** Single-file text sink, sorted desc — the reference's output layout.
    * `coalesce(1)` is a narrow repartition exactly as the reference's
    * `coalesce(1, False)`.
    *
    * Scores are rounded to 12 decimals BEFORE ranking: kernel scores
    * are transcendental-born doubles, and `Math.pow/log/exp` admit
    * ±1-ulp platform variance — unrounded, two hosts could disagree on
    * both the printed strings and the order of near-ties. After the
    * round, ties resolve on the id tiebreak identically everywhere
    * (`SinkStabilitySpec` asserts byte-identical output across two
    * JVM runs). 12 decimals is far below any meaningful score
    * separation (the oracle gates round to 6) and far above ulp
    * noise (~1e-16 relative on unit-scale scores). */
  def writeScoresText(scores: DataFrame, dir: String): Unit =
    tupleText(ranked(scores.withColumn("score", round(col("score"), 12))))
      .coalesce(1)
      .write.mode("overwrite").text(dir)

  /** Color-coded DOT render with the reference's exact view semantics
    * (reference `src/draw_graphs.py:4-89`) and exact render inputs
    * (reference `src/base_hits.py:74-79`): top-k of each score vector,
    * a seeded Bernoulli node sample of the hub vector (`sample(False,
    * 0.01, 81)`), and a seeded edge sample (`sample(False, 0.004, 81)`).
    *
    * Modes mirror the three PNGs:
    *  - `"hub"`  — red if in top-k hubs, grey otherwise
    *    (`draw_graphs.py:13`)
    *  - `"auth"` — blue if in top-k authorities, grey otherwise
    *    (`draw_graphs.py:35`)
    *  - `"both"` — purple if both, red if hub, blue if auth, grey else
    *    (`draw_graphs.py:59-62`)
    *
    * Node width follows the reference's `node_size`: score × 10000 when
    * ranked, fixed 500 otherwise (`draw_graphs.py:16,38,65-67`). The
    * node universe is the sampled-edge endpoints plus the ranked and
    * sampled ids — the same set networkx assembles via `add_edges_from`
    * + `add_nodes_from`. Top-k sides are broadcast (≤ k rows); the only
    * full-size inputs are the two seeded samples, scanned once each. */
  private[operators] def renderModel(edges: DataFrame, hubs: DataFrame,
      auths: DataFrame, mode: String, k: Int, nodeFraction: Double,
      edgeFraction: Double, seed: Long): (DataFrame, DataFrame) =
    model(
      sample(hubs, nodeFraction, seed).select(col("id")),
      sample(edges, edgeFraction, seed).select("src", "dst"),
      hubs, auths, mode, k)

  /** [[renderModel]] with hash-gated sampling instead of seeded
    * Bernoulli: node/edge membership is a pure function of content
    * (`graft_hash(id) % 100 < nodePct`), so the same rows are selected
    * by any engine — this is the oracle-checkable variant (DuckDB
    * replays the identical predicate via [[graft.functions.GraftHash
    * .duckdbSql]]). Same annotated-node/sampled-edge output contract. */
  def renderModelHash(edges: DataFrame, hubs: DataFrame, auths: DataFrame,
      mode: String, k: Int = 20, nodePct: Int = 5,
      edgePermille: Int = 4): (DataFrame, DataFrame) = {
    val s = edges.sparkSession
    model(
      hubs.filter(graft.functions.GraftHash.graftHash(s, col("id")) % 100
        < nodePct).select(col("id")),
      edges.filter(graft.functions.GraftHash.graftHash(s,
        concat_ws("|", col("src"), col("dst"))) % 1000 < edgePermille)
        .select("src", "dst"),
      hubs, auths, mode, k)
  }

  /** The shared render model behind the DOT and PNG exports: the
    * annotated node set `(id, color, width)` and the sampled edge set
    * `(src, dst)` for one of the three reference views. */
  private def model(sampledNodes: DataFrame, sampledEdges: DataFrame,
      hubs: DataFrame, auths: DataFrame, mode: String,
      k: Int): (DataFrame, DataFrame) = {
    require(Set("hub", "auth", "both")(mode), s"unknown render mode: $mode")
    val topHubs = topK(hubs, k).select(col("id"), col("score").as("hub_score"))
    val topAuths = topK(auths, k)
      .select(col("id"), col("score").as("auth_score"))
    val rankedIds = mode match {
      case "hub"  => topHubs.select("id")
      case "auth" => topAuths.select("id")
      case "both" => topHubs.select("id").unionAll(topAuths.select("id"))
    }
    val universe = sampledEdges.select(col("src").as("id"))
      .unionAll(sampledEdges.select(col("dst").as("id")))
      .unionAll(rankedIds).unionAll(sampledNodes)
      .distinct()
    val ann = universe
      .join(broadcast(topHubs), Seq("id"), "left")
      .join(broadcast(topAuths), Seq("id"), "left")
    val hubHit = col("hub_score").isNotNull
    val authHit = col("auth_score").isNotNull
    val (color, width) = mode match {
      case "hub" => (
        when(hubHit, "red").otherwise("grey"),
        coalesce(col("hub_score") * 10000, lit(500.0)))
      case "auth" => (
        when(authHit, "blue").otherwise("grey"),
        coalesce(col("auth_score") * 10000, lit(500.0)))
      case "both" => (
        when(hubHit && authHit, "purple").when(hubHit, "red")
          .when(authHit, "blue").otherwise("grey"),
        coalesce(col("hub_score") * 10000, col("auth_score") * 10000,
          lit(500.0)))
    }
    (ann.select(col("id"), color.as("color"), width.as("width")),
      sampledEdges)
  }

  def dotGraph(edges: DataFrame, hubs: DataFrame, auths: DataFrame,
      mode: String, k: Int = 50, nodeFraction: Double = 0.01,
      edgeFraction: Double = 0.004, seed: Long = 81L): DataFrame = {
    import edges.sparkSession.implicits._
    val (nodes, sampledEdges) =
      renderModel(edges, hubs, auths, mode, k, nodeFraction, edgeFraction, seed)
    // format_string, not format_number: grouping separators (e.g.
    // "1,514.2490") are not a valid DOT attribute token.
    val nodeLines = nodes.select(
      concat(lit("  \""), col("id"), lit("\" [color="), col("color"),
        lit(", width="), format_string("%.4f", col("width")),
        lit("];")).as("line"),
      lit(1).as("ord"))
    val edgeLines = sampledEdges.select(
      concat(lit("  \""), col("src"), lit("\" -> \""), col("dst"),
        lit("\";")).as("line"), lit(2).as("ord"))
    Seq(("digraph G {", 0)).toDF("line", "ord")
      .unionAll(nodeLines).unionAll(edgeLines)
      .unionAll(Seq(("}", 3)).toDF("line", "ord"))
      .orderBy(col("ord"), col("line"))
      .select(col("line"))
  }

  /** Three-file DOT export mirroring the reference's three PNGs per run
    * (`graph_<name>_hub.png`, `graph_<name>_authorities.png`,
    * `graph_<name>_HubAndAuthorities.png` — `draw_graphs.py:23,45,73`). */
  def writeDotGraphs(edges: DataFrame, hubs: DataFrame, auths: DataFrame,
      dir: String, name: String, k: Int = 50, nodeFraction: Double = 0.01,
      edgeFraction: Double = 0.004, seed: Long = 81L): Unit =
    Seq("hub" -> "hub", "auth" -> "authorities",
        "both" -> "HubAndAuthorities").foreach { case (mode, suffix) =>
      dotGraph(edges, hubs, auths, mode, k, nodeFraction, edgeFraction, seed)
        .coalesce(1).write.mode("overwrite")
        .text(s"$dir/graph_${name}_$suffix.dot")
    }
}
