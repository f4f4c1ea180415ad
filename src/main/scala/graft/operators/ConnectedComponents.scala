package graft.operators

import graft.Checkpoints.Tallied
import graft.Fixpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair graph — the cluster-
  * resolution stage a dedup pipeline runs AFTER candidate generation:
  * near-duplicate pairs (from MinHash/LSH, SimHash or embedding
  * buckets) are stitched into duplicate *clusters*, and each cluster
  * elects one canonical representative (the minimum id), which is the
  * set of documents actually kept at 100 TB.
  *
  * Algorithm: iterative min-label propagation. Each node starts with
  * `comp = min(id, min(neighbor ids))` and every round takes the min of
  * its own label and its neighbors' labels; after `diameter(G)` rounds
  * every node carries the minimum id of its component. Each round is
  * one equi-join of the (persisted, hash-partitioned) edge list against
  * the |V|-sized label vector plus one hash aggregation — the same
  * join/agg discipline as the link-analysis kernel loop
  * ([[graft.Fixpoint]]), so the big edge side is shuffled once and only
  * the label vector moves per round. Both engines run on
  * [[graft.Fixpoint.rounds]], which owns the loop width, the round cap
  * and the release of superseded label checkpoints.
  *
  * Convergence detection is one scalar per round, tallied by the job
  * that checkpoints the round's labels: labels only ever decrease, so
  * `sum(comp)` is strictly monotone until the fixed point — equal
  * consecutive sums IS convergence (no row-wise diff join needed).
  *
  * Scale note: propagation rounds equal the component diameter. Dedup
  * clusters are dense and shallow (diameter ≤ 3-4 in practice), so this
  * runs in a handful of rounds; for adversarial long-chain graphs the
  * large-star/small-star variant (Kiveris et al., "Connected Components
  * in MapReduce and Beyond") halves distances per round — noted, not
  * needed for the dedup workload this serves.
  */
object ConnectedComponents {

  /** Components of the undirected graph given as `(a, b)` pairs.
    * Returns `(id, component)` — one row per node that appears in at
    * least one pair, `component` = min node id of its component. */
  def run(pairs: DataFrame, a: String = "a", b: String = "b"): DataFrame = {
    // Both directions so one join side covers every neighborhood —
    // hashed on the per-round join key `y` BEFORE caching (the
    // kernel loop's discipline, r19): the per-round label join then
    // reads the edge side co-partitioned instead of re-exchanging the
    // symmetric edge list every round, and the keyed label checkpoint
    // (hash-partitioned on id) makes the probe side exchange-free too.
    val sym = pairs.select(col(a).as("x"), col(b).as("y"))
      .unionAll(pairs.select(col(b).as("x"), col(a).as("y")))
    // Labels only decrease, so the checksum falls every round until the
    // fixed point: the loop always ends, and needs no cap.
    Fixpoint.rounds[Labels](sym, Int.MaxValue, "min-label propagation",
        keyed = true)(l => Seq(l.e, l.comp)) { r =>
      val e = r.cache(r.input.repartition(r.width, col("y")))
      val comp = r.materializeKeyed(e.groupBy(col("x").as("id"))
        .agg(min(col("y")).as("nmin"))
        .select(col("id"), least(col("id"), col("nmin")).as("comp")),
        Checksum)
      Labels(e, comp.df, comp.tally.getLong(0))
    } { (r, l) =>
      val nbrMin = l.e
        .join(l.comp.select(col("id").as("y"), col("comp").as("yc"))
          .hint("SHUFFLE_HASH"), Seq("y"))
        .groupBy(col("x").as("id")).agg(min(col("yc")).as("nmin"))
      val next = r.materializeKeyed(
        l.comp.join(nbrMin.hint("SHUFFLE_HASH"), Seq("id"))
          .select(col("id"), least(col("comp"), col("nmin")).as("comp")),
        Checksum)
      val s = next.tally.getLong(0)
      if (s == l.sum) Left(next.df)
      else Right(l.copy(comp = next.df, sum = s))
    }._1
  }

  /** [[run]]'s generation: edge cache, label vector and its checksum. */
  private final case class Labels(e: DataFrame, comp: DataFrame, sum: Long)

  /** The label checksum, tallied by each label checkpoint's own job.
    * Null-safe: an empty label vector (zero candidate pairs — a real
    * outcome of a clean corpus) sums to NULL, which must read as a
    * stable 0, not an NPE. */
  private val Checksum = Seq(coalesce(sum(col("comp")), lit(0L)))

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") — the
    * adversarial-scale path: distances to the component minimum halve
    * (better) per round, so a length-d chain converges in O(log d)
    * rounds where [[run]]'s min-label propagation needs d. Same output
    * contract as [[run]]: `(id, comp)` for every node in some pair,
    * `comp` = min node id of its component.
    *
    * Each round is two groupBy-min aggregations + two joins over the
    * current edge set — all equi-keyed, nothing quadratic; the edge set
    * only shrinks toward the star forest. Every round's edge set is
    * checkpointed (the loop releases superseded rounds eagerly), and
    * convergence is one scalar per round, tallied by that checkpoint's
    * job (edge multiset checksum — stars are the fixed point of both
    * steps). */
  def runStar(pairs: DataFrame, a: String = "a", b: String = "b"): DataFrame =
    runStarCounted(pairs, a, b)._1

  /** `assumeSimple = true` skips round 0's canonicalizing `distinct`
    * (one full edge-list exchange): callers passing an ALREADY simple
    * canonical `(a, b)` edge set — the structural family's projections
    * ([[Triangles.undirected]]/[[Triangles.undirectedWeighted]] outputs
    * and the persisted [[StructuralIndex]]), which are distinct with
    * `a < b` and self-loop-free by construction — get the identical
    * round-0 edge set from the cheap orient-only projection (r19,
    * guide §2.4). Dedup candidate pairs keep the default: LSH pair
    * streams carry no uniqueness contract. */
  private[graft] def runStarCounted(pairs: DataFrame, a: String = "a",
      b: String = "b", assumeSimple: Boolean = false): (DataFrame, Int) = {
    // Large-star over the symmetric view: every neighbor v > u connects
    // to m(u) = min(N(u) ∪ {u}). Small-star over the min-oriented view
    // ((hi, lo), lo <= hi): hi and all its smaller neighbors connect to
    // the minimum. Self-loops are dropped; both steps emit canonical
    // (hi, lo) pairs so the checksum is orientation-stable.
    def canonical(df: DataFrame): DataFrame =
      df.filter(col("x") =!= col("y"))
        .select(greatest(col("x"), col("y")).as("x"),
          least(col("x"), col("y")).as("y"))
        .distinct()

    // largeStar emits WITHOUT the dedup exchange (r19, guide §2.4):
    // its output feeds straight into smallStar, whose min-aggregate is
    // duplicate-blind (min over duplicates = min) and whose terminal
    // `canonical` dedups the round anyway — so the round-boundary edge
    // SET is identical while each round pays one full exchange less.
    // The pre-dedup stream is bounded: sym contributes exactly one
    // oriented row per input edge (the y > x filter keeps one
    // direction), so largeStar's raw output is |e| rows, never more.
    // Emitted pairs already satisfy the canonical orientation
    // (m ≤ x < y, so (y, m) is (hi, lo) with hi ≠ lo by construction).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("y").as("x"), col("x").as("y")))
      val m = sym.groupBy(col("x").as("u"))
        .agg(least(min(col("y")), first(col("x"))).as("m"))
      sym.join(m.hint("SHUFFLE_HASH"), col("x") === col("u"))
        .filter(col("y") > col("x"))
        .select(col("y").as("x"), col("m").as("y"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // e is canonical (x=hi, y=lo): group by hi over its smaller
      // neighbors; hi plus every smaller neighbor links to the min.
      val m = e.groupBy(col("x").as("u")).agg(min(col("y")).as("m"))
      val withM = e.join(m.hint("SHUFFLE_HASH"), col("x") === col("u"))
      canonical(
        withM.select(col("y").as("x"), col("m").as("y"))
          .unionAll(m.select(col("u").as("x"), col("m").as("y"))))
    }

    // One pass over the upstream pairs plan (often a full LSH candidate
    // pipeline): both the canonical edge set and the node universe
    // derive from this cache, not from re-executions of `pairs`. The
    // star rounds keep STOCK checkpoints (AQE coalescing stays
    // load-bearing here, the r19 4× lesson); only their exchanges plan
    // at the loop width, proportional to the edge set.
    // Cached first: the loop width is the cache's size estimate.
    val p0 = pairs.select(col(a).as("x"), col(b).as("y")).persist()
    // Distances to the component min halve per round, so any real graph
    // converges in well under 64 rounds; exceeding the cap means the
    // convergence test is being dodged.
    Fixpoint.rounds[Star](p0, 100, "large-star/small-star")(
        s => Seq(s.p0, s.e)) { r =>
      // assumeSimple: input is already a simple canonical edge set —
      // orient to the (hi, lo) convention without the re-distinct
      // exchange (set-identical by the caller's contract).
      val e = r.materialize(
        if (assumeSimple)
          r.input.select(greatest(col("x"), col("y")).as("x"),
            least(col("x"), col("y")).as("y"))
        else canonical(r.input), EdgeChecksum)
      Star(r.input, e.df, edgeChecksum(e))
    } { (r, s) =>
      val t = r.materialize(smallStar(largeStar(s.e)), EdgeChecksum)
      val next = t.df
      val sum = edgeChecksum(t)
      // The (count, hash-sum) checksum is a fast filter, not proof —
      // two different edge sets can collide. Before declaring the
      // fixed point, confirm structurally that `next` IS a star forest
      // (one parent per child, no center is a child): one extra
      // agg+join job that normally runs exactly once, at the real fixed
      // point.
      if (sum != s.sum || !isStarForest(next))
        Right(s.copy(e = next, sum = sum))
      else {
        // Star forest: every non-center node appears as `x` pointing at
        // its component min. The node universe comes from the full pair
        // set so nodes seen only in self-pairs (dropped by `canonical`)
        // still map to themselves, like [[run]].
        val nodes = s.p0.select(col("x").as("id"))
          .unionAll(s.p0.select(col("y").as("id"))).distinct()
        val parent = next.select(col("x").as("id"), col("y").as("c"))
        Left(r.materialize(
          nodes.join(parent.hint("SHUFFLE_HASH"), Seq("id"), "left")
            .groupBy(col("id"))
            .agg(least(min(col("c")), first(col("id"))).as("comp"))))
      }
    }
  }

  /** [[runStarCounted]]'s generation: the pair cache (the loop's input,
    * kept for the node universe), the edge set and its checksum. */
  private final case class Star(p0: DataFrame, e: DataFrame,
      sum: (Long, Long))

  /** True iff `e` (canonical (hi, lo) pairs) is a star forest: every
    * child `x` has exactly one parent and no parent is itself a child.
    * Sound convergence evidence where the checksum is probabilistic.
    * Both checks are full aggregates, not `limit(1)` probes: at the
    * fixed point they scan every partition anyway, and a codegen'd
    * limit names its counter from a JVM-wide sequence, so its classes
    * compiled anew on every run. */
  private def isStarForest(e: DataFrame): Boolean = {
    val maxParents = e.groupBy(col("x")).agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
    lazy val centerIsChild = e.select(col("y"))
      .join(e.select(col("x").as("y")).hint("SHUFFLE_HASH"), Seq("y"),
        "left_semi")
      .count()
    maxParents <= 1L && centerIsChild == 0L
  }

  /** (cardinality, content-hash sum) — set equality evidence for the
    * convergence check, tallied by each edge checkpoint's own job. */
  private val EdgeChecksum = Seq(count(lit(1)),
    coalesce(sum(hash(col("x"), col("y")).cast("long")), lit(0L)))

  private def edgeChecksum(e: Tallied): (Long, Long) =
    (e.tally.getLong(0), e.tally.getLong(1))

  /** Duplicate-cluster view over near-dup candidate `(a, b)` pairs:
    * `(doc_id, cluster_id, n_members)`, cluster_id = the canonical
    * (minimum) doc id of the cluster — the survivor a dedup pass keeps. */
  def clusters(pairs: DataFrame): DataFrame = clustersFrom(run(pairs))

  /** [[clusters]] computed by the [[runStar]] engine — identical output,
    * O(log d) rounds on adversarial long-chain graphs. */
  def clustersStar(pairs: DataFrame): DataFrame = clustersFrom(runStar(pairs))

  private def clustersFrom(comp: DataFrame): DataFrame = {
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("n_members"))
    comp.join(sizes, Seq("comp"))
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        col("n_members"))
      .orderBy(col("doc_id"))
  }

  /** Structural-family view of [[runStar]] over a canonical undirected
    * `(a, b)` edge frame (the [[Triangles.undirected]] projection —
    * also what [[StructuralIndex.undirected]] persists, so the indexed
    * gate shares this code path end to end): `(id, component,
    * n_members)` for every node incident to at least one edge,
    * `component` = minimum node id of its component. The size attach
    * is the same join/agg shape as [[clusters]]; only the column
    * vocabulary differs (graph nodes, not dedup docs). */
  def componentsOn(und: DataFrame): DataFrame = {
    val comp = runStarCounted(und, assumeSimple = true)._1
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("n_members"))
    comp.join(sizes, Seq("comp"))
      .select(col("id"), col("comp").as("component"), col("n_members"))
      .orderBy(col("id"))
  }

  /** Strength-thresholded components: [[componentsOn]] restricted to
    * undirected edges whose MICRO-UNIT integer strength (the
    * [[Triangles.undirectedWeighted]] collapsed-edge sum) is at least
    * `minStrength` (raw weight units — converted with the same
    * `round(x·1e6)` the projection uses). The weighted member of the
    * components family: the full graph is one giant component by
    * construction on the order graph, but its high-value-transaction
    * subgraph fractures into thousands of small components — the
    * "connectivity above a business threshold" audit. Nodes with no
    * qualifying edge leave the universe, mirroring [[runStar]]'s
    * nodes-in-some-pair contract. */
  def componentsWeightedOn(undW: DataFrame,
      minStrength: Double): DataFrame = {
    val tauMicro = math.round(minStrength * 1e6)
    componentsOn(undW.filter(col("wt") >= lit(tauMicro))
      .select(col("a"), col("b")))
  }
}
