package graft

import graft.functions.{GraftHash, TextFunctions => TF}
import graft.operators._
import graft.pipelines.{Classify, Dedup, Multimodal, Packing, Retrieval,
  Sampling, Similarity, Sketches, TextMetrics}
import graft.streaming.{Drain, EventPipelines, Restart, Tws}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7.
  *
  * [[gates]] is the one gate registry: each [[Gate]] declares its
  * name, the persisted graph family it reads, its Spark query and its
  * DuckDB twin (generated in [[Oracles]]); [[queries]] and
  * [[oracleSql]] are views of it. Column names and types are aligned on
  * both sides because the driver's compare sorts columns by name and
  * hashes values. Floating-point scores are rounded identically on both
  * sides (HITS: 6 decimals, SALSA: 9 — see [[Oracles]] scaladoc).
  */
object SparkEntry {

  /** Topic label used by the topic/query-dependent kernels: 'part' is the
    * only label with intra-topic edges in the derived order graph. */
  private val Topic = "part"

  /** Edge-strength floor (raw weight units) for the weighted
    * components gates. The collapsed-edge strength distribution on the
    * order graph is bimodal and scale-stable (quantity-weighted
    * part-chain edges ≪ price-weighted customer/order edges); 105k
    * sits above the p75 price mode, so the surviving subgraph
    * fractures into thousands of small components at every SF
    * (156 / 1,502 / 14,999 at sf0.001/0.01/0.1) instead of staying one
    * giant — a non-degenerate weighted gate. */
  private val ComponentStrengthFloor = 105000.0

  /** Fixed probe query for the retrieval gates — mid-frequency corpus
    * terms so the BM25 idf spread is non-degenerate. */
  private val SearchTerms = Seq("spark", "query", "vector")

  /** Corpora whose persisted structural projection has been built in
    * THIS JVM — the `*_indexed` gates share one build per corpus
    * (that sharing is the index's entire point; a per-gate rebuild
    * would just re-prove the from-scratch gates). Keyed by index dir;
    * rebuilt on first touch each JVM so a stale on-disk index from an
    * older code version can never leak into a gate. The memo maps
    * key → key and is populated through `computeIfAbsent` (ADVICE
    * r18): the build runs under the per-key lock and the mapping is
    * recorded only if `write` RETURNS — a concurrent gate on the same
    * corpus blocks until the index is complete instead of reading a
    * half-written one, and a failed build leaves no entry, so the
    * next gate retries instead of inheriting a poisoned memo. */
  private val structIdxBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def structIdxDir(s: SparkSession, dir: String): String = {
    // readable sanitized tail + graft hash of the RAW dir string, so
    // two corpus dirs that sanitize alike (sf0.1 vs sf0_1) can never
    // share an index (ADVICE r18)
    val idx = "target/graft-structidx-" +
      dir.replaceAll("[^a-zA-Z0-9]", "_") + "-" +
      java.lang.Long.toHexString(graft.functions.GraftHash.hashUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(dir)))
    structIdxBuilt.computeIfAbsent(idx, { k =>
      StructuralIndex.write(GraphIO.orderGraph(s, dir).edges, k)
      k
    })
  }

  /** The events stream with `ts` as a µs-truncated TIMESTAMP, for the
    * event-time streaming operators (window, interval join, dedup). */
  private def eventsStreamTs(ds: SparkSession, dir: String): DataFrame =
    GraphIO.eventsStream(ds, dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))

  /** The events stream with `ts` floored to whole µs (still epoch-nanos),
    * so stream nanos arithmetic and the µs-resolution oracle see the
    * same instants; [[eventsUs]] is its batch twin. */
  private def eventsStreamUs(ds: SparkSession, dir: String): DataFrame =
    GraphIO.eventsStream(ds, dir).withColumn("ts", expr("ts div 1000 * 1000"))

  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    GraphIO.events(s, dir).withColumn("ts", expr("ts div 1000 * 1000"))

  /** A sessionizer's drained sessions, in the µs units of its oracle. */
  private def sessionRows(sessions: DataFrame): DataFrame =
    sessions.select(col("user_id"), col("n_events"),
        expr("dur_ns div 1000").as("dur_us"))
      .orderBy(col("user_id"), col("n_events"), col("dur_us"))

  /** `betweenPhases` of the repartitioned restart gates: the drain
    * session resized to 2k+1 partitions, k the caller's width. */
  private def resized(s: SparkSession): SparkSession => Unit = {
    val key = "spark.sql.shuffle.partitions"
    val altered = (scala.util.Try(s.conf.get(key).toInt)
      .getOrElse(s.sparkContext.defaultParallelism) * 2 + 1).toString
    ds => ds.conf.set(key, altered)
  }

  /** Probe values for the Count-Min gate: the search terms plus one
    * token absent from the corpus. */
  private val CmsProbes = Seq("spark", "query", "vector", "zz_absent_probe")

  /** Fixed-bin quantile-sketch geometry for the events `value` column:
    * `(lo, width, nbins)` — [0, 1024) in half-unit bins, chosen from
    * schema knowledge (testdata values span [0, ~561]; the documented
    * width/2 error bound needs the domain covered — see
    * [[graft.functions.FixedBinHistogramAgg]]). Shared verbatim with
    * the DuckDB oracle ([[Oracles.eventsPercentilesSketch]] is invoked
    * with exactly these values below). */
  private val PctSketchBins: (Double, Double, Int) = (0.0, 0.5, 2048)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("hits_base")(spark, "/root/testdata/sf0.001")

  private def scoresRows(hubs: DataFrame, auths: DataFrame,
      digits: Int): DataFrame =
    auths.select(lit("auth").as("kind"), col("id"),
        round(col("score"), digits).as("score"))
      .unionAll(hubs.select(lit("hub").as("kind"), col("id"),
        round(col("score"), digits).as("score")))

  private def scoresOut(hubs: DataFrame, auths: DataFrame,
      digits: Int): DataFrame =
    scoresRows(hubs, auths, digits).orderBy(col("kind"), col("id"))

  private def hitsOut(r: Hits.Result): DataFrame =
    scoresOut(r.hubs, r.auths, 6)
  private def salsaOut(r: Salsa.Result): DataFrame =
    scoresOut(r.hubs, r.auths, 9)

  /** One gate: its name, the persisted [[GraphIO]] graph it reads
    * (`order`, `orderalt`, `event`, or none: [[Bench]] and [[Verify]]
    * run each family's gates together and evict that graph after the
    * last one), its Spark query over an sf dir, and its DuckDB oracle,
    * built on demand. `rederive` rebuilds the oracle of a converged
    * kernel from the iteration count and verdict the kernel reported
    * in its marker rows, so [[Verify]] is correct at any scale; their
    * pinned `oracle` is the sf0.01 one. */
  final case class Gate(name: String, family: Option[String],
      query: (SparkSession, String) => DataFrame, oracle: () => String,
      rederive: Option[(Int, Boolean) => String]) {

    /** Runs this gate once over `sfDir`: labels its jobs `label` (event
      * log and UI only), builds its frame, writes it with `sink`, and
      * releases the frame's checkpoints even if the write failed, so a
      * long run's dead score vectors never wait on GC-timed cleanup. */
    def run(spark: SparkSession, sfDir: String, label: Option[String])(
        sink: DataFrame => Unit): Unit = {
      spark.sparkContext.setJobDescription(label.orNull)
      var df: DataFrame = null
      try {
        df = query(spark, sfDir)
        sink(df)
      } finally {
        if (df != null) Checkpoints.releaseAll(df)
        spark.sparkContext.setJobDescription(null)
      }
    }
  }

  object Gate {
    /** The timing sink: evaluates every output column of every row
      * (under `count()` Catalyst prunes computed columns). */
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
  }

  private def gate(name: String, family: Option[String], oracle: => String,
      rederive: Option[(Int, Boolean) => String] = None)(
      query: (SparkSession, String) => DataFrame): Gate =
    Gate(name, family, query, () => oracle, rederive)

  private val Order = Some("order")
  private val OrderAlt = Some("orderalt")
  private val Event = Some("event")
  /** Reads only the flat parquet tables: nothing persisted to evict. */
  private val Flat = None

  /** The gate registry, one per implemented operator from SURVEY.md §2. */
  val gates: Seq[Gate] = Seq(
    // ---- HITS family (K1-K6) on the derived order graph ----
    gate("hits_base", Order, Oracles.hitsBase)((s, dir) =>
      hitsOut(Hits.run(GraphIO.orderGraph(s, dir)))),
    gate("hits_weighted", Order, Oracles.hitsWeighted)((s, dir) =>
      hitsOut(Hits.runWeighted(GraphIO.orderGraph(s, dir)))),
    gate("hits_weighted_alt", OrderAlt, Oracles.hitsWeightedAlt)((s, dir) =>
      hitsOut(Hits.runWeighted(GraphIO.orderGraphAltWeights(s, dir)))),
    gate("hits_teleport", Order, Oracles.hitsTeleport())((s, dir) =>
      hitsOut(Hits.runTeleport(GraphIO.orderGraph(s, dir)))),
    gate("hits_topic", Order, Oracles.hitsTopic(Topic))((s, dir) =>
      hitsOut(Hits.runTopicSpecific(GraphIO.orderGraph(s, dir), Topic))),
    gate("hits_topic_exclusive", Order,
      Oracles.hitsTopicExclusive(Topic))((s, dir) =>
      hitsOut(Hits.runTopicExclusive(GraphIO.orderGraph(s, dir), Topic))),
    gate("hits_query_dependent", Order,
      Oracles.hitsQueryDependent(Topic))((s, dir) =>
      hitsOut(Hits.runQueryDependent(GraphIO.orderGraph(s, dir), Topic))),
    // One-time bucketed-layout write, gated on its table cardinalities.
    // Runs before hits_bucketed (family order is alphabetical), so the
    // kernel query below measures the amortized zero-shuffle run, not
    // the write — the actual 100 TB proposition (write once, score many
    // times).
    gate("graph_bucketed_write", Order, Oracles.bucketedWrite)((s, dir) => {
      import s.implicits._
      // Bucket count = the consumer kernels' scale-adaptive loop width
      // (r20, guide §2.2/§6): data-proportional here, the session's
      // shuffle.partitions at cluster scale — fewer, larger bucket
      // files at gate scale, and the bucketed kernels pin their loop
      // to the layout's count (Fixpoint.runBucketed), so the
      // zero-edge-Exchange property holds at any scale.
      GraphIO.writeBucketedGraph(GraphIO.orderGraph(s, dir),
        bucketedPrefix(s, dir),
        graft.Fixpoint.width(GraphIO.orderGraph(s, dir).edges))
      Seq("edges_by_dst", "edges_by_src", "nodes").map(t =>
        (t, s.table(s"${bucketedPrefix(s, dir)}_$t").count()))
        .toDF("bucket_table", "n_rows").orderBy(col("bucket_table"))
    }),
    // Kernel over the bucketed handoff layout: ZERO edge-side shuffles
    // (the scan itself is the co-partitioning). Writes the layout only
    // if this JVM hasn't already (standalone runs); scores — and so the
    // oracle — are identical to hits_base.
    gate("hits_bucketed", Order, Oracles.hitsBase)((s, dir) => {
      val prefix = bucketedPrefix(s, dir)
      if (!s.catalog.tableExists(s"${prefix}_nodes"))
        GraphIO.writeBucketedGraph(GraphIO.orderGraph(s, dir), prefix,
          graft.Fixpoint.width(GraphIO.orderGraph(s, dir).edges))
      hitsOut(Hits.runBucketed(s, prefix))
    }),
    // ---- SALSA family (K7-K12) ----
    // K8 over the bucketed handoff layout — zero edge-side shuffles,
    // including the degree aggregations; scores identical to
    // salsa_iterative. Reuses (or writes) the same layout as
    // hits_bucketed.
    gate("salsa_bucketed", Order, Oracles.salsaIterativeBase)((s, dir) => {
      val prefix = bucketedPrefix(s, dir)
      if (!s.catalog.tableExists(s"${prefix}_nodes"))
        GraphIO.writeBucketedGraph(GraphIO.orderGraph(s, dir), prefix,
          graft.Fixpoint.width(GraphIO.orderGraph(s, dir).edges))
      salsaOut(Salsa.runBucketed(s, prefix))
    }),
    gate("salsa_simplified", Order, Oracles.salsaSimplifiedBase)((s, dir) =>
      salsaOut(Salsa.runSimplified(GraphIO.orderGraph(s, dir).edges))),
    gate("salsa_iterative", Order, Oracles.salsaIterativeBase)((s, dir) =>
      salsaOut(Salsa.run(GraphIO.orderGraph(s, dir)))),
    gate("salsa_weighted", Order, Oracles.salsaWeighted)((s, dir) =>
      salsaOut(Salsa.runWeightedSimplified(GraphIO.orderGraph(s, dir).edges))),
    gate("salsa_teleport", Order, Oracles.salsaTeleport())((s, dir) =>
      salsaOut(Salsa.runTeleport(GraphIO.orderGraph(s, dir)))),
    gate("salsa_topic", Order, Oracles.salsaTopic(Topic))((s, dir) =>
      salsaOut(Salsa.runTopicSpecific(GraphIO.orderGraph(s, dir), Topic))),
    gate("salsa_query_dependent", Order,
      Oracles.salsaQueryDependent(Topic))((s, dir) =>
      salsaOut(Salsa.runQueryDependent(GraphIO.orderGraph(s, dir), Topic))),
    // Convergence extension, determinized like hits_converged: the
    // sf0.01 gate corpus stops at iteration 13 (tol 1e-9; delta(12)
    // ≈1.6e-9, delta(13)≈6e-10, so the count has ≥1.4× margin both
    // ways), and the oracle unrolls exactly 13 iterations. The pinned
    // N below is the sf0.01 default only: Verify re-derives the oracle
    // from the kernel's reported iter row at whatever scale it runs
    // (sf0.001 converges at 15), so the gate is scale-correct.
    // Delta checks are batched (firstCheck=7, every 3 → 7,10,13,...):
    // the sf0.01 stop stays at the measured 13, with 3 delta jobs
    // instead of 13.
    gate("salsa_converged", Order,
      Oracles.salsaConverged(numIter = 13),
      rederive = Some(Oracles.salsaConverged(_, _)))((s, dir) => {
      import s.implicits._
      val fp =
        Salsa.runConverged(GraphIO.orderGraph(s, dir), 1e-9, 20,
          checkEvery = 3, firstCheck = 7)
      scoresRows(fp.result.hubs, fp.result.auths, 9)
        .unionAll(Seq(("iter", "n_iter", fp.iterations.toDouble),
          ("iter", "converged", if (fp.converged) 1.0 else 0.0))
          .toDF("kind", "id", "score"))
        .orderBy(col("kind"), col("id"))
    }),
    // ---- utility operators (K13, degrees, top-k, sampling) ----
    gate("topics_list", Order, Oracles.topicsList)((s, dir) =>
      Topics.list(GraphIO.orderGraph(s, dir).nodes).orderBy(col("label"))),
    gate("graph_degrees", Order, Oracles.degrees)((s, dir) => {
      val e = GraphIO.orderGraph(s, dir).edges
      Degrees.out(e).select(lit("out").as("kind"), col("id"),
          col("out_degree").as("degree"))
        .unionAll(Degrees.in(e).select(lit("in").as("kind"), col("id"),
          col("in_degree").as("degree")))
        .orderBy(col("kind"), col("id"))
    }),
    // Beyond-reference structural signal: per-node triangle counts +
    // local clustering coefficient via the degree-oriented wedge join
    // (hub skew bounded by construction — see `Triangles` scaladoc).
    gate("graph_triangles", Order, Oracles.triangles())((s, dir) =>
      Triangles.perNode(GraphIO.orderGraph(s, dir).edges)
        .orderBy(col("id"))),
    // Semi-supervised label propagation: hash-gated 30% seeds carry
    // their node label, 4 clamped synchronous majority rounds (the
    // quality/domain-label spreading primitive — see `LabelProp`).
    gate("graph_label_prop", Order, Oracles.labelProp())((s, dir) => {
      val g = GraphIO.orderGraph(s, dir)
      val seeds = g.nodes
        .filter(GraftHash.graftHash(s, col("id")) % 100 < 30)
        .select(col("id"), col("label"))
      LabelProp.run(s, g.edges, seeds, 4)
        .select(col("id"),
          coalesce(col("label"), lit("unlabeled")).as("label"))
        .orderBy(col("id"))
    }),
    // k-core density tier: synchronous peel to the 3-core fixed point
    // (the "train on the dense core" sampling primitive — see `KCore`).
    gate("graph_kcore", Order, Oracles.kCore())((s, dir) =>
      KCore.run(GraphIO.orderGraph(s, dir).edges, 3)
        .orderBy(col("id"))),
    // WEIGHTED structural variants (r18): the same wedge join / peel
    // with the aggregate swapped to the micro-unit-exact edge-weight
    // sum — composable with the weighted HITS/SALSA gates, which
    // consume the same weights. Threshold 300k sits between the
    // weighted-degree median (~520k) and p10 (~235k) on the order
    // graph at every SF (the distribution is scale-stable), so the
    // peel is non-trivial and converges in ≤3 rounds — far inside the
    // oracle's 24-round unroll.
    gate("graph_triangles_weighted", Order,
      Oracles.trianglesWeighted())((s, dir) =>
      Triangles.perNodeWeighted(GraphIO.orderGraph(s, dir).edges)
        .orderBy(col("id"))),
    gate("graph_kcore_weighted", Order, Oracles.kCoreWeighted())((s, dir) =>
      KCore.runWeighted(GraphIO.orderGraph(s, dir).edges, 300000.0)
        .orderBy(col("id"))),
    // DOULION sampled triangle count — the family's cheap 100 TB rung
    // (the ANN ladder philosophy applied to triangles): hash-gated
    // edge sample at the CORPUS-DERIVED rate (autoPPermille — p halves
    // per 8× edge growth, so expected sampled triangles stay put),
    // wedge work ~p², count scaled by (1000/p)³; the twin replays both
    // the derivation (count-threshold unroll) and the exact subgraph.
    gate("graph_triangles_approx", Order, Oracles.trianglesApprox())((s, dir) =>
      Triangles.approxCount(GraphIO.orderGraph(s, dir).edges)),
    // Structural family on the EVENT graph — the natural skew gate:
    // its authorities ('e' event-type nodes) hold hot-key in-degrees
    // by construction. Triangles are degenerate there (bipartite ⇒
    // none), but link prediction IS the textbook co-engagement
    // recommender (event types sharing many users — hot-type centers
    // are excluded by the degree cap, users are the wedge centers),
    // and the k-core is the engagement tier.
    gate("evt_graph_link_predict", Event,
      Oracles.linkPredict(graph = Oracles.eventGraphCtes))((s, dir) =>
      LinkPredict.topCandidates(GraphIO.eventGraph(s, dir).edges)),
    gate("evt_graph_kcore", Event,
      Oracles.kCore(graph = Oracles.eventGraphCtes))((s, dir) =>
      KCore.run(GraphIO.eventGraph(s, dir).edges, 3)
        .orderBy(col("id"))),
    // r19: the remaining structural pair on the event graph, so the
    // whole family is proven on both graph derivations. Triangles are
    // structurally ZERO on a bipartite graph — the gate certifies
    // exactly that (every per-node count 0, clustering 0, under the
    // hot-key in-degree skew), not a vacuous empty result.
    gate("evt_graph_triangles", Event,
      Oracles.triangles(graph = Oracles.eventGraphCtes))((s, dir) =>
      Triangles.perNode(GraphIO.eventGraph(s, dir).edges)
        .orderBy(col("id"))),
    gate("evt_graph_label_prop", Event,
      Oracles.labelProp(graph = Oracles.eventGraphCtes))((s, dir) => {
      val g = GraphIO.eventGraph(s, dir)
      val seeds = g.nodes
        .filter(GraftHash.graftHash(s, col("id")) % 100 < 30)
        .select(col("id"), col("label"))
      LabelProp.run(s, g.edges, seeds, 4)
        .select(col("id"),
          coalesce(col("label"), lit("unlabeled")).as("label"))
        .orderBy(col("id"))
    }),
    // weighted majority: a high-engagement neighbor outvotes many weak
    // ones — votes are integer micro-unit edge strengths, so every
    // round is exactly replayed by the unrolled twin
    gate("graph_label_prop_weighted", Order,
      Oracles.labelProp(weighted = true))((s, dir) => {
      val g = GraphIO.orderGraph(s, dir)
      val seeds = g.nodes
        .filter(GraftHash.graftHash(s, col("id")) % 100 < 30)
        .select(col("id"), col("label"))
      LabelProp.runWeighted(s, g.edges, seeds, 4)
        .select(col("id"),
          coalesce(col("label"), lit("unlabeled")).as("label"))
        .orderBy(col("id"))
    }),
    // Link-prediction features: top-20 non-adjacent pairs by
    // common-neighbor/Adamic-Adar evidence (center-degree cap 64 — the
    // quadratic-surface contract, see `LinkPredict` scaladoc).
    gate("graph_link_predict", Order, Oracles.linkPredict())((s, dir) =>
      LinkPredict.topCandidates(GraphIO.orderGraph(s, dir).edges)),
    // Weighted link prediction — completes the weighted structural
    // quartet: bottleneck common strength (exact micro-unit integer
    // primary key) + the 1/ln(1+strength) Adamic-Adar discount, same
    // topological center cap as the unweighted operator.
    gate("graph_link_predict_weighted", Order,
      Oracles.linkPredictWeighted())((s, dir) =>
      LinkPredict.topCandidatesWeighted(GraphIO.orderGraph(s, dir).edges)),
    // ---- persisted structural projection (StructuralIndex) ----
    // Lifecycle proof, the ann_topk_ivf_persisted pattern: build +
    // persist the shared undirected/degrees projection once, read it
    // back, run each structural operator on it — each *_indexed gate
    // shares its from-scratch gate's oracle VERBATIM, so the persisted
    // path is proven bit-equal. At 100 TB this is what removes three
    // redundant corpus-scale distinct-shuffles from a one-graph
    // analysis session (VERDICT r17 missing #3).
    gate("graph_triangles_indexed", Order, Oracles.triangles())((s, dir) => {
      val idx = structIdxDir(s, dir)
      Triangles.perNodeOn(StructuralIndex.undirected(s, idx),
          StructuralIndex.degrees(s, idx))
        .orderBy(col("id"))
    }),
    // bucketed = false: link prediction's first join re-keys the scan
    // (union into adjacency), so bucket metadata only pins it to a
    // fixed non-AQE layout — measured 35 vs 19 s at 100×; the k-core
    // peel, whose joins ARE on the bucket key, keeps the metadata.
    gate("graph_link_predict_indexed", Order,
      Oracles.linkPredict())((s, dir) => {
      val idx = structIdxDir(s, dir)
      LinkPredict.topCandidatesOn(
        StructuralIndex.undirected(s, idx, bucketed = false),
        StructuralIndex.degrees(s, idx, bucketed = false))
    }),
    gate("graph_label_prop_indexed", Order, Oracles.labelProp())((s, dir) => {
      val idx = structIdxDir(s, dir)
      val seeds = GraphIO.orderGraph(s, dir).nodes
        .filter(GraftHash.graftHash(s, col("id")) % 100 < 30)
        .select(col("id"), col("label"))
      LabelProp.runOn(s, StructuralIndex.undirected(s, idx), seeds, 4)
        .select(col("id"),
          coalesce(col("label"), lit("unlabeled")).as("label"))
        .orderBy(col("id"))
    }),
    gate("graph_kcore_indexed", Order, Oracles.kCore())((s, dir) => {
      val idx = structIdxDir(s, dir)
      // the index IS round 0: stored degrees replace the peel's first
      // (full-edge-list) aggregate, and the bucketed layout makes the
      // a-side semi-join exchange-free — see KCore.runPreDegreed
      KCore.runPreDegreed(StructuralIndex.undirected(s, idx),
          StructuralIndex.degrees(s, idx), 3)
        .orderBy(col("id"))
    }),
    // the index stores the WEIGHTED projection (the unweighted readers
    // prune the wt column away at the scan) — one gate proves the
    // weighted family reads it bit-equal too, sharing the weighted
    // oracle verbatim
    gate("graph_kcore_weighted_indexed", Order,
      Oracles.kCoreWeighted())((s, dir) => {
      val idx = structIdxDir(s, dir)
      // stored strengths are the weighted peel's round 0, the
      // runPreDegreed pattern on the strength axis
      KCore.runWeightedPreDegreed(
          StructuralIndex.undirectedWeighted(s, idx),
          StructuralIndex.weightedDegreesCounted(s, idx), 300000.0)
        .orderBy(col("id"))
    }),
    // the remaining weighted family members over the SAME single index
    // (r19): every weighted operator now has a from-scratch gate AND an
    // indexed twin sharing its oracle verbatim — the one-index-serves-
    // both claim exercised across the whole quartet
    gate("graph_triangles_weighted_indexed", Order,
      Oracles.trianglesWeighted())((s, dir) => {
      val idx = structIdxDir(s, dir)
      Triangles.perNodeWeightedOn(StructuralIndex.undirectedWeighted(s, idx),
          StructuralIndex.degrees(s, idx))
        .orderBy(col("id"))
    }),
    gate("graph_label_prop_weighted_indexed", Order,
      Oracles.labelProp(weighted = true))((s, dir) => {
      val idx = structIdxDir(s, dir)
      val seeds = GraphIO.orderGraph(s, dir).nodes
        .filter(GraftHash.graftHash(s, col("id")) % 100 < 30)
        .select(col("id"), col("label"))
      LabelProp.runWeightedOn(s, StructuralIndex.undirectedWeighted(s, idx),
          seeds, 4)
        .select(col("id"),
          coalesce(col("label"), lit("unlabeled")).as("label"))
        .orderBy(col("id"))
    }),
    gate("graph_link_predict_weighted_indexed", Order,
      Oracles.linkPredictWeighted())((s, dir) => {
      val idx = structIdxDir(s, dir)
      LinkPredict.topCandidatesWeightedOn(
        StructuralIndex.undirectedWeighted(s, idx, bucketed = false),
        StructuralIndex.degrees(s, idx, bucketed = false))
    }),
    // Connected components (r19) — the fifth structural-family member,
    // computed by the adversarial-scale large-star/small-star engine
    // (O(log d) rounds, convergence asserted loudly). On the order
    // graph the full projection is ONE giant component by construction
    // — the gate certifies exactly that (every node labeled with the
    // global min id, n_members = |V|), the evt_graph_triangles
    // "certify the degenerate case" pattern; the WEIGHTED member
    // thresholds edges at strength 105k (between the price-edge and
    // quantity-edge modes of the scale-stable bimodal strength
    // distribution), fracturing the graph into thousands of small
    // high-value components — real structure, real size histogram.
    gate("graph_components", Order, Oracles.graphComponents())((s, dir) =>
      ConnectedComponents.componentsOn(
        Triangles.undirected(GraphIO.orderGraph(s, dir).edges))),
    gate("graph_components_weighted", Order,
      Oracles.graphComponents(minStrength = ComponentStrengthFloor))((s, dir) =>
      ConnectedComponents.componentsWeightedOn(
        Triangles.undirectedWeighted(GraphIO.orderGraph(s, dir).edges),
        ComponentStrengthFloor)),
    // components on the EVENT graph: bipartite users × event types —
    // every user reaches every other through the hot types, so full
    // engagement connectivity is certified under hot-key skew
    gate("evt_graph_components", Event,
      Oracles.graphComponents(graph = Oracles.eventGraphCtes))((s, dir) =>
      ConnectedComponents.componentsOn(
        Triangles.undirected(GraphIO.eventGraph(s, dir).edges))),
    // indexed twins: the star-forest contraction re-keys edges every
    // round (x→y orientation flips), so bucket metadata cannot help —
    // read the persisted projection with bucketed = false, the
    // link_predict_indexed precedent
    gate("graph_components_indexed", Order,
      Oracles.graphComponents())((s, dir) => {
      val idx = structIdxDir(s, dir)
      ConnectedComponents.componentsOn(
        StructuralIndex.undirected(s, idx, bucketed = false))
    }),
    gate("graph_components_weighted_indexed", Order,
      Oracles.graphComponents(
        minStrength = ComponentStrengthFloor))((s, dir) => {
      val idx = structIdxDir(s, dir)
      ConnectedComponents.componentsWeightedOn(
        StructuralIndex.undirectedWeighted(s, idx, bucketed = false),
        ComponentStrengthFloor)
    }),
    // k-truss (r19) — the edge-level density tier next to k-core's
    // node-level one: every surviving edge closes >= 2 triangles
    // inside the surviving subgraph (k=4 — non-trivial multi-round
    // peel with a non-empty truss at every SF; k=5 empties the order
    // graph at sf0.01+). Support peel enumerates triangles
    // degree-oriented per round (the Triangles wedge discipline).
    gate("graph_ktruss", Order, Oracles.kTruss())((s, dir) =>
      KTruss.run(GraphIO.orderGraph(s, dir).edges, 4)
        .orderBy(col("a"), col("b"))),
    gate("graph_ktruss_indexed", Order, Oracles.kTruss())((s, dir) => {
      val idx = structIdxDir(s, dir)
      KTruss.runOn(StructuralIndex.undirected(s, idx, bucketed = false), 4)
        .orderBy(col("a"), col("b"))
    }),
    gate("rank_topk", Order, Oracles.rankTopK())((s, dir) => {
      val auths = Salsa.runSimplified(GraphIO.orderGraph(s, dir).edges).auths
      RankOutput.topK(auths, 10)
        .select(col("id"), round(col("score"), 9).as("score"))
    }),
    gate("sample_hash", Order, Oracles.sampleHash())((s, dir) =>
      GraphIO.orderGraph(s, dir).nodes.select(col("id"))
        .filter(GraftHash.graftHash(s, col("id")) % 100 < 5)
        .orderBy(col("id"))),
    // S5 graph-render model: the annotated (id, color, width) node set
    // behind the reference's HubAndAuthorities PNG view, hash-sampled so
    // DuckDB replays the identical selection.
    gate("render_model", Order, Oracles.renderModel())((s, dir) => {
      val g = GraphIO.orderGraph(s, dir)
      val r = Hits.run(g)
      val (nodes, _) = RankOutput.renderModelHash(g.edges, r.hubs, r.auths,
        "both")
      // width = score*10000, so 2 decimals here = the same 1e-6 absolute
      // tolerance on score that every other HITS oracle gates on.
      nodes.select(col("id"), col("color"),
        round(col("width"), 2).as("width")).orderBy(col("id"))
    }),
    // ---- PageRank extension (kernel-family completeness) ----
    gate("pagerank", Order, Oracles.pageRank())((s, dir) =>
      PageRank.run(GraphIO.orderGraph(s, dir))
        .select(col("id"), round(col("score"), 9).as("score"))
        .orderBy(col("id"))),
    // Personalized variant: teleport uniform over the 'part' seed set
    // — the PageRank analogue of topic-specific HITS.
    gate("pagerank_personalized", Order,
      Oracles.pageRankPersonalized(Topic))((s, dir) =>
      PageRank.runPersonalized(GraphIO.orderGraph(s, dir), Topic)
        .select(col("id"), round(col("score"), 9).as("score"))
        .orderBy(col("id"))),
    // Convergence run, determinized like hits/salsa_converged: the
    // sf0.01 gate corpus stops at iteration 25 at tol 5.8e-8 (measured
    // delta(24)∈[1.0e-7,1.05e-7), delta(25)∈[3.2e-8,3.5e-8) — ~1.7×
    // margin both ways), and the oracle unrolls exactly 25 iterations.
    // Pinned N = sf0.01 default only; Verify re-derives from the
    // kernel's reported n_iter row at the scale it runs.
    // Delta checks batched on 13,16,19,22,25: the sf0.01 stop stays at
    // the measured 25 (delta(22) ≈ delta(24)/0.85² ≈ 1.4e-7 ≥ tol with
    // ~2.4× margin), with 5 delta jobs instead of 25.
    gate("pagerank_converged", Order,
      Oracles.pageRankConverged(numIter = 25),
      rederive = Some(Oracles.pageRankConverged(_, _)))((s, dir) => {
      import s.implicits._
      val fp =
        PageRank.runConverged(GraphIO.orderGraph(s, dir), 0.85, 5.8e-8, 60,
          checkEvery = 3, firstCheck = 13)
      fp.result.select(col("id"), round(col("score"), 9).as("score"))
        .unionAll(Seq(("n_iter", fp.iterations.toDouble),
          ("converged", if (fp.converged) 1.0 else 0.0)).toDF("id", "score"))
        .orderBy(col("id"))
    }),
    // ---- event-graph kernels (skewed in-degree coverage) ----
    gate("evt_hits_base", Event, Oracles.hitsEventBase)((s, dir) =>
      hitsOut(Hits.run(GraphIO.eventGraph(s, dir)))),
    gate("evt_salsa_weighted", Event, Oracles.salsaEventWeighted)((s, dir) =>
      salsaOut(Salsa.runWeightedSimplified(GraphIO.eventGraph(s, dir).edges))),
    // ---- convergence extension; oracle-gated by determinizing the
    // fixed point: the sf0.01 gate corpus converges at iteration 12,
    // so the oracle unrolls 12 iterations and the extra
    // ('iter','n_iter',N) row asserts the kernel stopped exactly
    // there. tol sits at the geometric mid of the measured brackets
    // delta(11)∈[1.6e-6,1.75e-6) and delta(12)∈[8e-7,9e-7) — ≥1.33×
    // margin both ways (the r1 value 1e-6 had as little as 1.0× above
    // delta(12)). Pinned N = sf0.01 default; Verify re-derives from
    // the reported iter row at the scale it runs. ----
    // Delta checks batched on 6,9,12,15: the sf0.01 stop stays at the
    // measured 12 (delta(9) > delta(11) ≥ 1.6e-6 ≥ tol), with 3 delta
    // jobs instead of 12.
    gate("hits_converged", Order,
      Oracles.hitsConverged(numIter = 12),
      rederive = Some(Oracles.hitsConverged(_, _)))((s, dir) => {
      import s.implicits._
      val fp =
        Hits.runConverged(GraphIO.orderGraph(s, dir), 1.2e-6, 16,
          checkEvery = 3, firstCheck = 6)
      scoresRows(fp.result.hubs, fp.result.auths, 6)
        .unionAll(Seq(("iter", "n_iter", fp.iterations.toDouble),
          ("iter", "converged", if (fp.converged) 1.0 else 0.0))
          .toDF("kind", "id", "score"))
        .orderBy(col("kind"), col("id"))
    }),
    // ---- events: batch twins of the streaming pipeline ----
    gate("events_sessionize", Flat, Oracles.sessionize())((s, dir) =>
      EventPipelines.sessionizeBatch(GraphIO.events(s, dir))),
    // Salt-and-merge twin: same sessions from bounded partitions (the
    // hot-user skew posture); gated on the UNCHANGED sessionize oracle
    // — the gate IS the output-equality proof.
    gate("events_sessionize_salted", Flat, Oracles.sessionize())((s, dir) =>
      EventPipelines.sessionizeSalted(GraphIO.events(s, dir))),
    // Native session_window twin: the built-in gap-session operator,
    // boundary-aligned (gap+1µs over integer-µs event times), gated on
    // the UNCHANGED sessionize oracle — the gate IS the equality proof.
    gate("events_sessionize_native", Flat, Oracles.sessionize())((s, dir) =>
      EventPipelines.sessionizeNativeExact(GraphIO.events(s, dir))),
    gate("events_window", Flat, Oracles.eventsWindow)((s, dir) =>
      EventPipelines.windowedStatsBatch(GraphIO.events(s, dir))),
    gate("events_rollup", Flat, Oracles.eventsRollup)((s, dir) =>
      EventPipelines.typeRollup(GraphIO.events(s, dir))),
    // Interval-union engagement time per user (exact integer nanos).
    gate("events_active_time", Flat, Oracles.eventsActiveTime())((s, dir) =>
      EventPipelines.activeTime(GraphIO.events(s, dir))),
    // Exponentially decayed per-type counts anchored at max ts.
    gate("events_decayed", Flat, Oracles.eventsDecayedCounts())((s, dir) =>
      EventPipelines.decayedCounts(GraphIO.events(s, dir))),
    gate("events_running_totals", Flat,
      Oracles.eventsRunningTotals())((s, dir) =>
      EventPipelines.runningTotals(GraphIO.events(s, dir))),
    gate("skew_salted_join", Flat, Oracles.skewSaltedJoin)((s, dir) => {
      val ev = GraphIO.events(s, dir)
      val dims = ev.select(col("event_type").as("et2"),
        upper(col("event_type")).as("tag")).distinct()
      graft.operators.Skew
        .saltedEquiJoin(ev, dims, col("event_type"), col("et2"), 8)
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")) * lit(100.0)).cast("long").as("cents"))
        .orderBy(col("tag"))
    }),
    gate("events_asof", Flat, Oracles.eventsAsof)((s, dir) =>
      EventPipelines.asofPurchaseView(GraphIO.events(s, dir))),
    gate("events_range_join", Flat, Oracles.eventsRangeJoin())((s, dir) =>
      EventPipelines.rangeJoinClicksBeforeErrors(GraphIO.events(s, dir))),
    gate("events_props_json", Flat, Oracles.eventsPropsJson)((s, dir) =>
      EventPipelines.propsJsonStats(GraphIO.events(s, dir))),
    gate("events_top_users", Flat, Oracles.eventsTopUsers)((s, dir) =>
      EventPipelines.topUsers(GraphIO.events(s, dir))
        .withColumn("rn", col("rn").cast("long"))),
    // Deterministic KMV sketch: the approximate distinct-user count
    // itself is oracle-gated (integer-exact k-smallest sketch +
    // op-order-matched estimator), next to the exact count.
    gate("events_kmv_users", Flat, Oracles.eventsKmvUsers())((s, dir) => {
      val ev = GraphIO.events(s, dir)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      val kmv = Sketches
        .kmvDistinct(s, ev, col("event_type"), col("user_id").cast("string"))
        .select(col("grp").as("event_type"),
          col("kmv_distinct").as("kmv_users"))
      exact.join(kmv, Seq("event_type")).orderBy(col("event_type"))
    }),
    // The sketch at realistic token-level cardinality: per-source
    // distinct 3-gram shingles — where exact countDistinct shuffles
    // every key and the KMV sketch ships 256 int64s per group.
    gate("corpus_shingle_kmv", Flat, Oracles.corpusShingleKmv())((s, dir) => {
      val sh = GraphIO.documents(s, dir)
        .select(col("source"), explode(TF.shingles(col("text"), 3)).as("v"))
      val exact = sh.groupBy(col("source"))
        .agg(countDistinct(col("v")).as("n_exact"))
      val kmv = Sketches.kmvDistinct(s, sh, col("source"), col("v"))
        .select(col("grp").as("source"),
          col("kmv_distinct").as("kmv_shingles"))
      exact.join(kmv, Seq("source")).orderBy(col("source"))
    }),
    // Sketch-based source-overlap audit: pairwise Jaccard between the
    // 20 sources' shingle sets from the same sketches — integer set
    // algebra on <=K-element arrays, no raw-data join.
    gate("corpus_source_overlap_kmv", Flat,
      Oracles.corpusSourceOverlapKmv())((s, dir) =>
      Sketches.kmvPairwiseJaccard(s,
        GraphIO.documents(s, dir)
          .select(col("source"), explode(TF.shingles(col("text"), 3)).as("v")),
        col("source"), col("v"))),
    // ---- sequence packing (LLM batch assembly) ----
    gate("pack_sequences", Flat, Oracles.packSequences())((s, dir) =>
      Packing.packDocs(s, GraphIO.documents(s, dir), "doc_id", "text",
        capacity = 2000L, buckets = 8).orderBy(col("doc_id"))),
    gate("pack_manifest", Flat, Oracles.packManifest())((s, dir) =>
      Packing.packManifest(
        Packing.packDocs(s, GraphIO.documents(s, dir), "doc_id", "text",
          capacity = 2000L, buckets = 8), "doc_id").orderBy(col("pack"))),
    // ---- text analysis ----
    gate("text_stats", Flat, Oracles.textStats)((s, dir) =>
      GraphIO.documents(s, dir).select(col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        TF.punctCount(col("text")).cast("long").as("n_punct"),
        TF.subtokenCount(col("text")).cast("long").as("n_subtokens"),
        TF.langId(col("text")).as("lang_pred"),
        round(TF.qualityScore(col("text")), 6).as("quality"))
        .orderBy(col("doc_id"))),
    gate("text_fingerprint", Flat, Oracles.textFingerprint)((s, dir) =>
      GraphIO.documents(s, dir).select(col("doc_id"),
        TF.fingerprint(s, col("text")).as("fp"))
        .orderBy(col("doc_id"))),
    gate("text_repetition", Flat, Oracles.textRepetition)((s, dir) =>
      TextMetrics.repetitionSignals(GraphIO.documents(s, dir))),
    gate("text_tfidf", Flat, Oracles.textTfidf)((s, dir) =>
      TextMetrics.tfidf(GraphIO.documents(s, dir))),
    gate("text_scrub", Flat,
      Oracles.textScrub("(customer|supplier)", "[X]"))((s, dir) =>
      TextMetrics.scrub(GraphIO.documents(s, dir),
        "(customer|supplier)", "[X]")),
    gate("corpus_mixture", Flat, Oracles.corpusMixture)((s, dir) =>
      TextMetrics.mixtureReport(GraphIO.documents(s, dir))),
    gate("sample_quota", Flat, Oracles.sampleQuota())((s, dir) =>
      Sampling.quotaPerGroup(s, GraphIO.documents(s, dir),
        "source", "doc_id", 25)),
    // Both split and shuffle now carry the full input row; the gates
    // project one payload column (source) alongside the assignment so
    // the pass-through itself is oracle-checked.
    gate("sample_split", Flat, Oracles.sampleSplit())((s, dir) =>
      Sampling.splitByHash(s, GraphIO.documents(s, dir), "doc_id",
        Seq("train" -> 900, "val" -> 50, "test" -> 50))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id"))),
    gate("corpus_shuffle", Flat, Oracles.corpusShuffle)((s, dir) =>
      Sampling.shuffleByHash(s, GraphIO.documents(s, dir), "doc_id")
        .select(col("doc_id"), col("source"), col("sort_key"))),
    gate("decontaminate", Flat, Oracles.decontaminate())((s, dir) => {
      val d = GraphIO.documents(s, dir)
      Dedup.benchmarkContamination(s,
        d.filter(col("doc_id") % 10 =!= 7), d.filter(col("doc_id") % 10 === 7))
    }),
    // Bloom-prefiltered variant — broadcastable-bitmap prefilter before
    // the exact confirm; n_hits must match `decontaminate` (no false
    // negatives), n_bloom exposes the FP tail. The oracle replays the
    // bitmap bit-for-bit.
    gate("decontaminate_bloom", Flat,
      Oracles.decontaminateBloom())((s, dir) => {
      val d = GraphIO.documents(s, dir)
      Dedup.benchmarkContaminationBloom(s,
        d.filter(col("doc_id") % 10 =!= 7), d.filter(col("doc_id") % 10 === 7))
    }),
    gate("events_percentiles", Flat, Oracles.eventsPercentiles)((s, dir) =>
      EventPipelines.typePercentiles(GraphIO.events(s, dir))),
    gate("pipeline_clean_corpus", Flat,
      Oracles.pipelineCleanCorpus())((s, dir) =>
      Dedup.cleanCorpus(s, GraphIO.documents(s, dir))),
    gate("text_normalize", Flat, Oracles.textNormalize)((s, dir) => {
      val norm = TF.normalizeText(s, col("text"))
      GraphIO.documents(s, dir).select(col("doc_id"),
          norm.as("norm_text"),
          GraftHash.graftHash(s, norm).as("norm_fp"))
        .orderBy(col("doc_id"))
    }),
    // ---- dedup ----
    gate("dedup_exact", Flat, Oracles.dedupExact)((s, dir) =>
      Dedup.exact(GraphIO.documents(s, dir))),
    gate("dedup_exact_hash", Flat, Oracles.dedupExactHash)((s, dir) =>
      Dedup.exactByHash(s, GraphIO.documents(s, dir))),
    gate("text_langid_ngram", Flat, Oracles.textLangIdNgram)((s, dir) =>
      GraphIO.documents(s, dir).select(col("doc_id"),
        TF.langIdNgram(col("text")).as("lang_tri"))
        .orderBy(col("doc_id"))),
    // Real-BPE token counts next to the subtoken proxy they refine —
    // a per-row codegen'd scalar, no shuffle; the vocab rides the plan
    // as a reference obj. The vocab is TRAINED on this corpus
    // (BpeTrain — the closed tokenizer-training loop): K bounded
    // rounds over the capped word-type dictionary, then the learned
    // K-row merge list is collected (the IVF-centroid pattern) and
    // applied corpus-wide.
    gate("text_bpe_tokens", Flat, Oracles.textBpeTokensTrained())((s, dir) => {
      val bpe = new graft.functions.BpeTokenizer(
        graft.pipelines.BpeTrain.trainedVocab(GraphIO.documents(s, dir)))
      GraphIO.documents(s, dir).select(col("doc_id"),
        TF.subtokenCount(col("text")).cast("long").as("n_subtokens"),
        bpe.countTokens(col("text")).as("n_bpe"))
        .orderBy(col("doc_id"))
    }),
    // The BPE TRAINER itself, gate-shaped: the learned merge list in
    // rank order, replayed merge-for-merge by the DuckDB oracle
    // (pair-count argmax + leftmost fold per round).
    gate("bpe_train", Flat, Oracles.bpeTrain())((s, dir) =>
      graft.pipelines.BpeTrain.merges(GraphIO.documents(s, dir))),
    // Driver-local greedy twin at the same merge count — the bounded
    // word dictionary trains on the driver (one corpus job instead of
    // two jobs PER MERGE), and the gate shares bpe_train's greedy
    // oracle verbatim: the speedup is job-count only, never a merge.
    gate("bpe_train_fast", Flat, Oracles.bpeTrain())((s, dir) =>
      graft.pipelines.BpeTrain.merges(GraphIO.documents(s, dir),
        fast = true)),
    gate("dedup_simhash", Flat, Oracles.dedupSimhash)((s, dir) =>
      Dedup.simhash(s, GraphIO.documents(s, dir))),
    gate("dedup_clusters", Flat, Oracles.dedupClusters)((s, dir) =>
      ConnectedComponents.clusters(
        Dedup.minhashLsh(s, GraphIO.documents(s, dir), ordered = false))),
    // Same clusters via the large-star/small-star engine (O(log d)
    // rounds — the adversarial-chain-safe variant); oracle shared with
    // dedup_clusters because the output contract is identical.
    gate("dedup_clusters_star", Flat, Oracles.dedupClusters)((s, dir) =>
      ConnectedComponents.clustersStar(
        Dedup.minhashLsh(s, GraphIO.documents(s, dir), ordered = false))),
    gate("pipeline_near_dedup", Flat, Oracles.pipelineNearDedup)((s, dir) =>
      Dedup.nearDedupCorpus(s, GraphIO.documents(s, dir))),
    gate("dedup_minhash_lsh", Flat, Oracles.dedupMinHashLsh)((s, dir) =>
      Dedup.minhashLsh(s, GraphIO.documents(s, dir))),
    gate("dedup_minhash_signature", Flat,
      Oracles.dedupMinHashSignature)((s, dir) =>
      Dedup.minhashSignature(s, GraphIO.documents(s, dir))),
    gate("dedup_ngram_jaccard", Flat, Oracles.dedupNgramJaccard())((s, dir) =>
      Dedup.ngramJaccard(GraphIO.documents(s, dir))),
    gate("dedup_passages", Flat, Oracles.dedupPassages())((s, dir) =>
      Dedup.repeatedPassages(s, GraphIO.documents(s, dir))),
    // exact-substring span dedup (Lee et al. 2021 shape): maximal
    // cross-document duplicated ≥k-token spans, and the cleaner that
    // cuts them
    gate("dedup_spans", Flat, Oracles.dedupSpans())((s, dir) =>
      Dedup.dedupSpans(s, GraphIO.documents(s, dir))),
    gate("dedup_spans_occ", Flat, Oracles.dedupSpans(minOcc = 2))((s, dir) =>
      Dedup.dedupSpans(s, GraphIO.documents(s, dir), minOcc = 2)),
    gate("dedup_spans_clean", Flat, Oracles.dedupSpansClean())((s, dir) =>
      Dedup.dedupSpansClean(s, GraphIO.documents(s, dir))),
    gate("dedup_embedding", Flat, Oracles.dedupEmbedding(0.3))((s, dir) =>
      Similarity.nearDuplicates(GraphIO.embeddings(s, dir), 0.3)),
    // ---- similarity search ----
    // nlist pinned: the DuckDB twin is static SQL, so the gate fixes
    // the cell count; library callers omitting nlist get the
    // √N-derived default ([[graft.pipelines.Similarity.autoNlist]]).
    gate("dedup_semantic", Flat, Oracles.dedupSemantic(0.3))((s, dir) =>
      Similarity.semanticDuplicates(GraphIO.embeddings(s, dir), 0.3,
        nlist = 8)),
    // The five ANN gates all route through the unified
    // [[graft.pipelines.Similarity.ann]] entry point, so what the
    // oracles certify is the one surface users call.
    gate("ann_topk", Flat, Oracles.annTopK())((s, dir) =>
      Similarity.ann(GraphIO.embeddings(s, dir), Similarity.AnnStrategy.Exact)
        .withColumn("rn", col("rn").cast("long"))),
    // Cluster-composition report: one broadcast IVF assignment pass +
    // a per-cell hash agg — corpus inspection before mixture choices.
    gate("corpus_clusters", Flat, Oracles.corpusClusters())((s, dir) =>
      Similarity.clusterReport(GraphIO.embeddings(s, dir), nlist = 8)),
    gate("ann_topk_lsh", Flat, Oracles.annTopKLsh())((s, dir) =>
      Similarity.ann(GraphIO.embeddings(s, dir), Similarity.AnnStrategy.Lsh)
        .withColumn("rn", col("rn").cast("long"))),
    // matryoshka rung: prefix-cosine candidates (dims/D of the float
    // reads), exact full-vector rerank — the dimension-reduction axis
    // of the ladder
    gate("ann_topk_mrl", Flat, Oracles.annTopKMrl())((s, dir) =>
      Similarity.ann(GraphIO.embeddings(s, dir), Similarity.AnnStrategy.Mrl)
        .withColumn("rn", col("rn").cast("long"))),
    gate("ann_topk_ivf", Flat, Oracles.annTopKIvf())((s, dir) =>
      Similarity.ann(GraphIO.embeddings(s, dir), Similarity.AnnStrategy.Ivf,
          nlist = 8)
        .withColumn("rn", col("rn").cast("long"))),
    // MRL×IVF composition: prefix-cosine candidates INSIDE the probed
    // cells, rerank pool a fraction of the PROBED population — the
    // sublinear form of the dimension axis (retires autoMrlCand's
    // linear ⌈N/5⌉ asymptote for the deployed default path).
    gate("ann_topk_mrl_ivf", Flat, Oracles.annTopKMrlIvf())((s, dir) =>
      Similarity.ann(GraphIO.embeddings(s, dir),
          Similarity.AnnStrategy.MrlIvf, nlist = 8)
        .withColumn("rn", col("rn").cast("long"))),
    // Exploded to (vec_id, ma, pos, qv) scalar rows: the driver's
    // comparator sorts result columns with pandas, which cannot order an
    // array-typed column — the native array<bigint> API
    // ([[graft.pipelines.Similarity.quantizeQ8]]) is unchanged.
    gate("embed_quantize", Flat, Oracles.embedQuantize)((s, dir) =>
      Similarity.quantizeQ8(GraphIO.embeddings(s, dir))
        .select(col("vec_id"), col("ma"),
          posexplode(col("q")).as(Seq("pos", "qv")))
        .select(col("vec_id"), col("ma"), col("pos").cast("long").as("pos"),
          col("qv"))
        .orderBy(col("vec_id"), col("pos"))),
    // product quantization — the BYTES-PER-VECTOR axis (r19): ADC over
    // 10-byte codes (m=16 subspaces × 32 codewords ≈ 26× smaller than
    // the float column), derived rerank pool max(12k, ⌈N/20⌉); the
    // sublinear deployable form is the IVF composition below
    gate("ann_topk_pq", Flat, Oracles.annTopKPq())((s, dir) =>
      Similarity.ann(GraphIO.embeddings(s, dir), Similarity.AnnStrategy.Pq)
        .withColumn("rn", col("rn").cast("long"))),
    // IVFPQ — the canonical memory-bound 100 TB ANN shape: probed
    // cells shrink the scanned SET, codes shrink the bytes per scanned
    // vector, rerank pool scales with the probed population (raw-
    // vector codes, so ONE code table serves both PQ rungs)
    gate("ann_topk_pq_ivf", Flat, Oracles.annTopKPqIvf())((s, dir) =>
      Similarity.ann(GraphIO.embeddings(s, dir),
          Similarity.AnnStrategy.PqIvf, nlist = 8)
        .withColumn("rn", col("rn").cast("long"))),
    gate("ann_topk_q8", Flat, Oracles.annTopKQ8())((s, dir) =>
      Similarity.ann(GraphIO.embeddings(s, dir), Similarity.AnnStrategy.Q8)
        .withColumn("rn", col("rn").cast("long"))),
    gate("ann_topk_q8_ivf", Flat, Oracles.annTopKQ8Ivf())((s, dir) =>
      Similarity.ann(GraphIO.embeddings(s, dir), Similarity.AnnStrategy.Q8Ivf,
          nlist = 8)
        .withColumn("rn", col("rn").cast("long"))),
    // The full 100 TB ANN configuration — cell probe + int8 prefilter +
    // centroid training on the hash-gated half sample — certified
    // end-to-end: the oracle replays the identical training gate.
    gate("ann_topk_q8_ivf_sampled", Flat,
      Oracles.annTopKQ8Ivf(trainPermille = 500))((s, dir) =>
      Similarity.ann(GraphIO.embeddings(s, dir), Similarity.AnnStrategy.Q8Ivf,
          nlist = 8, trainFraction = 0.5)
        .withColumn("rn", col("rn").cast("long"))),
    // IVF index lifecycle proof: build + persist the index (centroids
    // and the cell-repartitioned assigned corpus), read it back, probe
    // — must equal the in-memory rung, so the gate shares
    // ann_topk_ivf's oracle verbatim.
    gate("ann_topk_ivf_persisted", Flat, Oracles.annTopKIvf())((s, dir) => {
      val idxDir = "target/graft-ivf-" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      Similarity.ivfIndexWrite(GraphIO.embeddings(s, dir), idxDir, nlist = 8)
      Similarity.annTopKIvfPersisted(s, idxDir, GraphIO.embeddings(s, dir))
        .withColumn("rn", col("rn").cast("long"))
    }),
    // IVF index LIFECYCLE gate: build a versioned index from a corpus
    // with a deterministic subset of embeddings CORRUPTED (negated —
    // those vectors land in the wrong cells), append a generation-1
    // delta carrying the true embeddings for exactly that subset, and
    // compact — the probe over the compacted index must then equal the
    // from-scratch `ann_topk_ivf` run (shared oracle, verbatim), with
    // every hop round-tripped through parquet. Centroids are pinned at
    // build time (the lifecycle contract: appends assign against the
    // persisted centroids; retraining is a rebuild), so the gate pins
    // them to the corpus's trained centroids and proves append+compact
    // reproduce assign-from-scratch — including the cell REASSIGNMENT
    // of every re-ingested vector.
    gate("ann_topk_ivf_appended", Flat, Oracles.annTopKIvf())((s, dir) => {
      val base = "target/graft-ivflc-" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val emb = GraphIO.embeddings(s, dir)
      val updated = col("vec_id") % 7 === 3
      val stale = emb.withColumn("embedding",
        when(updated, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")))
      val corpus = emb.select(col("vec_id"), col("embedding"),
        Similarity.norm(col("embedding")).as("nrm"))
      val cents = Similarity.ivfCentroids(corpus, 8)
      cents.write.mode("overwrite").parquet(s"$base/centroids.parquet")
      Similarity.ivfIndexEntries(stale, cents, 0L)
        .write.mode("overwrite").parquet(s"$base/v0.parquet")
      Similarity.ivfIndexAppend(s.read.parquet(s"$base/v0.parquet"),
          Similarity.ivfIndexEntries(emb.filter(updated), cents, 1L))
        .write.mode("overwrite").parquet(s"$base/v1.parquet")
      Similarity.ivfIndexCompact(s.read.parquet(s"$base/v1.parquet"))
        .repartition(col("cid"))
        .write.mode("overwrite").parquet(s"$base/index.parquet")
      Similarity.annTopKIvfPersisted(s, base, emb)
        .withColumn("rn", col("rn").cast("long"))
    }),
    // Accuracy half of the ANN ladder as a first-class gated output:
    // recall@k of every approximate rung against the exact rung, both
    // deterministic, so the recall numbers themselves are oracle-checked
    // (the DuckDB twin recomputes each rung and intersects).
    gate("ann_recall_audit", Flat, Oracles.annRecallAudit())((s, dir) =>
      Similarity.recallAudit(GraphIO.embeddings(s, dir))),
    // Recall DRIFT of the appended index (r13 missing #2): centroids
    // trained when only the first half of the corpus existed, the rest
    // appended against those pinned centroids through the real
    // append+compact ops — recall@k and cell-occupancy imbalance (the
    // documented rebuild trigger) side by side with the fresh rebuild,
    // all four rows recomputed by the DuckDB twin.
    gate("ann_recall_audit_appended", Flat,
      Oracles.annRecallAuditAppended())((s, dir) =>
      Similarity.recallAuditAppended(GraphIO.embeddings(s, dir))),
    // ---- multimodal plumbing ----
    gate("multimodal_meta", Flat, Oracles.multimodalMeta)((s, dir) =>
      Multimodal.metaQuery(s, GraphIO.documents(s, dir))),
    gate("multimodal_chunks", Flat, Oracles.multimodalChunks())((s, dir) =>
      Multimodal.chunkFingerprints(s, GraphIO.documents(s, dir))),
    // REAL codec proof: encode each doc's bytes as a genuine gray-8
    // PNG and decode it back via javax.imageio (pure JDK) — lossless,
    // so the oracle replays the decoded stats from the raw bytes.
    gate("multimodal_image_roundtrip", Flat,
      Oracles.multimodalImageRoundtrip)((s, dir) =>
      graft.pipelines.Images.imageRoundTrip(s, GraphIO.documents(s, dir))),
    // REAL 2-D resize proof: PNG → ImageIoCodec.resize (decode,
    // nearest-neighbor both axes, re-encode) → decode — lossless hops,
    // so the oracle replays the resized stats from raw bytes.
    gate("multimodal_resize_real", Flat,
      Oracles.multimodalResizeReal(factor = 2))((s, dir) =>
      graft.pipelines.Images.resizedRoundTrip(s,
        GraphIO.documents(s, dir), factor = 2)),
    // REAL multi-frame path: animated gray GIF (the JDK's only
    // writable+readable multi-frame container) → per-frame decode →
    // every-2nd-frame sampling — the video-pipeline shape without a
    // JDK video codec.
    gate("multimodal_frames", Flat,
      Oracles.multimodalFrames(stride = 2))((s, dir) =>
      graft.pipelines.Images.frameSample(s, GraphIO.documents(s, dir),
        stride = 2)),
    // REAL audio codec proof: bytes → 8-bit PCM WAV → AudioSystem
    // decode; lossless, so the oracle replays from raw bytes.
    gate("multimodal_audio_roundtrip", Flat,
      Oracles.multimodalAudioRoundtrip)((s, dir) =>
      graft.pipelines.Audio.audioRoundTrip(s, GraphIO.documents(s, dir))),
    gate("multimodal_features", Flat, Oracles.multimodalFeatures)((s, dir) =>
      featureRows(Multimodal.extractFeatures(s,
        Multimodal.withPayload(GraphIO.documents(s, dir))).toDF())),
    gate("multimodal_resize", Flat, Oracles.multimodalResize())((s, dir) =>
      featureRows(Multimodal.extractFeatures(s,
        Multimodal.resizeAll(s,
          Multimodal.withPayload(GraphIO.documents(s, dir)), 4).toDF())
        .toDF())),
    // Character-entropy garbled/binary-content detector.
    gate("text_char_entropy", Flat, Oracles.textCharEntropy)((s, dir) =>
      TextMetrics.charEntropy(GraphIO.documents(s, dir))),
    // CCNet-style unigram NLL quality signal over the corpus's own
    // unigram distribution (micro-nat-exact cross-engine).
    gate("text_unigram_nll", Flat, Oracles.textUnigramNll)((s, dir) =>
      TextMetrics.unigramNll(GraphIO.documents(s, dir))),
    // Order-sensitive companion: conditional bigram surprise — high for
    // common tokens in uncommon order (shuffled/stitched text).
    gate("text_bigram_nll", Flat, Oracles.textBigramNll)((s, dir) =>
      TextMetrics.bigramNll(GraphIO.documents(s, dir))),
    // Model-based filtering: multinomial NB trained on the hash-gated
    // half of the corpus's own labels, scored on the held-out half —
    // micro-nat-exact, so the PREDICTIONS are oracle-gated, not just
    // the scores. Language axis + source/domain axis.
    gate("classify_nb", Flat, Oracles.classifyNaiveBayes("lang"))((s, dir) =>
      Classify.naiveBayes(s, GraphIO.documents(s, dir), "lang")),
    gate("classify_nb_source", Flat,
      Oracles.classifyNaiveBayes("source"))((s, dir) =>
      Classify.naiveBayes(s, GraphIO.documents(s, dir), "source")),
    // Stratified curation: each source keeps its own best quantile.
    gate("sample_quality_cutoff_by_source", Flat,
      Oracles.sampleQualityCutoffBySource())((s, dir) =>
      TextMetrics.qualityCutoffBySource(GraphIO.documents(s, dir))),
    // Vocabulary induction: the tokenizer-training input (tf/df per
    // term, min-count floor, size-capped deterministic ranking).
    gate("text_vocabulary", Flat, Oracles.textVocabulary())((s, dir) =>
      TextMetrics.vocabulary(GraphIO.documents(s, dir))),
    // Cross-source quotation matrix over winnow fingerprints.
    gate("corpus_quote_matrix", Flat, Oracles.corpusQuoteMatrix())((s, dir) =>
      Dedup.sourceQuoteMatrix(s, GraphIO.documents(s, dir))),
    // Asymmetric containment (quote/inclusion detection).
    gate("dedup_containment", Flat,
      Oracles.dedupContainment(threshold = 0.5))((s, dir) =>
      Dedup.containment(GraphIO.documents(s, dir), threshold = 0.5)),
    // Full curation chain: normalize → gate → dedup → temperature draw.
    gate("pipeline_curate", Flat,
      Oracles.pipelineCurate(
        minQuality = 0.5, lang = "en", total = 100, alpha = 0.5))((s, dir) =>
      Dedup.curate(s, GraphIO.documents(s, dir))),
    // Incremental (delta) dedup: odd doc_ids arrive against the even
    // half's fingerprint store.
    gate("dedup_incremental", Flat, Oracles.dedupIncremental)((s, dir) => {
      val d = GraphIO.documents(s, dir)
      Dedup.dedupIncremental(s,
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
    }),
    // Incremental NEAR-dup: odd doc_ids' band signatures probe the
    // even half's persisted LSH index (the minhash analogue of
    // dedup_incremental — O(delta) probes, no corpus self-join).
    // Candidate triage: estimated Jaccard (matching MinHash slots /
    // 16) per LSH candidate pair — the prune-before-exact-verify rung.
    gate("dedup_minhash_estimate", Flat,
      Oracles.dedupMinhashEstimate)((s, dir) =>
      Dedup.minhashEstimate(s, GraphIO.documents(s, dir))),
    gate("dedup_incremental_minhash", Flat,
      Oracles.dedupIncrementalMinhash)((s, dir) => {
      val d = GraphIO.documents(s, dir)
      Dedup.incrementalMinhash(s,
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
    }),
    // Incremental cluster maintenance: clusters(even corpus) + odd
    // delta must equal from-scratch clusters of the full corpus — the
    // gate shares dedup_clusters' oracle verbatim, so the equality IS
    // the check (including new docs bridging previously separate
    // clusters).
    gate("dedup_clusters_incremental", Flat,
      Oracles.dedupClusters)((s, dir) => {
      val d = GraphIO.documents(s, dir)
      Dedup.incrementalClusters(s,
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
    }),
    // TRUE O(delta) cluster maintenance: the even half's band index AND
    // resolved cluster assignments are written to parquet and read
    // back, so the timed path runs NO corpus-sized pass — only delta
    // signatures, the index probe, the delta self-join, and components
    // over star+probe edges. Shares dedup_clusters' from-scratch
    // oracle: the persisted-state path must equal a full rebuild.
    gate("dedup_clusters_incremental_indexed", Flat,
      Oracles.dedupClusters)((s, dir) => {
      val d = GraphIO.documents(s, dir)
      val base = d.filter(col("doc_id") % 2 === 0)
      val tmp = "target/graft-clidx-" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      Dedup.bandTable(s, base)
        .write.mode("overwrite").parquet(tmp + "/band_index")
      ConnectedComponents.clusters(
          Dedup.minhashLsh(s, base, ordered = false))
        .write.mode("overwrite").parquet(tmp + "/clusters_index")
      Dedup.incrementalClustersIndexed(s,
        s.read.parquet(tmp + "/band_index"),
        s.read.parquet(tmp + "/clusters_index"),
        d.filter(col("doc_id") % 2 === 1))
    }),
    // Band-index lifecycle proof: build gen-0 over a corpus where every
    // 10th document carries STALE text, append the true versions as
    // gen 1, compact — the result must equal a from-scratch rebuild
    // over the final corpus, which is exactly what the DuckDB oracle
    // computes. Retirement is load-bearing: if compaction failed to
    // drop the superseded signatures, the stale (different-text) sigs
    // would survive and hash-mismatch the rebuild.
    gate("band_index_lifecycle", Flat, Oracles.bandIndexLifecycle)((s, dir) => {
      val d = GraphIO.documents(s, dir)
      val updated = d.filter(col("doc_id") % 10 === 0)
      val stale = updated
        .withColumn("text", concat(lit("STALE "), col("text")))
      val gen0 = Dedup.bandIndexEntries(s,
        d.filter(col("doc_id") % 10 =!= 0).unionByName(stale), gen = 0)
      val idx = Dedup.bandIndexAppend(gen0,
        Dedup.bandIndexEntries(s, updated, gen = 1))
      Dedup.bandIndexCompact(idx).orderBy(col("doc_id"), col("band"))
    }),
    // Context-window chunking with stride (doc → embedding inputs).
    gate("text_chunks", Flat,
      Oracles.textChunks(size = 32, stride = 16))((s, dir) =>
      Packing.chunkTokens(GraphIO.documents(s, dir), size = 32, stride = 16)),
    // Winnowing (MOSS) fingerprint selection over word 3-grams.
    gate("dedup_winnow", Flat, Oracles.dedupWinnow(k = 3, w = 4))((s, dir) =>
      Dedup.winnow(s, GraphIO.documents(s, dir), k = 3, w = 4)),
    // Z-order (Morton) value for the two-dimensional write layout.
    gate("layout_zorder", Flat, Oracles.layoutZorder(bits = 8))((s, dir) =>
      GraphIO.documents(s, dir).select(col("doc_id"),
        graft.pipelines.Layout.zValue(col("doc_id"), col("n_chars"), 8)
          .as("z"))
        .orderBy(col("doc_id"))),
    // Per-source best-k curation by the composite quality score.
    gate("sample_topk_quality", Flat,
      Oracles.sampleTopkQuality(k = 10))((s, dir) =>
      Sampling.topKPerGroup(GraphIO.documents(s, dir), "source", "doc_id",
        TF.qualityScore(col("text")), k = 10)),
    // Same result via the k-bounded TopKAgg (no full-group sort) —
    // shares the window formulation's oracle, proving partial-agg
    // equivalence under the gate.
    gate("sample_topk_quality_agg", Flat,
      Oracles.sampleTopkQuality(k = 10))((s, dir) =>
      Sampling.topKPerGroupAgg(s, GraphIO.documents(s, dir), "source",
        "doc_id", TF.qualityScore(col("text")), k = 10)),
    // Dynamic-threshold curation: keep the best quality quartile.
    gate("sample_quality_cutoff", Flat,
      Oracles.sampleQualityCutoff())((s, dir) =>
      TextMetrics.qualityCutoff(GraphIO.documents(s, dir))),
    // Efraimidis–Spirakis weighted draw, quality-weighted.
    gate("sample_weighted", Flat, Oracles.sampleWeighted(n = 50))((s, dir) =>
      Sampling.weightedSample(s, GraphIO.documents(s, dir), "doc_id",
        TF.qualityScore(col("text")) + lit(0.1), n = 50)),
    // Temperature-scaled (alpha=0.5) mixture draw over sources.
    gate("sample_temperature", Flat,
      Oracles.sampleTemperature(total = 200, alpha = 0.5))((s, dir) =>
      Sampling.temperatureSample(s, GraphIO.documents(s, dir),
        "source", "doc_id", total = 200, alpha = 0.5)),
    // Token-budget curation: per source, the maximal quality-first
    // prefix whose running token total stays within the budget — the
    // selection a mixture builder runs once per-source budgets are set.
    gate("sample_token_budget", Flat,
      Oracles.sampleTokenBudget(1500L))((s, dir) =>
      Sampling.tokenBudgetPerGroup(GraphIO.documents(s, dir), "source",
        "doc_id", TF.qualityScore(col("text")),
        TF.tokenCount(col("text")), budget = 1500L)),
    // Skew-proof twin (r13 missing #3): the same selection from a
    // range-partitioned distributed prefix scan — bounded per-task
    // sorts however hot one source gets (a hash-salt cannot decompose
    // a prefix sum; range slices preserve the global order). Gated on
    // the UNCHANGED window-formulation oracle — the gate IS the
    // output-equality proof.
    gate("sample_token_budget_sliced", Flat,
      Oracles.sampleTokenBudget(1500L))((s, dir) =>
      Sampling.tokenBudgetPerGroupSliced(GraphIO.documents(s, dir),
        "source", "doc_id", TF.qualityScore(col("text")),
        TF.tokenCount(col("text")), budget = 1500L)),
    // Cross-source canonical pick over near-dup clusters: per cluster
    // keep the highest-priority source's member (doc_id tiebreak) —
    // dedup across datasets with a trust order, as a map-side-collapsing
    // hash aggregate (min over a (-prio, doc_id) struct), no per-cluster
    // sort. Priority here derives from the source suffix (mod 5, so
    // ties exercise the tiebreak); any integer expression works.
    // Contract: sources are `src<digits>` — the UNBOUNDED substring
    // from position 4 (matching the oracle's substr(source, 4) exactly;
    // the old 16-char cap silently truncated longer suffixes, ADVICE
    // r13) casts cleanly. A non-numeric suffix is null prio on the
    // Spark side but a hard CAST error in DuckDB — outside the
    // contract, the engines intentionally diverge loudly, not
    // silently.
    gate("dedup_canonical_priority", Flat,
      Oracles.dedupCanonicalPriority(
        "CAST(substr(source, 4) AS INT) % 5"))((s, dir) =>
      Dedup.canonicalByPriority(s, GraphIO.documents(s, dir),
        expr("substring(source, 4)").cast("int") % 5)),
    // Indexed twin: survivors re-picked from PERSISTED cluster
    // assignments (a clusters_index output, round-tripped through
    // parquet in-gate) — the trust-policy-change path, which re-picks
    // canonicals WITHOUT re-running the corpus-sized dedup. Shares the
    // from-scratch oracle verbatim.
    gate("dedup_canonical_priority_indexed", Flat,
      Oracles.dedupCanonicalPriority(
        "CAST(substr(source, 4) AS INT) % 5"))((s, dir) => {
      val base = "target/graft-canidx-" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      val docs = GraphIO.documents(s, dir)
      ConnectedComponents.clusters(Dedup.minhashLsh(s, docs,
          ordered = false))
        .write.mode("overwrite").parquet(base)
      Dedup.canonicalByPriorityIndexed(docs, s.read.parquet(base),
        expr("substring(source, 4)").cast("int") % 5)
    }),
    // Count-Min point estimates over corpus tokens: probe terms plus
    // one absent probe (exercises the empty-cell → 0 path).
    gate("corpus_token_cms", Flat,
      Oracles.corpusTokenCms(CmsProbes))((s, dir) =>
      Sketches.cmsCounts(s,
        GraphIO.documents(s, dir)
          .select(explode(TF.tokens(col("text"))).as("tok")),
        col("tok"), CmsProbes)),
    // Exact heavy hitters: Misra-Gries bounded candidate pass + exact
    // recount of the ≤ k candidates — the output is exactly the tokens
    // with frequency > n/(k+1), merge-order-independent.
    gate("corpus_heavy_tokens", Flat, Oracles.corpusHeavyTokens())((s, dir) =>
      Sketches.heavyHitters(s,
        GraphIO.documents(s, dir)
          .select(explode(TF.tokens(col("text"))).as("tok")),
        col("tok"))),
    // STREAMING twin of the CMS cell grid: the same tokens arrive via
    // readStream (continuous-ingest shape), the sketch aggregates in
    // complete mode — state is the bounded d×w grid regardless of
    // stream length — and the AvailableNow run drains the parquet as
    // one finite stream. The oracle is the batch cells SQL: streaming
    // and batch must produce the identical grid.
    gate("stream_token_cms", Flat, Oracles.streamTokenCms)((s, dir) => {
      val schema = GraphIO.documents(s, dir).schema
      // real directory-shaped file-stream source (GraphIO.streamingDir
      // byte-copies a single-file testdata table into a directory once;
      // directory-shaped corpora stream in place)
      Drain(s, GraphIO.documents(s, dir), "complete") { ds =>
        val docs = ds.readStream.schema(schema)
          .parquet(GraphIO.streamingDir(dir, "documents"))
        Sketches.cmsSketch(ds,
          docs.select(explode(TF.tokens(col("text"))).as("tok")), col("tok"))
      }.orderBy(col("r"), col("bucket"))
    }),
    // STREAMING sessionization twin: the explicit-state
    // flatMapGroupsWithState sessionizer (bounded state: one open
    // session per watermark-active user) drains the events directory
    // as one AvailableNow run. ts is µs-floored BEFORE the stream so
    // stream nanos arithmetic and the µs-resolution oracle see the
    // same instants. Oracle: the batch twin restricted to the sessions
    // a finite drain actually closes (see Oracles.streamSessionize).
    gate("stream_sessionize", Flat, Oracles.streamSessionize())((s, dir) =>
      sessionRows(Drain(s, GraphIO.events(s, dir), "append") { ds =>
        EventPipelines.sessionizeStream(ds, eventsStreamUs(ds, dir),
          watermarkDelay = "0 seconds").toDF()
      })),
    // Arbitrary-state-API sessionization twin: the SAME session
    // semantics on Spark 4's transformWithState (StatefulProcessor +
    // explicit event-time timers) — which only runs on the RocksDB
    // state store provider, so this gate simultaneously proves the
    // drains are backend-portable (off-heap state, the 100 TB
    // deployment default). Passes stream_sessionize's oracle
    // UNCHANGED.
    gate("stream_sessionize_tws", Flat,
      Oracles.streamSessionize())((s, dir) =>
      sessionRows(Drain(s, GraphIO.events(s, dir), "append") { ds =>
        Tws.sessionizeStreamTws(ds, eventsStreamUs(ds, dir),
          watermarkDelay = "0 seconds").toDF()
      })),
    // STREAMING tumbling-window stats: watermark + hourly window in
    // complete mode (state = windows × types, bounded) drained
    // AvailableNow — the canonical streaming aggregation, gated
    // against the same hour-bucket arithmetic in DuckDB.
    gate("stream_window", Flat, Oracles.streamWindow)((s, dir) =>
      Drain(s, GraphIO.events(s, dir), "complete") { ds =>
        EventPipelines.windowedStats(eventsStreamTs(ds, dir))
      }.select(col("window.start").cast("long").as("hour_ts"),
          col("event_type"), col("n"), round(col("total"), 6).as("total"))
        .orderBy(col("hour_ts"), col("event_type"))),
    // STREAMING running totals: per-event emission from one
    // accumulator double per user; on the single-batch AvailableNow
    // drain the fold order equals the batch window's frame order, so
    // the batch oracle passes unchanged (no closed-set restriction —
    // every event emits at arrival, nothing waits on a watermark).
    // Across batches the per-group (ts, event_id) sort is per-batch, not
    // global, so the drain asserts one batch.
    gate("stream_running_totals", Flat,
      Oracles.eventsRunningTotals())((s, dir) =>
      Drain(s, GraphIO.events(s, dir), "append", singleBatch = true) { ds =>
        EventPipelines.runningTotalsStream(ds, GraphIO.eventsStream(ds, dir))
          .toDF()
      }.orderBy(col("user_id"), col("event_id"))),
    // CONCURRENT streaming drains: two structured-streaming queries —
    // the complete-mode windowed rollup and the append-mode
    // flatMapGroupsWithState running-totals fold — run AT THE SAME
    // TIME in one SparkSession over the same events source; both are
    // started before either is awaited. Composition evidence the
    // per-drain gates can't give: the queries share the session's
    // scheduler, memory, and state-store configuration, which is how
    // any real pipeline runs its drains. The gate value is the tagged
    // union of both outputs at full row fidelity, so the oracle (both
    // batch oracles, union'd under the same tags) catches cross-drain
    // interference in EITHER drain.
    gate("stream_two_drains", Flat, Oracles.streamTwoDrains())((s, dir) => {
      // the totals leg has stream_running_totals' single-batch
      // fold-order dependence; the window leg is complete-mode
      // (batch-count-insensitive), no guard needed there
      val Seq(win, totals) = Drain.concurrently(s, GraphIO.events(s, dir),
        Drain.Leg("complete",
          ds => EventPipelines.windowedStats(eventsStreamTs(ds, dir))),
        Drain.Leg("append", ds => EventPipelines
          .runningTotalsStream(ds, GraphIO.eventsStream(ds, dir)).toDF(),
          singleBatch = true))
      val w = win.select(lit("window").as("drain"),
        concat(col("window.start").cast("long").cast("string"), lit("|"),
          col("event_type")).as("key"),
        col("n"), round(col("total"), 6).as("v"))
      val t = totals.select(lit("totals").as("drain"),
        concat(col("user_id").cast("string"), lit("|"),
          col("event_id").cast("string")).as("key"),
        col("running_cents").as("n"), lit(0.0).as("v"))
      w.unionAll(t).orderBy(col("drain"), col("key"))
    }),
    // CHECKPOINTED RESTART, running-totals fold: drain the first half
    // of the events (by time) to a parquet sink with a
    // checkpointLocation, STOP the query, land the second half as a new
    // file, and resume with a brand-new query from the same checkpoint
    // ([[graft.streaming.Restart.twoPhaseDrain]]). The restored
    // accumulator state must continue the fold exactly where the
    // one-shot drain would be — the gate hashes the combined sink
    // against the UNCHANGED batch running-totals oracle, so a state
    // round-trip error of even one cent fails. Each phase is admitted
    // as 4 time-ordered micro-batches (maxFilesPerTrigger=1 over
    // (ts, event_id)-range slices), so the fold consumes every
    // per-user sequence in exact (ts, event_id) order across BOTH
    // batch and phase boundaries — the general resumed-drain shape,
    // not the r14 one-batch-per-phase crutch.
    gate("stream_restart_totals", Flat,
      Oracles.eventsRunningTotals())((s, dir) =>
      Restart.twoPhaseDrain(s, GraphIO.events(s, dir), "totals", dir,
          src => EventPipelines.runningTotalsStream(s, src).toDF())
        .orderBy(col("user_id"), col("event_id"))),
    // CHECKPOINTED RESTART across a CHANGED OPERATOR (VERDICT r16 next
    // #8) — the remaining deployment shape: code EVOLVES between the
    // stop and the resume. Structured Streaming's recovery semantics
    // allow stateless filters/projections to change UPSTREAM of an
    // unchanged stateful operator (the checkpoint pins the stateful-
    // operator layout and state schema, not the stateless prefix); the
    // gate deploys exactly that change — phase 2 restarts the
    // running-totals fold from phase 1's checkpoint with an
    // `event_id % 2 = 0` filter newly added upstream. The restored
    // accumulators must CONTINUE over the filtered phase-2 sequence:
    // the oracle folds phase-1 events (ts <= the corpus mid-split)
    // unfiltered and phase-2 events filtered, in the same per-user
    // (ts, event_id) order — a skipped odd event that still bumped a
    // total, or a restart that silently rebuilt state from scratch,
    // is a loud hash mismatch.
    gate("stream_restart_evolved", Flat,
      Oracles.eventsRunningTotalsEvolved())((s, dir) =>
      Restart.twoPhaseDrain(s, GraphIO.events(s, dir), "evolved", dir,
          src => EventPipelines.runningTotalsStream(s, src).toDF(),
          pipeline2 = Some(src => EventPipelines.runningTotalsStream(s,
            src.filter(col("event_id") % 2 === 0)).toDF()))
        .orderBy(col("user_id"), col("event_id"))),
    // CHECKPOINTED RESTART, sessionization: the harder restore — open
    // sessions (start/last/count) and their event-time timeout
    // deadlines live in the state store across the stop, and the
    // restored WATERMARK gates which of them may flush. After the
    // restart, phase-2 events must extend/close phase-1's open sessions
    // exactly as a single drain would — and with 4 time-ordered
    // micro-batches per phase, MID-DRAIN watermark advances flush
    // sessions between batches too: a session any batch times out is
    // one the single drain would have closed with identical content
    // (any later event of that user lies beyond that batch's
    // watermark, hence beyond the session's gap deadline).
    // Shares the single-drain stream_sessionize oracle verbatim; ts is
    // µs-floored before the stream like that gate.
    gate("stream_restart_sessionize", Flat,
      Oracles.streamSessionize())((s, dir) =>
      sessionRows(Restart.twoPhaseDrain(s, eventsUs(s, dir), "sessionize",
        dir, src => EventPipelines.sessionizeStream(s, src,
          watermarkDelay = "0 seconds").toDF()))),
    // CHECKPOINTED RESTART under CHANGED PARALLELISM: the one knob a
    // deployment must not have to freeze across restarts. Spark pins
    // the stateful operators' shuffle-partition count in the
    // checkpoint's offset-log metadata and applies the CHECKPOINTED
    // value on resume (`OffsetSeqMetadata.relevantSQLConfs`), so a
    // restart under a resized session must WORK — this gate flips
    // the drain session's `spark.sql.shuffle.partitions` between the
    // two drains and hashes the combined sink against the same
    // never-stopped oracle. If the engine ever read the session value
    // instead, phase 2 would route keys to partitions whose restored
    // state lives elsewhere — lost accumulators, wrong totals, loud
    // hash mismatch.
    gate("stream_restart_repartitioned", Flat,
      Oracles.eventsRunningTotals())((s, dir) =>
      Restart.twoPhaseDrain(s, GraphIO.events(s, dir), "repart", dir,
          src => EventPipelines.runningTotalsStream(s, src).toDF(),
          betweenPhases = resized(s))
        .orderBy(col("user_id"), col("event_id"))),
    // CHECKPOINTED RESTART on the transformWithState/RocksDB path:
    // the deployment-grade state backend's restart is where RocksDB
    // CHANGELOG CHECKPOINTING actually differs from the HDFS-backed
    // default — open sessions AND their registered event-time TIMERS
    // must come back from the changelog across the stop, and phase-2
    // events must extend/close them exactly as the never-stopped
    // drain would. Same µs-floor, same unchanged single-drain
    // stream_sessionize oracle as the fMGWS restart gate.
    gate("stream_restart_tws", Flat, Oracles.streamSessionize())((s, dir) =>
      sessionRows(Restart.twoPhaseDrain(s, eventsUs(s, dir), "tws", dir,
        src => Tws.sessionizeStreamTws(s, src,
          watermarkDelay = "0 seconds").toDF()))),
    // ...and the same restart under CHANGED PARALLELISM: RocksDB
    // instances are per state-store partition, so the checkpoint-
    // pinned partition count is what lets a resized session reopen
    // the right RocksDB instances (timers included) on resume.
    gate("stream_restart_tws_repartitioned", Flat,
      Oracles.streamSessionize())((s, dir) =>
      sessionRows(Restart.twoPhaseDrain(s, eventsUs(s, dir), "twsrepart",
        dir, src => Tws.sessionizeStreamTws(s, src,
          watermarkDelay = "0 seconds").toDF(),
        betweenPhases = resized(s)))),
    // STREAMING stream-stream interval join twin of events_range_join:
    // both sides watermarked, event-time-bounded join condition → Spark
    // derives a state-retention horizon for both buffers. The single
    // AvailableNow drain sees every pair co-resident in one batch, so
    // the emitted set is exactly the batch interval join — the oracle is
    // the same range predicate in DuckDB at µs resolution (ts is
    // µs-floored going into the stream, like the batch twin's µs floor).
    gate("stream_range_join", Flat, Oracles.streamRangeJoin())((s, dir) =>
      Drain(s, GraphIO.events(s, dir), "append", singleBatch = true) { ds =>
        EventPipelines.rangeJoinStream(eventsStreamTs(ds, dir))
      }.select(col("err_id"), col("click_id"),
          (unix_micros(col("err_ts")) - unix_micros(col("click_ts")))
            .as("lag_us"))
        .orderBy(col("err_id"), col("click_id"))),
    // STREAMING exact dedup: dropDuplicatesWithinWatermark keeps one
    // row per (user_id, event_type) with state bounded by the watermark
    // horizon. Which payload row survives depends on intra-batch arrival
    // order, so the gate projects only the key columns — the emitted KEY
    // set on a finite drain is exactly the distinct pairs, which is what
    // the DuckDB oracle checks.
    gate("stream_dedup", Flat, Oracles.streamDedup)((s, dir) =>
      Drain(s, GraphIO.events(s, dir), "append", singleBatch = true) { ds =>
        EventPipelines.streamingDedup(eventsStreamTs(ds, dir))
      }.select(col("user_id"), col("event_type"))
        .orderBy(col("user_id"), col("event_type"))),
    // STREAMING percentiles: the integer-cents histogram aggregates in
    // complete mode (state = the VALUE DOMAIN, the same bound that
    // makes the batch formulation spill-proof — the histogram IS the
    // streaming quantile state), the drain hands the counted histogram
    // to the shared interpolation tail, and the batch percentiles
    // oracle passes UNCHANGED.
    gate("stream_percentiles", Flat, Oracles.eventsPercentiles)((s, dir) => {
      val hist = Drain(s, GraphIO.events(s, dir), "complete") { ds =>
        GraphIO.eventsStream(ds, dir).select(col("event_type"),
            round(col("value") * lit(100.0)).cast("long").as("c"))
          .groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
      }
      val p = graft.pipelines.Quantiles.contFromCounts(hist,
        Seq("event_type"), "c", "cnt", Seq(0.5, 0.9, 0.99))
      p.groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          round(max(when(col("q") === 0.5, col("p"))), 6).as("p50"),
          round(max(when(col("q") === 0.9, col("p"))), 6).as("p90"),
          round(max(when(col("q") === 0.99, col("p"))), 6).as("p99"))
        .orderBy(col("event_type"))
    }),
    // STREAMING percentiles, BOUNDED-STATE twin: the fixed-bin sketch
    // aggregator ([[graft.functions.FixedBinHistogramAgg]]) replaces
    // the exact value histogram — state is O(nbins) int64s per
    // event_type REGARDLESS of how many distinct values the stream
    // carries (the exact twin's state is value-domain-bounded, a
    // property only integer-cents-like domains enjoy). Exact-vs-approx
    // pairing, the ANN-recall-audit pattern: the gate emits the sketch
    // estimates NEXT TO the exact percentiles plus the observed
    // max-abs error, and asserts the documented width/2 bound — all
    // recomputed independently by the DuckDB oracle.
    gate("stream_percentiles_sketch", Flat,
      Oracles.eventsPercentilesSketch(
        PctSketchBins._1, PctSketchBins._2, PctSketchBins._3))((s, dir) => {
      val (lo, width, nbins) = PctSketchBins
      val sketch =
        graft.functions.FixedBinHistogramAgg.asUdaf(lo, width, nbins)
      // NaN filtered next to NULL on BOTH legs: the aggregator skips
      // NaN (no meaningful bin), so the exact twin below must not count
      // it either — and the DuckDB oracle's least/greatest clamp would
      // place NaN differently anyway (ADVICE r13).
      val bins = Drain(s, GraphIO.events(s, dir), "complete") { ds =>
        GraphIO.eventsStream(ds, dir)
          .filter(col("value").isNotNull && !isnan(col("value")))
          .groupBy(col("event_type")).agg(sketch(col("value")).as("bins"))
      }
      val binned = bins
        .select(col("event_type"),
          posexplode(col("bins")).as(Seq("bin", "cnt")))
        .filter(col("cnt") > 0)
        .select(col("event_type"),
          graft.pipelines.Quantiles.binMidpoint(col("bin"), lo, width)
            .as("m"),
          col("cnt"))
      val qs = Seq(0.5, 0.9, 0.99)
      val est = graft.pipelines.Quantiles.contFromCounts(binned,
        Seq("event_type"), "m", "cnt", qs)
      val exactHist = GraphIO.events(s, dir)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("cnt"))
      val exact = graft.pipelines.Quantiles.contFromCounts(exactHist,
        Seq("event_type"), "value", "cnt", qs)
      def wide(df: DataFrame, tag: String) = df.groupBy(col("event_type"))
        .agg(max(col("n")).as(s"n_$tag"),
          round(max(when(col("q") === 0.5, col("p"))), 6).as(s"p50_$tag"),
          round(max(when(col("q") === 0.9, col("p"))), 6).as(s"p90_$tag"),
          round(max(when(col("q") === 0.99, col("p"))), 6).as(s"p99_$tag"))
      val joined = wide(est, "sketch")
        .join(wide(exact, "exact"), Seq("event_type"))
      val errs = Seq("p50", "p90", "p99").map(p =>
        abs(col(s"${p}_sketch") - col(s"${p}_exact")))
      joined.select(col("event_type"), col("n_sketch").as("n"),
          col("p50_sketch"), col("p90_sketch"), col("p99_sketch"),
          col("p50_exact"), col("p90_exact"), col("p99_exact"),
          round(greatest(errs: _*), 6).as("err_max"))
        .withColumn("within_bound",
          when(col("err_max") <= lit(width / 2), 1).otherwise(0))
        .orderBy(col("event_type"))
    }),
    // STREAMING percentiles, UNBOUNDED-DOMAIN twin — the quantile
    // ladder's last rung: Spark's own Greenwald-Khanna summary
    // (percentile_approx, a TypedImperativeAggregate) as the streaming
    // state — O(1/ε·log εn) per group over ANY orderable domain, no
    // schema knowledge needed (the fixed-bin sketch needs [lo, hi)).
    // The GK estimate value is arrival-order dependent, so the gate
    // emits the GUARANTEE instead: each drained estimate's true rank
    // bracket is recomputed against the batch corpus
    // (Quantiles.approxRankAudit) and checked against the ε bound; the
    // DuckDB oracle supplies the (event_type × q) universe, n, and the
    // expected all-1 flags, so a bound violation hash-mismatches.
    gate("stream_percentiles_gk", Flat,
      Oracles.eventsPercentilesGk(Seq(0.5, 0.9, 0.99)))((s, dir) => {
      val acc = 1000 // ε = 1/1000 → rank error ≤ n/1000 + 1
      val qs = Seq(0.5, 0.9, 0.99)
      // drain-width note: the GK estimate is merge-order (hence
      // width-) dependent, but the gate's OUTPUT is the ε-bound audit
      // over the (event_type × q) universe — a theorem for any merge
      // order, so the emitted flags are width-independent.
      val est = Drain(s, GraphIO.events(s, dir), "complete") { ds =>
        GraphIO.eventsStream(ds, dir).filter(col("value").isNotNull)
          .groupBy(col("event_type"))
          .agg(percentile_approx(col("value"), array(qs.map(lit): _*),
            lit(acc)).as("est"))
      }.select(col("event_type"), posexplode(col("est")).as(Seq("qi", "est")))
      graft.pipelines.Quantiles.approxRankAudit(
        GraphIO.events(s, dir), "event_type", col("value"), est, qs, acc)
    }),
    // STREAM → CURATE composition — the first end-to-end
    // ingest-to-training-set path: a documents INGEST stream (the
    // corpus plus re-ingested copies of every 3rd doc under shifted
    // ids — re-crawls/duplicate submissions) flows through a
    // WATERMARKED streaming dedup keyed on the normalized text (state
    // = keys inside the horizon; at 100 TB key on the wide fingerprint
    // instead of the text), and the deduplicated classes feed the
    // BATCH near-dup canonical pick. The STREAM's contract is the
    // KEY SET — each normalized-text class emitted exactly once within
    // the horizon (asserted below; which payload row carries the key
    // out is intra-batch arrival order, which is not a curation
    // policy) — while SURVIVOR IDENTITY is materialized batch-side by
    // the min-doc_id rule, exactly what the DuckDB oracle replays:
    // min-id survivor per class, then the canonical chain over that
    // subset.
    gate("stream_ingest_curate", Flat,
      Oracles.streamIngestCurate("CAST(substr(source, 4) AS INT) % 5",
        reShift = 1000000000L, everyK = 3))((s, dir) => {
      val reShift = 1000000000L
      val docs = GraphIO.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val ingest = docs.unionByName(
        docs.filter(col("doc_id") % 3 === 0)
          .withColumn("doc_id", col("doc_id") + lit(reShift)))
      val srcDir = "target/graft-ingest-" + dir.replaceAll("[^a-zA-Z0-9]", "_")
      ingest.coalesce(1).write.mode("overwrite").parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema
      val drained = Drain(s, GraphIO.documents(s, dir), "append",
          singleBatch = true) { ds =>
        ds.readStream.schema(schema).parquet(srcDir)
          .withColumn("norm_text", TF.normalizeText(ds, col("text")))
          .withColumn("event_time", timestamp_micros(col("doc_id")))
          .withWatermark("event_time", "1 hour")
          .dropDuplicatesWithinWatermark("norm_text")
      }
      // The batch tail re-reads the LANDED source instead of replaying
      // the union-and-shift plan (r20, guide §1.2): `ingest` was just
      // written to srcDir verbatim, and the tail referenced the
      // in-memory plan five times (three conservation counts, the
      // class table, the survivor join) — each reference re-running
      // the normalize/union work. One parquet scan feeds everything.
      val landed = s.read.parquet(srcDir)
      val drainedKeys = drained.select(col("norm_text"))
      // per-class min-id survivors — the deterministic identity rule;
      // materialized once (tiny: one row per class), consumed by the
      // three conservation counts below AND the returned survivor join
      // (released by the sink's releaseAll like every query checkpoint)
      val expected = Checkpoints.materialize(landed
        .select(TF.normalizeText(s, col("text")).as("norm_text"),
          col("doc_id"))
        .groupBy(col("norm_text")).agg(min(col("doc_id")).as("doc_id")))
      // the streaming dedup's contract, asserted loudly: the emitted
      // key set IS the class set, each key exactly once (a dropped or
      // duplicated key here means broken dedup state, not noise)
      val extra = drainedKeys
        .join(expected.select(col("norm_text")), Seq("norm_text"),
          "left_anti").count()
      val missing = expected.select(col("norm_text"))
        .join(drainedKeys, Seq("norm_text"), "left_anti").count()
      val dupEmits = drainedKeys.count() - expected.count()
      require(extra == 0 && missing == 0 && dupEmits == 0,
        s"stream_ingest_curate: streamed key set diverges from the " +
          s"normalized-text classes ($extra unknown, $missing missing, " +
          s"$dupEmits duplicate emissions) — streaming dedup state is " +
          "broken; fix before trusting the oracle")
      Dedup.canonicalByPriority(s,
        landed.join(expected.select(col("doc_id")), Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("text")),
        expr("substring(source, 4)").cast("int") % 5)
    }),
    // ---- retrieval: keyword, hybrid sparse+dense, inverted index ----
    gate("search_bm25", Flat, Oracles.bm25Search(SearchTerms))((s, dir) =>
      Retrieval.bm25(GraphIO.documents(s, dir), SearchTerms)),
    gate("search_hybrid_rrf", Flat,
      Oracles.hybridRrf(SearchTerms, queryVecId = 0L))((s, dir) =>
      Retrieval.hybridRrf(GraphIO.documents(s, dir),
        GraphIO.embeddings(s, dir), SearchTerms, queryVecId = 0L)),
    gate("text_inverted_index", Flat, Oracles.invertedIndex(2, 400))((s, dir) =>
      Retrieval.invertedIndex(GraphIO.documents(s, dir),
        minDf = 2, maxDf = 400)))

  // a repeated name would shadow a gate in the two views below
  require(gates.map(_.name).distinct.size == gates.size,
    "duplicate gate names: " + gates.groupBy(_.name).collect {
      case (n, gs) if gs.size > 1 => n }.mkString(", "))

  /** Each gate, by name. */
  def byName: Map[String, Gate] = gates.map(g => g.name -> g).toMap

  /** Each gate's Spark query, by gate name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.query).toMap

  /** For each gate, equivalent ANSI SQL runnable by DuckDB on the same
    * parquet tables. */
  def oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracle()).toMap

  /** sfDir-scoped table prefix for the bucketed layout, so one JVM
    * touching several scale factors can never read a stale layout. */
  private def bucketedPrefix(s: SparkSession, dir: String): String =
    "graft_bucketed_" + dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Oracle-aligned projection of [[Multimodal.extractFeatures]] rows:
    * 6-decimal rounding on the float features, histogram exploded to
    * (pos, hist_v) scalar rows — the driver's comparator sorts result
    * columns with pandas, which cannot order an array-typed column. The
    * native array-valued API ([[Multimodal.extractFeatures]]) is
    * unchanged. */
  private def featureRows(feats: DataFrame): DataFrame =
    feats.select(col("doc_id"), col("n_bytes"),
      round(col("byte_mean"), 6).as("byte_mean"),
      posexplode(transform(col("hist"), v => round(v, 6)))
        .as(Seq("pos", "hist_v")))
      .select(col("doc_id"), col("n_bytes"), col("byte_mean"),
        col("pos").cast("long").as("pos"), col("hist_v"))
      .orderBy(col("doc_id"), col("pos"))
}
