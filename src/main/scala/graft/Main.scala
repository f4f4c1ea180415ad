package graft

import graft.operators._
import graft.pipelines.{Classify, Dedup, Packing, Retrieval, Sampling,
  Similarity, Sketches, TextMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI mirroring the reference's 14 driver scripts, so a reference user
  * can run every query they run today against the same CSV layout —
  * plus `dedup` / `ann` / `split` / `shuffle` / `pack` verbs that drive
  * the LLM-data-pipeline surface over parquet paths without sbt console:
  *
  * {{{
  * runMain graft.Main dedup <docs.parquet> <out_dir> [exact|near|clean|spans|spans_occ|spans_clean] [k]
  * runMain graft.Main classify <docs.parquet> <out_dir> [label_col] [train_pct]
  * runMain graft.Main ann <embeddings.parquet> <out_dir> [exact|lsh|ivf|q8|q8ivf] [nq] [k]
  * runMain graft.Main split <in.parquet> <out_dir> [id_col] [train‰ val‰ test‰]
  * runMain graft.Main shuffle <in.parquet> <out_dir> [id_col]
  * runMain graft.Main pack <docs.parquet> <out_dir> [capacity] [buckets] [id_col] [text_col]
  * runMain graft.Main kmv <in.parquet> <out_dir> [group_col] [value_col] [pairs]
  * }}}
  *
  * {{{
  * runMain graft.Main base_hits [num_iter] [nodes_csv] [edges_csv]
  * runMain graft.Main weighted_hits [num_iter] [weight_col] [nodes] [edges]
  * runMain graft.Main random_teleport_hits [num_iter] [beta] [nodes] [edges]
  * runMain graft.Main topic_specific_hits <topic> [num_iter] [beta] [nodes] [edges]
  * runMain graft.Main topic_exclusive_hits <topic> [num_iter] [nodes] [edges]
  * runMain graft.Main query_dependent_hits <topic> [num_iter] [nodes] [edges]
  * runMain graft.Main base_salsa [nodes] [edges]
  * runMain graft.Main base_salsa_2 [num_iter] [nodes] [edges]
  * runMain graft.Main weighted_salsa [weight_col] [nodes] [edges]
  * runMain graft.Main random_teleport_salsa [num_iter] [beta] [nodes] [edges]
  * runMain graft.Main topic_specific_salsa <topic> [num_iter] [beta] [nodes] [edges]
  * runMain graft.Main query_dependent_salsa <topic> [nodes] [edges]
  * runMain graft.Main pagerank [num_iter] [damping] [nodes] [edges]
  * runMain graft.Main hits_converged [tol] [max_iter] [nodes] [edges]
  * runMain graft.Main salsa_converged [tol] [max_iter] [nodes] [edges]
  * runMain graft.Main pagerank_converged [damping] [tol] [max_iter] [nodes] [edges]
  * runMain graft.Main list_topics [nodes]
  * }}}
  *
  * Defaults (8 iterations, beta 0.8, weight column `mrho:double`, output
  * under ./outputs/) follow the reference scripts; sinks are the same
  * sorted single-file tuple-text layout (reference `src/base_hits.py:66-75`).
  */
object Main {

  private val DefaultNodes = "../data/nodes_elab.csv"
  private val DefaultEdges = "../data/edges_elab.csv"

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(1) }
    val spark = Sessions.local(Sessions.defaultCpus, s"graft-${args(0)}")
    spark.sparkContext.setLogLevel("WARN")
    // Record the exit code and exit AFTER the finally: System.exit
    // inside the catch would skip spark.stop() (JVM shutdown hooks are
    // the only cleanup that still runs), leaking the session on bad
    // CLI input.
    var exitCode = 0
    try run(spark, args(0), args.drop(1))
    catch {
      case CliArgError(msg) =>
        System.err.println(msg); usage(); exitCode = 2
    }
    finally spark.stop()
    if (exitCode != 0) sys.exit(exitCode)
  }

  /** Bad CLI input — caught in [[main]] (usage + exit 2); surfaced as a
    * plain exception from [[run]] so specs can exercise the error paths
    * without killing the JVM. */
  private[graft] final case class CliArgError(msg: String)
    extends IllegalArgumentException(msg)

  private def usage(): Unit =
    System.err.println("Usage: graft.Main <verb> [args] — kernels: " +
      "base_hits weighted_hits random_teleport_hits topic_specific_hits " +
      "topic_exclusive_hits query_dependent_hits base_salsa base_salsa_2 " +
      "weighted_salsa random_teleport_salsa topic_specific_salsa " +
      "query_dependent_salsa list_topics draw_graph " +
      "pagerank [num_iter] [damping], triangles [nodes_csv] [edges_csv], " +
      "link_predict [k] [nodes_csv] [edges_csv], " +
      "label_prop [iters] [nodes_csv] [edges_csv], " +
      "kcore [k] [nodes_csv] [edges_csv], " +
      "triangles_weighted [nodes_csv] [edges_csv], " +
      "triangles_approx [p_permille] [nodes_csv] [edges_csv], " +
      "kcore_weighted [min_strength] [nodes_csv] [edges_csv], " +
      "label_prop_weighted [iters] [nodes_csv] [edges_csv], " +
      "link_predict_weighted [k] [nodes_csv] [edges_csv], " +
      "link_predict_weighted_indexed <index_dir> [k], " +
      "structural_index <out_dir> [nodes_csv] [edges_csv], " +
      "triangles_indexed <index_dir>, " +
      "link_predict_indexed <index_dir> [k], " +
      "kcore_indexed <index_dir> [k], " +
      "label_prop_indexed <index_dir> [iters] [nodes_csv], " +
      "components [min_strength] [nodes_csv] [edges_csv], " +
      "components_indexed <index_dir> [min_strength], " +
      "ktruss [k] [nodes_csv] [edges_csv], " +
      "ktruss_indexed <index_dir> [k], " +
      "pagerank_personalized <topic> [num_iter] [damping], " +
      "hits_converged [tol] [max_iter], salsa_converged [tol] [max_iter], " +
      "pagerank_converged [damping] [tol] [max_iter]; pipelines: " +
      "dedup <in> <out> [exact|near|clean|spans|spans_occ|spans_clean] [k], " +
      "classify <in> <out> [label_col] [train_pct], " +
      "ann <in> <out> [exact|lsh|ivf|q8|q8ivf|mrl|mrlivf|pq|pqivf] " +
      "[nq] [k], " +
      "ivf_index <emb> <out> [nlist] [train_frac], " +
      "ivf_append <index_dir> <emb> <out_dir> [gen], " +
      "ivf_compact <index_dir> <out_dir>, " +
      "ann_persisted <index_dir> <emb> <out> [nq] [k], " +
      "split <in> <out> [id_col] [train val test (per-mille)], " +
      "shuffle <in> <out> [id_col], " +
      "pack <in> <out> [capacity] [buckets] [id_col] [text_col], " +
      "kmv <in> <out> [group_col] [value_col] [pairs], " +
      "search <in> <out> <terms,csv> [k] [emb.parquet probe_vec_id], " +
      "cms <in> <out> [value_col] <probes,csv>, " +
      "heavy <in> <out> [value_col] [k], " +
      "canonical <in> <out> [prio_mod], " +
      "canonical_indexed <docs> <clusters_index> <out> [prio_mod], " +
      "token_budget <in> <out> [budget] [slices] (sliced scan; " +
      "token_budget_sliced kept as an alias), " +
      "token_budget_window <in> <out> [budget], " +
      "restart_totals <sf_dir> <out>, " +
      "restart_sessionize <sf_dir> <out>, " +
      "recall_audit_appended <emb> <out> [nq] [k] [nlist] [nprobe], " +
      "ingest_curate <in> <out> [prio_mod], " +
      "vocab <in> <out> [min_count] [max_size], " +
      "bpe_train <in> <out> [num_merges] [fast|dist], " +
      "clusters <emb> <out> [nlist], " +
      "band_index <docs> <out>, " +
      "band_append <index> <docs> <out> [gen], " +
      "band_compact <index> <out>, " +
      "inc_dedup <corpus_or_index> <delta> <out>, " +
      "inc_clusters <corpus> <delta> <out>, " +
      "quality_cut <in> <out> [q] [by_source], " +
      "curate <in> <out> [min_quality] [lang] [total] [alpha]")

  private[graft] def run(spark: SparkSession, cmd: String, a: Array[String]): Unit = {
    def arg(i: Int, dflt: String): String = if (a.length > i) a(i) else dflt
    def intArg(i: Int, dflt: String, what: String): Int =
      try arg(i, dflt).toInt catch { case _: NumberFormatException =>
        throw CliArgError(s"$cmd: $what must be an integer, got '${arg(i, dflt)}'") }
    def longArg(i: Int, dflt: String, what: String): Long =
      try arg(i, dflt).toLong catch { case _: NumberFormatException =>
        throw CliArgError(s"$cmd: $what must be an integer, got '${arg(i, dflt)}'") }
    def doubleArg(i: Int, dflt: String, what: String): Double =
      try arg(i, dflt).toDouble catch { case _: NumberFormatException =>
        throw CliArgError(s"$cmd: $what must be a number, got '${arg(i, dflt)}'") }
    val needsTopic = Set("topic_specific_hits", "topic_exclusive_hits",
      "query_dependent_hits", "topic_specific_salsa", "query_dependent_salsa")
    if (needsTopic(cmd) && a.isEmpty)
      throw CliArgError(s"$cmd requires a topic label as its first argument")
    def load(nodesPath: String, edgesPath: String,
        weightCol: String = "mrho:double"): Graph =
      Graph(GraphIO.readNodesCsv(spark, nodesPath),
        GraphIO.readEdgesCsv(spark, edgesPath, weightCol))

    cmd match {
      case "base_hits" =>
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        emit("base_HITS", Hits.run(g, intArg(0, "8", "num_iter")))
      case "weighted_hits" =>
        val g = load(arg(2, DefaultNodes), arg(3, DefaultEdges),
          arg(1, "mrho:double"))
        emit("weighted_HITS", Hits.runWeighted(g, intArg(0, "8", "num_iter")))
      case "random_teleport_hits" =>
        val g = load(arg(2, DefaultNodes), arg(3, DefaultEdges))
        emit("random_teleport_HITS",
          Hits.runTeleport(g, doubleArg(1, "0.8", "beta"), intArg(0, "8", "num_iter")))
      case "topic_specific_hits" =>
        val g = load(arg(3, DefaultNodes), arg(4, DefaultEdges))
        emit(s"topic_specific_HITS/${a(0)}", Hits.runTopicSpecific(g, a(0),
          doubleArg(2, "0.8", "beta"), intArg(1, "8", "num_iter")))
      case "topic_exclusive_hits" =>
        val g = load(arg(2, DefaultNodes), arg(3, DefaultEdges))
        // GRAFT_TOPIC_EXCLUSIVE_LITERAL=1 replays the reference's literal
        // self-loops-only note-E semantics (topic_exclusive_hits.py:49)
        // instead of the intent semantics, without changing the verb's
        // positional CLI shape.
        val literal = sys.env.get("GRAFT_TOPIC_EXCLUSIVE_LITERAL")
          .exists(v => v == "1" || v.equalsIgnoreCase("true"))
        emit(s"topic_exclusive_HITS/${a(0)}",
          Hits.runTopicExclusive(g, a(0), intArg(1, "8", "num_iter"),
            selfLoopsOnly = literal))
      case "query_dependent_hits" =>
        val g = load(arg(2, DefaultNodes), arg(3, DefaultEdges))
        emit(s"query_dependent_HITS/${a(0)}",
          Hits.runQueryDependent(g, a(0), intArg(1, "8", "num_iter")))
      case "pagerank" =>
        // Kernel-family extension (not a reference script): same CLI
        // shape as random_teleport_hits, one score vector out.
        val g = load(arg(2, DefaultNodes), arg(3, DefaultEdges))
        val p = PageRank.run(g, doubleArg(1, "0.85", "damping"),
          intArg(0, "8", "num_iter"))
        RankOutput.writeScoresText(p, "outputs/PageRank/scores.txt")
        println("Top 10 PageRank scores:")
        RankOutput.topK(p, 10).collect()
          .foreach(row => println(s"('${row.getString(0)}', ${row.getDouble(1)})"))
        println("Scores written under outputs/PageRank/")
      case "triangles" =>
        // Structural-signal extension (not a reference script): per-node
        // triangle counts + clustering coefficients over the undirected
        // simple projection; same graph-loading CLI shape as the kernels.
        val g = load(arg(0, DefaultNodes), arg(1, DefaultEdges))
        // materialize once: the text sink and the top-10 print are two
        // actions, and the wedge joins dominate the verb's cost
        val plan = Triangles.perNode(g.edges)
        val t = Checkpoints.materialize(plan)
        Checkpoints.releaseAll(plan) // inner und/oriented blocks; t stands alone
        RankOutput.writeScoresText(
          t.select(col("id"), col("triangles").cast("double").as("score")),
          "outputs/Triangles/counts.txt")
        println("Top 10 triangle counts:")
        t.orderBy(col("triangles").desc, col("id")).limit(10).collect()
          .foreach(row => println(s"('${row.getString(0)}', ${row.getLong(1)})"))
        Checkpoints.release(t)
        println("Counts written under outputs/Triangles/")
      case "link_predict" =>
        // Companion structural extension to `triangles`: top-k missing
        // links by common-neighbor / Adamic-Adar evidence.
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        val k = intArg(0, "20", "k")
        println(s"Top $k link-prediction candidates " +
          "(src, dst, common_neighbors, adamic_adar):")
        val lpPlan = LinkPredict.topCandidates(g.edges, k)
        val lpRows = lpPlan.collect()
        // und/adj checkpoints are consumed once the collect returns —
        // release them so a long-lived session (MainCliSpec, a driver
        // reusing run) doesn't accumulate superseded blocks (ADVICE r17)
        Checkpoints.releaseAll(lpPlan)
        lpRows.foreach(r =>
          println(s"('${r.getString(0)}', '${r.getString(1)}', " +
            s"${r.getLong(2)}, ${r.getDouble(3)})"))
      case "label_prop" =>
        // Third structural extension: spread a hash-gated 30% of the
        // node file's labels to the rest by clamped deterministic
        // majority (see `LabelProp`); prints the final label histogram.
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        val iters = intArg(0, "4", "iters")
        val seedsDf = g.nodes
          .filter(graft.functions.GraftHash.graftHash(spark, col("id"))
            % 100 < 30)
          .select(col("id"), col("label"))
        println(s"Label counts after $iters rounds:")
        val lpropPlan = LabelProp.run(spark, g.edges, seedsDf, iters)
          .groupBy(coalesce(col("label"), lit("unlabeled")).as("label"))
          .count().orderBy(col("label"))
        val lpropRows = lpropPlan.collect()
        Checkpoints.releaseAll(lpropPlan) // final label vector (ADVICE r17)
        lpropRows
          .foreach(r => println(s"('${r.getString(0)}', ${r.getLong(1)})"))
      case "kcore" =>
        // Fourth structural extension: density-tier membership by
        // synchronous peel (see `KCore`); prints core size + max degree.
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        val k = intArg(0, "3", "k")
        val core = KCore.run(g.edges, k)
        val stats = core.agg(count(lit(1)), max(col("core_degree"))).head()
        Checkpoints.releaseAll(core) // peeled edge list (ADVICE r17)
        println(s"$k-core: ${stats.getLong(0)} nodes, " +
          s"max within-core degree ${if (stats.isNullAt(1)) 0
            else stats.getLong(1)}")
      case "triangles_weighted" =>
        // Weighted twin of `triangles` (r19 CLI surface for the r18
        // operator): per-node triangle count + the summed edge
        // strength of the node's triangles (micro-unit-exact).
        val g = load(arg(0, DefaultNodes), arg(1, DefaultEdges))
        val plan = Triangles.perNodeWeighted(g.edges)
        val t = Checkpoints.materialize(plan)
        Checkpoints.releaseAll(plan)
        RankOutput.writeScoresText(
          t.select(col("id"), col("strength").as("score")),
          "outputs/Triangles/strength.txt")
        println("Top 10 triangle strengths:")
        t.orderBy(col("strength").desc, col("id")).limit(10).collect()
          .foreach(row =>
            println(s"('${row.getString(0)}', ${row.getDouble(2)})"))
        Checkpoints.release(t)
        println("Strengths written under outputs/Triangles/")
      case "triangles_approx" =>
        // DOULION sampled global triangle count; p_permille <= 0 (the
        // default) derives the rate from the corpus's undirected edge
        // count (Triangles.autoPPermille).
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        val p = intArg(0, "0", "p_permille")
        val plan = Triangles.approxCount(g.edges, p)
        val row = plan.head()
        Checkpoints.releaseAll(plan) // sampled-projection checkpoints
        println(s"DOULION triangle estimate (p = ${row.getInt(0)} permille): " +
          s"sampled_edges=${row.getLong(1)}, " +
          s"sampled_triangles=${row.getLong(2)}, " +
          s"triangles_est=${row.getDouble(3)}")
      case "kcore_weighted" =>
        // Weighted (strength) core: peel by summed incident edge
        // weight instead of degree — the high-engagement tier.
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        val minS = doubleArg(0, "1.0", "min_strength")
        val core = KCore.runWeighted(g.edges, minS)
        val stats = core.agg(count(lit(1)), max(col("core_strength"))).head()
        Checkpoints.releaseAll(core)
        println(s"strength-core (>= $minS): ${stats.getLong(0)} nodes, " +
          s"max within-core strength ${if (stats.isNullAt(1)) 0.0
            else stats.getDouble(1)}")
      case "label_prop_weighted" =>
        // Weighted majority: each labeled neighbor votes its edge
        // strength instead of 1 (see `LabelProp.runWeighted`).
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        val iters = intArg(0, "4", "iters")
        val seedsDf = g.nodes
          .filter(graft.functions.GraftHash.graftHash(spark, col("id"))
            % 100 < 30)
          .select(col("id"), col("label"))
        println(s"Label counts after $iters weighted rounds:")
        val wPlan = LabelProp.runWeighted(spark, g.edges, seedsDf, iters)
          .groupBy(coalesce(col("label"), lit("unlabeled")).as("label"))
          .count().orderBy(col("label"))
        val wRows = wPlan.collect()
        Checkpoints.releaseAll(wPlan)
        wRows.foreach(r => println(s"('${r.getString(0)}', ${r.getLong(1)})"))
      case "link_predict_weighted" =>
        // Strength-weighted missing-link ranking: bottleneck common
        // strength + the 1/ln(1+strength) Adamic-Adar discount.
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        val k = intArg(0, "20", "k")
        println(s"Top $k weighted link-prediction candidates " +
          "(src, dst, common_neighbors, common_strength, " +
          "adamic_adar_weighted):")
        val wlpPlan = LinkPredict.topCandidatesWeighted(g.edges, k)
        val wlpRows = wlpPlan.collect()
        Checkpoints.releaseAll(wlpPlan)
        wlpRows.foreach(r =>
          println(s"('${r.getString(0)}', '${r.getString(1)}', " +
            s"${r.getLong(2)}, ${r.getDouble(3)}, ${r.getDouble(4)})"))
      case "link_predict_weighted_indexed" =>
        // `link_predict_weighted` over a persisted structural index.
        if (a.isEmpty) throw CliArgError(s"$cmd requires an index dir")
        val k = intArg(1, "20", "k")
        println(s"Top $k weighted link-prediction candidates " +
          "(src, dst, common_neighbors, common_strength, " +
          "adamic_adar_weighted):")
        val wlpiPlan = LinkPredict.topCandidatesWeightedOn(
          StructuralIndex.undirectedWeighted(spark, a(0), bucketed = false),
          StructuralIndex.degrees(spark, a(0), bucketed = false), k)
        val wlpiRows = wlpiPlan.collect()
        Checkpoints.releaseAll(wlpiPlan)
        wlpiRows.foreach(r =>
          println(s"('${r.getString(0)}', '${r.getString(1)}', " +
            s"${r.getLong(2)}, ${r.getDouble(3)}, ${r.getDouble(4)})"))
      case "structural_index" =>
        // Build-once half of the structural lifecycle: persist the
        // undirected simple projection + endpoint degrees the whole
        // structural family starts from, so an analysis session pays
        // the corpus-scale distinct-shuffle ONCE (the band_index /
        // ivf_index pattern):
        //   structural_index <out_dir> [nodes_csv] [edges_csv]
        if (a.isEmpty)
          throw CliArgError(s"$cmd requires an output directory")
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        StructuralIndex.write(g.edges, a(0))
        println(s"Structural index written to ${a(0)}")
      case "triangles_indexed" =>
        // `triangles` over a persisted structural index — no rebuild.
        if (a.isEmpty) throw CliArgError(s"$cmd requires an index dir")
        val plan = Triangles.perNodeOn(
          StructuralIndex.undirected(spark, a(0)),
          StructuralIndex.degrees(spark, a(0)))
        val t = Checkpoints.materialize(plan)
        Checkpoints.releaseAll(plan)
        RankOutput.writeScoresText(
          t.select(col("id"), col("triangles").cast("double").as("score")),
          "outputs/Triangles/counts.txt")
        println("Top 10 triangle counts:")
        t.orderBy(col("triangles").desc, col("id")).limit(10).collect()
          .foreach(row => println(s"('${row.getString(0)}', ${row.getLong(1)})"))
        Checkpoints.release(t)
        println("Counts written under outputs/Triangles/")
      case "link_predict_indexed" =>
        // `link_predict` over a persisted structural index.
        if (a.isEmpty) throw CliArgError(s"$cmd requires an index dir")
        val k = intArg(1, "20", "k")
        println(s"Top $k link-prediction candidates " +
          "(src, dst, common_neighbors, adamic_adar):")
        val plan = LinkPredict.topCandidatesOn(
          StructuralIndex.undirected(spark, a(0), bucketed = false),
          StructuralIndex.degrees(spark, a(0), bucketed = false), k)
        val rows = plan.collect()
        Checkpoints.releaseAll(plan)
        rows.foreach(r =>
          println(s"('${r.getString(0)}', '${r.getString(1)}', " +
            s"${r.getLong(2)}, ${r.getDouble(3)})"))
      case "kcore_indexed" =>
        // `kcore` over a persisted structural index — the stored
        // degrees ARE round 0 and the bucketed layout co-partitions
        // the first semi-join (KCore.runPreDegreed).
        if (a.isEmpty) throw CliArgError(s"$cmd requires an index dir")
        val k = intArg(1, "3", "k")
        val core = KCore.runPreDegreed(
          StructuralIndex.undirected(spark, a(0)),
          StructuralIndex.degrees(spark, a(0)), k)
        val stats = core.agg(count(lit(1)), max(col("core_degree"))).head()
        Checkpoints.releaseAll(core)
        println(s"$k-core: ${stats.getLong(0)} nodes, " +
          s"max within-core degree ${if (stats.isNullAt(1)) 0
            else stats.getLong(1)}")
      case "components" =>
        // Fifth structural member: connected components via the
        // large-star/small-star engine. min_strength > 0 restricts to
        // edges of at least that summed strength (raw weight units) —
        // the high-value-connectivity audit; 0 runs the full
        // projection.
        val minS = doubleArg(0, "0.0", "min_strength")
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        val comp =
          if (minS > 0)
            ConnectedComponents.componentsWeightedOn(
              Triangles.undirectedWeighted(g.edges), minS)
          else
            ConnectedComponents.componentsOn(Triangles.undirected(g.edges))
        val stats = comp.agg(countDistinct(col("component")),
          count(lit(1)), max(col("n_members"))).head()
        Checkpoints.releaseAll(comp)
        println(s"components (min_strength $minS): ${stats.getLong(0)} " +
          s"components over ${stats.getLong(1)} nodes, largest " +
          s"${if (stats.isNullAt(2)) 0 else stats.getLong(2)}")
      case "components_indexed" =>
        // `components` over a persisted structural index (star
        // contraction re-keys every round, so the projection is read
        // without bucket metadata — the link_predict_indexed choice).
        if (a.isEmpty) throw CliArgError(s"$cmd requires an index dir")
        val minS = doubleArg(1, "0.0", "min_strength")
        val comp =
          if (minS > 0)
            ConnectedComponents.componentsWeightedOn(
              StructuralIndex.undirectedWeighted(spark, a(0),
                bucketed = false), minS)
          else
            ConnectedComponents.componentsOn(
              StructuralIndex.undirected(spark, a(0), bucketed = false))
        val stats = comp.agg(countDistinct(col("component")),
          count(lit(1)), max(col("n_members"))).head()
        Checkpoints.releaseAll(comp)
        println(s"components (min_strength $minS): ${stats.getLong(0)} " +
          s"components over ${stats.getLong(1)} nodes, largest " +
          s"${if (stats.isNullAt(2)) 0 else stats.getLong(2)}")
      case "ktruss" =>
        // Edge-level density tier: every surviving edge closes >= k-2
        // triangles within the surviving subgraph (see `KTruss`).
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        val k = intArg(0, "4", "k")
        val truss = KTruss.run(g.edges, k)
        val stats = truss.agg(count(lit(1)), max(col("support"))).head()
        Checkpoints.releaseAll(truss)
        println(s"$k-truss: ${stats.getLong(0)} edges, " +
          s"max within-truss support ${if (stats.isNullAt(1)) 0
            else stats.getLong(1)}")
      case "ktruss_indexed" =>
        // `ktruss` over a persisted structural index (per-round
        // degree orientation re-keys the projection, so it is read
        // without bucket metadata — the link_predict_indexed choice).
        if (a.isEmpty) throw CliArgError(s"$cmd requires an index dir")
        val k = intArg(1, "4", "k")
        val truss = KTruss.runOn(
          StructuralIndex.undirected(spark, a(0), bucketed = false), k)
        val stats = truss.agg(count(lit(1)), max(col("support"))).head()
        Checkpoints.releaseAll(truss)
        println(s"$k-truss: ${stats.getLong(0)} edges, " +
          s"max within-truss support ${if (stats.isNullAt(1)) 0
            else stats.getLong(1)}")
      case "label_prop_indexed" =>
        // `label_prop` over a persisted structural index; seeds still
        // come from the node file (labels are not part of the index).
        if (a.isEmpty) throw CliArgError(s"$cmd requires an index dir")
        val iters = intArg(1, "4", "iters")
        val nodes = GraphIO.readNodesCsv(spark, arg(2, DefaultNodes))
        val seedsDf = nodes
          .filter(graft.functions.GraftHash.graftHash(spark, col("id"))
            % 100 < 30)
          .select(col("id"), col("label"))
        println(s"Label counts after $iters rounds:")
        val plan = LabelProp.runOn(spark,
            StructuralIndex.undirected(spark, a(0)), seedsDf, iters)
          .groupBy(coalesce(col("label"), lit("unlabeled")).as("label"))
          .count().orderBy(col("label"))
        val rows = plan.collect()
        Checkpoints.releaseAll(plan)
        rows.foreach(r => println(s"('${r.getString(0)}', ${r.getLong(1)})"))
      case "pagerank_personalized" =>
        // Personalized variant: teleport to a topic seed set — same CLI
        // shape as topic_specific_hits.
        if (a.isEmpty) throw CliArgError(
          "pagerank_personalized requires a topic label as its first argument")
        val g = load(arg(3, DefaultNodes), arg(4, DefaultEdges))
        val p = PageRank.runPersonalized(g, a(0),
          doubleArg(2, "0.85", "damping"), intArg(1, "8", "num_iter"))
        RankOutput.writeScoresText(p,
          s"outputs/PageRank_personalized/${a(0)}/scores.txt")
        println(s"Top 10 personalized-PageRank scores (${a(0)}):")
        RankOutput.topK(p, 10).collect()
          .foreach(row => println(s"('${row.getString(0)}', ${row.getDouble(1)})"))
        println(s"Scores written under outputs/PageRank_personalized/${a(0)}/")
      // ---- convergence kernels: run to the fixed point (max-delta
      // below --tol) instead of a fixed iteration count; the reached
      // iteration is printed so a caller can pin it downstream ----
      case "hits_converged" =>
        val g = load(arg(2, DefaultNodes), arg(3, DefaultEdges))
        val fp = Hits.runConverged(g, doubleArg(0, "1e-9", "tol"),
          intArg(1, "50", "max_iter"))
        println(convergenceLine(fp.iterations, fp.converged))
        emit("converged_HITS", fp.result)
      case "salsa_converged" =>
        val g = load(arg(2, DefaultNodes), arg(3, DefaultEdges))
        val fp = Salsa.runConverged(g, doubleArg(0, "1e-9", "tol"),
          intArg(1, "50", "max_iter"))
        println(convergenceLine(fp.iterations, fp.converged))
        emitS("SALSA/converged_SALSA", fp.result)
      case "pagerank_converged" =>
        val g = load(arg(3, DefaultNodes), arg(4, DefaultEdges))
        val fp = PageRank.runConverged(g,
          doubleArg(0, "0.85", "damping"), doubleArg(1, "1e-7", "tol"),
          intArg(2, "80", "max_iter"))
        println(convergenceLine(fp.iterations, fp.converged))
        val p = fp.result
        RankOutput.writeScoresText(p, "outputs/PageRank_converged/scores.txt")
        println("Top 10 PageRank scores:")
        RankOutput.topK(p, 10).collect()
          .foreach(row => println(s"('${row.getString(0)}', ${row.getDouble(1)})"))
        println("Scores written under outputs/PageRank_converged/")
      case "base_salsa" =>
        val g = load(arg(0, DefaultNodes), arg(1, DefaultEdges))
        emitS("SALSA/base_SALSA", Salsa.runSimplified(g.edges))
      case "base_salsa_2" =>
        // Reference argv layout is [num_iter] [beta] [nodes] [edges]
        // (reference `src/base_salsa_2.py`); beta is parsed there but has
        // no effect on the non-teleport kernel, so a 4-arg invocation
        // accepts and ignores it instead of silently binding '0.8' as the
        // nodes path.
        val off = if (a.length >= 4) 1 else 0
        val g = load(arg(1 + off, DefaultNodes), arg(2 + off, DefaultEdges))
        emitS("SALSA/base_SALSA_2", Salsa.run(g, intArg(0, "8", "num_iter")))
      case "weighted_salsa" =>
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges),
          arg(0, "mrho:double"))
        emitS("SALSA/weighted_SALSA", Salsa.runWeightedSimplified(g.edges))
      case "random_teleport_salsa" =>
        val g = load(arg(2, DefaultNodes), arg(3, DefaultEdges))
        emitS("SALSA/random_teleport_SALSA",
          Salsa.runTeleport(g, doubleArg(1, "0.8", "beta"), intArg(0, "8", "num_iter")))
      case "topic_specific_salsa" =>
        val g = load(arg(3, DefaultNodes), arg(4, DefaultEdges))
        emitS(s"SALSA/topic_specific_SALSA/${a(0)}",
          Salsa.runTopicSpecific(g, a(0), doubleArg(2, "0.8", "beta"),
            intArg(1, "8", "num_iter")))
      case "query_dependent_salsa" =>
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        emitS(s"SALSA/query_dependent_SALSA/${a(0)}",
          Salsa.runQueryDependent(g, a(0)))
      case "draw_graph" =>
        // Engine-side analog of the reference's base_hits.py →
        // draw_graphs.py flow: run base HITS, then emit the three
        // color-coded views (hub / authorities / both) — raster PNGs
        // like the reference plus DOT text sinks — from the same seeded
        // sample inputs the reference collects.
        val g = load(arg(1, DefaultNodes), arg(2, DefaultEdges))
        val r = Hits.run(g, intArg(0, "8", "num_iter"))
        RankOutput.writeDotGraphs(g.edges, r.hubs, r.auths, "outputs", "base")
        GraphRender.writePngGraphs(g.edges, r.hubs, r.auths, "outputs", "base")
        println("Graphs written: outputs/graph_base_{hub,authorities," +
          "HubAndAuthorities}.{png,dot}")
      // ---- pipeline verbs: parquet in → parquet out ----
      case "dedup" =>
        val (in, out) = pipelineIo(cmd, a)
        val docs = spark.read.parquet(in)
        val result = arg(2, "near") match {
          case "exact" => Dedup.exactByHash(spark, docs)
          case "near"  => Dedup.nearDedupCorpus(spark, docs)
          case "clean" => Dedup.cleanCorpus(spark, docs)
          // exact-substring span dedup: the spans report, and the
          // cleaner that cuts the duplicated spans out of the corpus;
          // optional 4th arg is the minimum match length k in tokens
          case "spans" =>
            Dedup.dedupSpans(spark, docs, intArg(3, "5", "k"))
          case "spans_occ" => // total-occurrence evidence: within-doc repeats
            Dedup.dedupSpans(spark, docs, intArg(3, "5", "k"), minOcc = 2)
          case "spans_clean" =>
            Dedup.dedupSpansClean(spark, docs, intArg(3, "5", "k"))
          case m => throw CliArgError(s"Unknown dedup method: $m")
        }
        result.write.mode("overwrite").parquet(out)
        println(s"Dedup (${arg(2, "near")}) written to $out")
      case "classify" =>
        // Naive Bayes over the corpus's own labels:
        //   classify <docs.parquet> <out_dir> [label_col] [train_pct]
        val (in, out) = pipelineIo(cmd, a)
        val trainPct = intArg(3, "50", "train_pct")
        if (trainPct <= 0 || trainPct >= 100)
          throw CliArgError(s"train_pct must be in 1..99, got $trainPct")
        Classify.naiveBayes(spark, spark.read.parquet(in),
            labelCol = arg(2, "lang"),
            trainPct = trainPct)
          .write.mode("overwrite").parquet(out)
        println(s"NB predictions (${arg(2, "lang")}) written to $out")
      case "ann" =>
        val (in, out) = pipelineIo(cmd, a)
        val strategy = arg(2, "q8ivf") match {
          case "exact" => Similarity.AnnStrategy.Exact
          case "lsh"   => Similarity.AnnStrategy.Lsh
          case "ivf"   => Similarity.AnnStrategy.Ivf
          case "q8"    => Similarity.AnnStrategy.Q8
          case "q8ivf" => Similarity.AnnStrategy.Q8Ivf
          case "mrl"   => Similarity.AnnStrategy.Mrl
          case "mrlivf" => Similarity.AnnStrategy.MrlIvf
          case "pq"    => Similarity.AnnStrategy.Pq
          case "pqivf" => Similarity.AnnStrategy.PqIvf
          case s => throw CliArgError(s"Unknown ann strategy: $s")
        }
        Similarity.ann(spark.read.parquet(in), strategy,
            nq = intArg(3, "10", "nq"), k = intArg(4, "5", "k"))
          .write.mode("overwrite").parquet(out)
        println(s"ANN top-k (${arg(2, "q8ivf")}) written to $out")
      case "ivf_index" =>
        // Persist the IVF index for a corpus (the once-per-corpus half
        // of the ANN lifecycle, the embedding analogue of band_index):
        //   ivf_index <embeddings.parquet> <out_dir> [nlist] [train_frac]
        // nlist <= 0 derives sqrt(N) from the corpus.
        val (in, out) = pipelineIo(cmd, a)
        Similarity.ivfIndexWrite(spark.read.parquet(in), out,
          nlist = intArg(2, "0", "nlist"),
          trainFraction = doubleArg(3, "1.0", "train_frac"))
        println(s"IVF index written to $out")
      case "ivf_append" =>
        // Append a new generation of cell assignments for (re-)ingested
        // vectors to a persisted IVF index — assignment runs against
        // the index's PERSISTED centroids (appends never retrain;
        // retraining is an ivf_index rebuild), so it is O(delta):
        //   ivf_append <index_dir> <emb.parquet> <out_dir> [gen]
        // gen defaults to (max existing generation) + 1; a plain
        // ivf_index output (no gen column) counts as generation 0.
        // Contract enforcement costs one max(gen) aggregate over the
        // index EVEN when an explicit gen is supplied (an append at or
        // below max(gen) would silently corrupt compaction) — one
        // column-pruned scan of the index, deliberately cheaper than
        // the corruption it prevents.
        if (a.length < 3) throw CliArgError(
          "ivf_append needs <index_dir> <emb.parquet> <out_dir> [gen]")
        val idxDf = spark.read.parquet(s"${a(0)}/index.parquet")
        val cents = spark.read.parquet(s"${a(0)}/centroids.parquet")
        val versioned =
          if (idxDf.columns.contains("gen")) idxDf
          else idxDf.withColumn("gen", lit(0L))
        // max(gen) over an EMPTY index aggregates to NULL — surface
        // a CliArgError, not an opaque NPE (band_append discipline)
        val maxRow = versioned.agg(max(col("gen"))).head
        val maxGen = if (maxRow.isNullAt(0)) None else Some(maxRow.getLong(0))
        val gen =
          if (a.length > 3) {
            // an explicit gen must still respect the append contract:
            // gen <= max(existing) would make ivf_compact keep stale
            // rows or fail on duplicate max-gen rows (ADVICE r13)
            val g = longArg(3, "1", "gen")
            maxGen.foreach { m =>
              if (g <= m) throw CliArgError(
                s"ivf_append: gen $g is not strictly above the index's " +
                  s"max generation $m — appends must use a fresh, higher " +
                  "generation (compaction keeps the max-gen row per vec_id)")
            }
            g
          } else maxGen match {
            case Some(m) => m + 1
            case None => throw CliArgError(
              s"ivf_append: index ${a(0)} is empty — build it with " +
                "ivf_index first")
          }
        Similarity.ivfIndexAppend(versioned,
            Similarity.ivfIndexEntries(spark.read.parquet(a(1)), cents, gen))
          .write.mode("overwrite").parquet(s"${a(2)}/index.parquet")
        // carry the pinned centroids so out_dir is a complete index
        cents.write.mode("overwrite").parquet(s"${a(2)}/centroids.parquet")
        println(s"IVF index + generation $gen written to ${a(2)}")
      case "ivf_compact" =>
        // Compact a versioned IVF index to each vector's latest
        // generation, rewritten in the cell-repartitioned probe layout:
        //   ivf_compact <index_dir> <out_dir>
        val (in, out) = pipelineIo(cmd, a)
        val idxDf = spark.read.parquet(s"$in/index.parquet")
        val versioned =
          if (idxDf.columns.contains("gen")) idxDf
          else idxDf.withColumn("gen", lit(0L))
        Similarity.ivfIndexCompact(versioned)
          .repartition(col("cid"))
          .write.mode("overwrite").parquet(s"$out/index.parquet")
        spark.read.parquet(s"$in/centroids.parquet")
          .write.mode("overwrite").parquet(s"$out/centroids.parquet")
        println(s"Compacted IVF index written to $out")
      case "ann_persisted" =>
        // Probe a persisted IVF index:
        //   ann_persisted <index_dir> <embeddings.parquet> <out> [nq] [k]
        if (a.length < 3) throw CliArgError(
          "ann_persisted needs <index_dir> <embeddings.parquet> <out_dir> [nq] [k]")
        Similarity.annTopKIvfPersisted(spark, a(0),
            spark.read.parquet(a(1)),
            nq = intArg(3, "10", "nq"), k = intArg(4, "5", "k"))
          .write.mode("overwrite").parquet(a(2))
        println(s"ANN top-k over persisted index written to ${a(2)}")
      case "split" =>
        val (in, out) = pipelineIo(cmd, a)
        val weights = if (a.length > 3)
          Seq("train" -> intArg(3, "0", "train per-mille"),
            "val" -> intArg(4, "0", "val per-mille"),
            "test" -> intArg(5, "0", "test per-mille")).filter(_._2 > 0)
        else Seq("train" -> 900, "val" -> 50, "test" -> 50)
        Sampling.splitByHash(spark, spark.read.parquet(in),
            arg(2, "doc_id"), weights)
          .write.mode("overwrite").partitionBy("split").parquet(out)
        println(s"Split ${weights.map(w => s"${w._1}=${w._2}‰").mkString(" ")} " +
          s"written to $out (partitioned by split)")
      case "shuffle" =>
        val (in, out) = pipelineIo(cmd, a)
        Sampling.shuffleByHash(spark, spark.read.parquet(in), arg(2, "doc_id"))
          .write.mode("overwrite").parquet(out)
        println(s"Deterministic shuffle written to $out")
      case "kmv" =>
        // Sketch-based distinct counting + pairwise overlap audit over
        // any parquet table: one estimate row per group, plus the
        // pairwise Jaccard matrix when [pairs] is passed.
        val (in, out) = pipelineIo(cmd, a)
        val df = spark.read.parquet(in)
        val (g, v) = (arg(2, "source"), arg(3, "text"))
        Sketches.kmvDistinct(spark, df, col(g), col(v).cast("string"))
          .write.mode("overwrite").parquet(s"$out/distinct")
        if (arg(4, "") == "pairs")
          Sketches.kmvPairwiseJaccard(spark, df, col(g),
              col(v).cast("string"))
            .write.mode("overwrite").parquet(s"$out/overlap")
        println(s"KMV distinct estimates written under $out/")
      case "search" =>
        // BM25 keyword search (and, with a numeric probe id, hybrid
        // sparse+dense RRF against an embeddings table) from the shell:
        //   search <docs.parquet> <out_dir> <terms,csv> [k]
        //   search <docs.parquet> <out_dir> <terms,csv> <k> <emb.parquet> <probe_vec_id>
        val (in, out) = pipelineIo(cmd, a)
        val terms = arg(2, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (terms.isEmpty)
          throw CliArgError(s"$cmd requires a comma-separated term list " +
            "as its third argument")
        val k = intArg(3, "20", "k")
        if (a.length > 4) {
          val emb = spark.read.parquet(arg(4, ""))
          Retrieval.hybridRrf(spark.read.parquet(in), emb, terms,
              queryVecId = longArg(5, "0", "probe_vec_id"), topK = k)
            .write.mode("overwrite").parquet(out)
          println(s"Hybrid RRF top-$k written to $out")
        } else {
          Retrieval.bm25(spark.read.parquet(in), terms, depth = k)
            .write.mode("overwrite").parquet(out)
          println(s"BM25 top-$k written to $out")
        }
      case "curate" =>
        // Full curation chain from the shell:
        //   curate <docs.parquet> <out_dir> [min_quality] [lang] [total] [alpha]
        val (in, out) = pipelineIo(cmd, a)
        Dedup.curate(spark, spark.read.parquet(in),
            minQuality = doubleArg(2, "0.5", "min_quality"),
            lang = arg(3, "en"),
            total = intArg(4, "100", "total"),
            alpha = doubleArg(5, "0.5", "alpha"))
          .write.mode("overwrite").parquet(out)
        println(s"Curated temperature draw written to $out")
      case "cms" =>
        // Count-Min point estimates over any parquet column:
        //   cms <in.parquet> <out_dir> [value_col] <probes,csv>
        val (in, out) = pipelineIo(cmd, a)
        val probes = arg(3, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (probes.isEmpty)
          throw CliArgError(s"$cmd requires a comma-separated probe list " +
            "as its fourth argument")
        Sketches.cmsCounts(spark, spark.read.parquet(in),
            col(arg(2, "text")), probes)
          .write.mode("overwrite").parquet(out)
        println(s"CMS estimates for ${probes.size} probes written to $out")
      case "vocab" =>
        // Vocabulary induction (the tokenizer-training input):
        //   vocab <docs.parquet> <out_dir> [min_count] [max_size]
        val (in, out) = pipelineIo(cmd, a)
        TextMetrics.vocabulary(spark.read.parquet(in),
          minCount = longArg(2, "2", "min_count"),
          maxSize = intArg(3, "1000", "max_size"))
          .write.mode("overwrite").parquet(out)
        println(s"Vocabulary written to $out")
      case "bpe_train" =>
        // Learn a BPE merge list from the corpus (rank, lhs, rhs,
        // pcnt): bpe_train <docs.parquet> <out_dir> [num_merges] [mode]
        // mode: "fast" (default — driver-local greedy over the bounded
        // word dictionary, one corpus job) or "dist" (the all-Spark
        // loop, two jobs per merge; same merges either way).
        val (in, out) = pipelineIo(cmd, a)
        val k = intArg(2, "16", "num_merges")
        if (k < 1) throw CliArgError(s"$cmd: num_merges must be >= 1, got $k")
        val fast = arg(3, "fast") match {
          case "fast" => true
          case "dist" => false
          case other => throw CliArgError(
            s"$cmd: mode must be fast|dist, got '$other'")
        }
        val merges =
          try pipelines.BpeTrain.merges(spark.read.parquet(in),
            numMerges = k, fast = fast)
          catch {
            case e: IllegalArgumentException
                if e.getMessage != null && e.getMessage.contains("exhausted") =>
              throw CliArgError(s"$cmd: ${e.getMessage}")
          }
        merges.write.mode("overwrite").parquet(out)
        println(s"BPE merges written to $out")
      case "clusters" =>
        // Corpus cluster-composition report over an embedding table:
        //   clusters <emb.parquet> <out_dir> [nlist]
        val (in, out) = pipelineIo(cmd, a)
        Similarity.clusterReport(spark.read.parquet(in),
          nlist = intArg(2, "0", "nlist"))
          .write.mode("overwrite").parquet(out)
        println(s"Cluster report written to $out")
      case "band_index" =>
        // Persist the LSH band-signature index for a corpus (the
        // once-per-corpus half of incremental near-dup):
        //   band_index <docs.parquet> <out_dir>
        val (in, out) = pipelineIo(cmd, a)
        Dedup.bandTable(spark, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"Band index written to $out")
      case "inc_dedup" =>
        // Incremental near-dup: delta docs vs an existing corpus —
        // pass either raw corpus documents (index built in-run) or a
        // band_index/band_append output (detected by schema; the true
        // O(delta) daily-delta path — a versioned index is compacted
        // to latest generations before the probe):
        //   inc_dedup <corpus_or_index> <delta> <out>
        if (a.length < 3) throw CliArgError(
          "inc_dedup needs <corpus_or_index.parquet> <delta.parquet> <out_dir>")
        val (corpus, delta, out) = (a(0), a(1), a(2))
        val left = spark.read.parquet(corpus)
        val result = left.columns.toSet match {
          case s if s == Set("doc_id", "band", "sig") =>
            Dedup.incrementalMinhashIndexed(spark, left,
              spark.read.parquet(delta))
          case s if s == Set("doc_id", "band", "sig", "gen") =>
            Dedup.incrementalMinhashIndexed(spark,
              Dedup.bandIndexCompact(left), spark.read.parquet(delta))
          case _ => Dedup.incrementalMinhash(spark, left,
            spark.read.parquet(delta))
        }
        result.write.mode("overwrite").parquet(out)
        println(s"Incremental near-dup pairs written to $out")
      case "clusters_index" =>
        // Persist the resolved duplicate-cluster assignments for a
        // corpus (the once-per-corpus half of incremental cluster
        // maintenance, alongside band_index):
        //   clusters_index <docs.parquet> <out_dir>
        val (in, out) = pipelineIo(cmd, a)
        operators.ConnectedComponents.clusters(
            Dedup.minhashLsh(spark, spark.read.parquet(in), ordered = false))
          .write.mode("overwrite").parquet(out)
        println(s"Cluster assignments written to $out")
      case "inc_clusters" =>
        // Incremental near-dup CLUSTER maintenance: existing corpus's
        // clusters + delta probes -> updated clusters, equal to a
        // from-scratch rebuild. Two forms:
        //   inc_clusters <corpus.parquet> <delta.parquet> <out_dir>
        //     (index + base clusters derived in-run — the demo shape)
        //   inc_clusters <band_index> <clusters_index> <delta> <out>
        //     (both halves read from storage — the TRUE O(delta) path:
        //      no corpus-sized pass runs; a versioned band_append index
        //      is compacted to latest generations before the probe)
        if (a.length == 4) {
          val idxDf = spark.read.parquet(a(0))
          val idx = idxDf.columns.toSet match {
            case s if s == Set("doc_id", "band", "sig") => idxDf
            case s if s == Set("doc_id", "band", "sig", "gen") =>
              Dedup.bandIndexCompact(idxDf)
            case other => throw CliArgError(
              s"inc_clusters: ${a(0)} is not a band index " +
                s"(columns ${other.mkString(",")}; expected doc_id,band,sig" +
                "[,gen])")
          }
          val asg = spark.read.parquet(a(1))
          if (!Set("doc_id", "cluster_id").subsetOf(asg.columns.toSet))
            throw CliArgError(
              s"inc_clusters: ${a(1)} is not a clusters_index output " +
                s"(columns ${asg.columns.mkString(",")}; expected " +
                "doc_id,cluster_id[,n_members])")
          Dedup.incrementalClustersIndexed(spark, idx, asg,
              spark.read.parquet(a(2)))
            .write.mode("overwrite").parquet(a(3))
          println(s"Incremental clusters written to ${a(3)}")
        } else if (a.length == 3) {
          Dedup.incrementalClusters(spark, spark.read.parquet(a(0)),
              spark.read.parquet(a(1)))
            .write.mode("overwrite").parquet(a(2))
          println(s"Incremental clusters written to ${a(2)}")
        } else throw CliArgError(
          "inc_clusters needs <corpus> <delta> <out> or " +
            "<band_index> <clusters_index> <delta> <out>")
      case "band_append" =>
        // Append a new generation of signatures for (re-)ingested docs
        // to a persisted index — pure file append, nothing corpus-sized
        // rewritten: band_append <index> <docs.parquet> <out_dir> [gen]
        // gen defaults to (max existing generation) + 1; a plain
        // band_index output counts as generation 0.
        if (a.length < 3) throw CliArgError(
          "band_append needs <index.parquet> <docs.parquet> <out_dir> [gen]")
        val idxDf = spark.read.parquet(a(0))
        val versioned =
          if (idxDf.columns.contains("gen")) idxDf
          else idxDf.withColumn("gen", lit(0L))
        val gen =
          if (a.length > 3) longArg(3, "1", "gen")
          else {
            // max(gen) over an EMPTY index aggregates to NULL — surface
            // a CliArgError, not an opaque NPE from getLong on null
            val maxRow = versioned.agg(max(col("gen"))).head
            if (maxRow.isNullAt(0)) throw CliArgError(
              s"band_append: index ${a(0)} is empty — build it with " +
                "band_index first (or pass an explicit gen)")
            maxRow.getLong(0) + 1
          }
        Dedup.bandIndexAppend(versioned,
            Dedup.bandIndexEntries(spark, spark.read.parquet(a(1)), gen))
          .write.mode("overwrite").parquet(a(2))
        println(s"Band index + generation $gen written to ${a(2)}")
      case "band_compact" =>
        // Compact a versioned index to each doc's latest generation
        // (probe-shaped output): band_compact <index> <out_dir>
        val (in, out) = pipelineIo(cmd, a)
        val idxDf = spark.read.parquet(in)
        val versioned =
          if (idxDf.columns.contains("gen")) idxDf
          else idxDf.withColumn("gen", lit(0L))
        Dedup.bandIndexCompact(versioned)
          .write.mode("overwrite").parquet(out)
        println(s"Compacted band index written to $out")
      case "heavy" =>
        // Exact heavy hitters of any parquet column (MG candidates +
        // bounded recount):  heavy <in.parquet> <out_dir> [col] [k]
        val (in, out) = pipelineIo(cmd, a)
        Sketches.heavyHitters(spark, spark.read.parquet(in),
            col(arg(2, "text")), k = intArg(3, "64", "k"))
          .write.mode("overwrite").parquet(out)
        println(s"Heavy hitters written to $out")
      case "canonical" =>
        // Cross-source canonical dedup: per near-dup cluster keep the
        // highest-priority source's doc (doc_id tiebreak):
        //   canonical <docs.parquet> <out_dir> [prio_mod]
        // Priority = numeric source suffix % prio_mod (0 disables the
        // mod — raw suffix order); swap in any integer expression via
        // the library API.
        val (in, out) = pipelineIo(cmd, a)
        val m = intArg(2, "5", "prio_mod")
        val suffix = expr("substring(source, 4)").cast("int")
        val prio = if (m > 0) suffix % m else suffix
        Dedup.canonicalByPriority(spark, spark.read.parquet(in), prio)
          .write.mode("overwrite").parquet(out)
        println(s"Canonical survivors written to $out")
      case "canonical_indexed" =>
        // Re-pick canonicals from a PERSISTED clusters_index — a trust
        // policy change never re-runs the corpus dedup:
        //   canonical_indexed <docs> <clusters_index> <out> [prio_mod]
        if (a.length < 3) throw CliArgError(
          "canonical_indexed needs <docs.parquet> <clusters_index> " +
            "<out_dir> [prio_mod]")
        val asg = spark.read.parquet(a(1))
        if (!Set("doc_id", "cluster_id").subsetOf(asg.columns.toSet))
          throw CliArgError(
            s"canonical_indexed: ${a(1)} is not a clusters_index output " +
              s"(columns ${asg.columns.mkString(",")}; expected " +
              "doc_id,cluster_id[,n_members])")
        val m2 = intArg(3, "5", "prio_mod")
        val sfx = expr("substring(source, 4)").cast("int")
        Dedup.canonicalByPriorityIndexed(spark.read.parquet(a(0)), asg,
            if (m2 > 0) sfx % m2 else sfx)
          .write.mode("overwrite").parquet(a(2))
        println(s"Canonical survivors written to ${a(2)}")
      case "token_budget" | "token_budget_sliced" =>
        // Token-budget curation: best-quality prefix per source within
        // a token budget. DEFAULT PATH IS THE RANGE-SLICED SCAN —
        // identical output to the window form, but partitions stay
        // bounded however hot a source (SCALING r15: sliced 1.29× at
        // 10× vs the window's 5.24×, and 26% faster under a 10M-row
        // hot source). The single-window form remains for small
        // corpora behind `token_budget_window`.
        //   token_budget <docs.parquet> <out_dir> [budget] [slices]
        // slices <= 0 derives the slice count from the session.
        val (in, out) = pipelineIo(cmd, a)
        Sampling.tokenBudgetPerGroupSliced(spark.read.parquet(in), "source",
            "doc_id", functions.TextFunctions.qualityScore(col("text")),
            functions.TextFunctions.tokenCount(col("text")),
            budget = longArg(2, "1500", "budget"),
            slices = intArg(3, "0", "slices"))
          .write.mode("overwrite").parquet(out)
        println(s"Token-budget survivors (sliced scan) written to $out")
      case "token_budget_window" =>
        // The one-window-per-group form: fine when no single group
        // outgrows an executor partition; the sliced default is the
        // 100 TB path. token_budget_window <docs.parquet> <out_dir> [budget]
        val (in, out) = pipelineIo(cmd, a)
        Sampling.tokenBudgetPerGroup(spark.read.parquet(in), "source",
            "doc_id", functions.TextFunctions.qualityScore(col("text")),
            functions.TextFunctions.tokenCount(col("text")),
            budget = longArg(2, "1500", "budget"))
          .write.mode("overwrite").parquet(out)
        println(s"Token-budget survivors written to $out")
      case "restart_totals" | "restart_sessionize" =>
        // Checkpointed two-phase restart drains (stop + resume from the
        // checkpoint, multi-batch time-ordered admission per phase —
        // [[graft.streaming.Restart.twoPhaseDrain]]):
        //   restart_totals     <sf_dir> <out_dir>
        //   restart_sessionize <sf_dir> <out_dir>
        // <sf_dir> must contain events.parquet (ts is normalized to
        // epoch-nanos by GraphIO.events whatever the file's unit).
        if (a.length < 2) throw CliArgError(s"$cmd needs <sf_dir> <out_dir>")
        val ev = GraphIO.events(spark, a(0))
        val out =
          if (cmd == "restart_totals")
            graft.streaming.Restart.twoPhaseDrain(spark, ev,
              "cli-totals", a(0),
              src => graft.streaming.EventPipelines
                .runningTotalsStream(spark, src, maxUser = Long.MaxValue)
                .toDF())
          else
            graft.streaming.Restart.twoPhaseDrain(spark, ev,
              "cli-sessionize", a(0),
              src => graft.streaming.EventPipelines
                .sessionizeStream(spark, src).toDF())
        out.write.mode("overwrite").parquet(a(1))
        println(s"Restart-drain output written to ${a(1)}")
      case "recall_audit_appended" =>
        // Recall-drift audit of the appended IVF lifecycle (build on the
        // first half, append the growth against the pinned centroids,
        // probe; fresh rebuild side by side, plus both indexes'
        // cell-imbalance rebuild trigger):
        //   recall_audit_appended <emb.parquet> <out_dir> [nq] [k] [nlist] [nprobe]
        // nlist <= 0 derives the sqrt(N) cell count from the corpus.
        val (in, out) = pipelineIo(cmd, a)
        val emb = spark.read.parquet(in)
        val nl = intArg(4, "0", "nlist")
        Similarity.recallAuditAppended(emb,
            nq = intArg(2, "10", "nq"), k = intArg(3, "5", "k"),
            nlist = if (nl > 0) nl else Similarity.autoNlist(emb.count()),
            nprobe = intArg(5, "4", "nprobe"))
          .write.mode("overwrite").parquet(out)
        println(s"Appended-IVF recall audit written to $out")
      case "ingest_curate" =>
        // Stream→curate composition: an AvailableNow drain dedups
        // normalized text within the watermark horizon (streaming state
        // bounded by the horizon's distinct classes), survivor identity
        // is the batch-side min doc_id per class, and the survivors
        // feed the cross-source canonical pick:
        //   ingest_curate <docs.parquet> <out_dir> [prio_mod]
        // prio follows the canonical verb's convention (numeric source
        // suffix, optionally mod prio_mod).
        val (in, out) = pipelineIo(cmd, a)
        val name = "graft_cli_ingest"
        val docs = spark.read.parquet(in)
          .select(col("doc_id"), col("source"), col("text"))
        spark.catalog.dropTempView(name) // idempotent re-run
        val q = spark.readStream.schema(spark.read.parquet(in).schema)
          .parquet(in)
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("norm_text",
            functions.TextFunctions.normalizeText(spark, col("text")))
          .withColumn("event_time", timestamp_micros(col("doc_id")))
          .withWatermark("event_time", "1 hour")
          .dropDuplicatesWithinWatermark("norm_text")
          .writeStream.outputMode("append").format("memory").queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val survivors = docs
          .withColumn("norm_text",
            functions.TextFunctions.normalizeText(spark, col("text")))
          .join(spark.table(name).select(col("norm_text")).distinct(),
            Seq("norm_text"))
          .groupBy(col("norm_text")).agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        val m = intArg(2, "5", "prio_mod")
        val sfx = expr("substring(source, 4)").cast("int")
        Dedup.canonicalByPriority(spark, docs.join(survivors, Seq("doc_id")),
            if (m > 0) sfx % m else sfx)
          .write.mode("overwrite").parquet(out)
        println(s"Ingest-curated canonical survivors written to $out")
      case "quality_cut" =>
        // Dynamic quality curation, corpus-wide or per source:
        //   quality_cut <docs.parquet> <out_dir> [q] [by_source]
        val (in, out) = pipelineIo(cmd, a)
        val docs = spark.read.parquet(in)
        val q = doubleArg(2, "0.75", "q")
        val result =
          if (arg(3, "false").toBoolean)
            TextMetrics.qualityCutoffBySource(docs, q)
          else TextMetrics.qualityCutoff(docs, q)
        result.write.mode("overwrite").parquet(out)
        println(s"Quality survivors written to $out")
      case "pack" =>
        val (in, out) = pipelineIo(cmd, a)
        val assignments = Packing.packDocs(spark, spark.read.parquet(in),
          arg(4, "doc_id"), arg(5, "text"),
          capacity = longArg(2, "2048", "capacity"), buckets = intArg(3, "32", "buckets"))
        assignments.write.mode("overwrite").parquet(s"$out/assignments")
        Packing.packManifest(assignments, arg(4, "doc_id"))
          .write.mode("overwrite").parquet(s"$out/manifest")
        println(s"Pack assignments + manifest written under $out/")
      case "list_topics" =>
        val nodes = GraphIO.readNodesCsv(spark, arg(0, DefaultNodes))
        Topics.list(nodes).coalesce(1).write.mode("overwrite")
          .text("outputs/node_topics.txt")
        println("Topics written to outputs/node_topics.txt")
      case other => throw CliArgError(s"Unknown kernel: $other")
    }
  }

  /** Human-readable convergence status for the `*_converged` verbs —
    * an UN-converged (maxIter-capped) run must say so explicitly, not
    * leave the caller to compare the count against the cap. */
  private def convergenceLine(iters: Int, converged: Boolean): String =
    if (converged) s"converged after $iters iterations"
    else s"NOT converged: stopped at the max_iter cap ($iters iterations); " +
      "scores are the best available refinement, not a certified fixed point"

  /** Pipeline verbs all take `<in.parquet> <out_dir>` as their first two
    * arguments; fail fast with usage when either is missing. */
  private def pipelineIo(cmd: String, a: Array[String]): (String, String) = {
    if (a.length < 2) throw CliArgError(s"$cmd requires <in.parquet> <out_dir>")
    (a(0), a(1))
  }

  private def emit(dir: String, r: Hits.Result): Unit =
    writeBoth(dir, r.hubs, r.auths)
  private def emitS(dir: String, r: Salsa.Result): Unit =
    writeBoth(dir, r.hubs, r.auths)

  private def writeBoth(dir: String, hubs: DataFrame, auths: DataFrame): Unit = {
    RankOutput.writeScoresText(hubs, s"outputs/$dir/hub_scores.txt")
    RankOutput.writeScoresText(auths, s"outputs/$dir/authority_scores.txt")
    println(s"Top 10 hub scores:")
    RankOutput.topK(hubs, 10).collect()
      .foreach(row => println(s"('${row.getString(0)}', ${row.getDouble(1)})"))
    println(s"Top 10 authority scores:")
    RankOutput.topK(auths, 10).collect()
      .foreach(row => println(s"('${row.getString(0)}', ${row.getDouble(1)})"))
    println(s"Scores written under outputs/$dir/")
  }
}
