package graft

import graft.operators._
import graft.pipelines.{Classify, Dedup, Packing, Retrieval, Sampling,
  Similarity, Sketches, TextMetrics}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI mirroring the reference's 14 driver scripts, so a reference user
  * can run every query they run today against the same CSV layout —
  * plus structural-analysis verbs over the same CSVs and pipeline verbs
  * that drive the LLM-data-pipeline surface over parquet paths without
  * sbt console:
  *
  * {{{
  * runMain graft.Main <verb> [args]
  * }}}
  *
  * [[verbs]] declares each verb once — its names, its argument synopsis
  * and its body — and `usage()` lists the synopses built from it.
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

  /** One CLI verb: its names (the first is the verb, any others are
    * aliases), its argument synopsis and its body. */
  private[graft] final case class Verb(names: Seq[String], synopsis: String,
      body: Cli => Unit)

  /** One verb invocation's arguments, with parsers that turn malformed
    * input into [[CliArgError]]. */
  private[graft] final class Cli(val spark: SparkSession, val cmd: String,
      val a: Array[String]) {
    def arg(i: Int, dflt: String): String = if (a.length > i) a(i) else dflt
    private def parsed[T](i: Int, dflt: String, what: String, kind: String)(
        parse: String => T): T =
      try parse(arg(i, dflt)) catch { case _: IllegalArgumentException =>
        throw CliArgError(s"$cmd: $what must be $kind, got '${arg(i, dflt)}'") }
    def intArg(i: Int, dflt: String, what: String): Int =
      parsed(i, dflt, what, "an integer")(_.toInt)
    def longArg(i: Int, dflt: String, what: String): Long =
      parsed(i, dflt, what, "an integer")(_.toLong)
    def doubleArg(i: Int, dflt: String, what: String): Double =
      parsed(i, dflt, what, "a number")(_.toDouble)
    def boolArg(i: Int, dflt: String, what: String): Boolean =
      parsed(i, dflt, what, "true or false")(_.toBoolean)
    def need(n: Int, msg: => String): Unit =
      if (a.length < n) throw CliArgError(msg)
    /** The topic label the topic verbs take first. */
    def topic: String = {
      need(1, s"$cmd requires a topic label as its first argument"); a(0)
    }
    /** The node and edge CSVs at argument positions `at` and `at + 1`. */
    def graph(at: Int, weightCol: String = "mrho:double"): Graph =
      Graph(GraphIO.readNodesCsv(spark, arg(at, DefaultNodes)),
        GraphIO.readEdgesCsv(spark, arg(at + 1, DefaultEdges), weightCol))
    def parquet(path: String): DataFrame = spark.read.parquet(path)
    /** The `<in.parquet> <out_dir>` pair every pipeline verb takes first. */
    def io: (String, String) = {
      need(2, s"$cmd requires <in.parquet> <out_dir>"); (a(0), a(1))
    }
    /** The parquet → parquet verb shape: read `<in>`, write `f` of it to
      * `<out>`, print `<what> written to <out>`. */
    def parquetToParquet(what: => String)(f: DataFrame => DataFrame): Unit = {
      val (in, out) = io
      f(parquet(in)).write.mode("overwrite").parquet(out)
      println(s"$what written to $out")
    }
  }

  private def verb(names: String*)(synopsis: String)(body: Cli => Unit)
      : Seq[Verb] = Seq(Verb(names, synopsis, body))

  /** A structural verb and its `<name>_indexed` twin with one body. The
    * twin takes `<index_dir>` first and the verb's own arguments after
    * it, and its body gets the index dir to read the persisted
    * [[StructuralIndex]] instead of the CSVs. */
  private def withIndexed(name: String, synopsis: String, indexedArgs: String)(
      body: (Cli, Option[String]) => Unit): Seq[Verb] =
    verb(name)(synopsis)(body(_, None)) ++
      verb(s"${name}_indexed")(s"<index_dir> $indexedArgs".trim) { c =>
        c.need(1, s"${c.cmd} requires an index dir")
        body(new Cli(c.spark, c.cmd, c.a.drop(1)), Some(c.a(0)))
      }

  private[graft] lazy val verbs: Seq[Verb] = Seq(
    // ---- the reference's HITS / SALSA scripts ----
    verb("base_hits")("[num_iter] [nodes_csv] [edges_csv]") { c =>
      emit("base_HITS", Hits.run(c.graph(1), c.intArg(0, "8", "num_iter")))
    },
    verb("weighted_hits")("[num_iter] [weight_col] [nodes_csv] [edges_csv]") { c =>
      emit("weighted_HITS", Hits.runWeighted(
        c.graph(2, c.arg(1, "mrho:double")), c.intArg(0, "8", "num_iter")))
    },
    verb("random_teleport_hits")("[num_iter] [beta] [nodes_csv] [edges_csv]") { c =>
      emit("random_teleport_HITS", Hits.runTeleport(c.graph(2),
        c.doubleArg(1, "0.8", "beta"), c.intArg(0, "8", "num_iter")))
    },
    verb("topic_specific_hits")(
        "<topic> [num_iter] [beta] [nodes_csv] [edges_csv]") { c =>
      val t = c.topic
      emit(s"topic_specific_HITS/$t", Hits.runTopicSpecific(c.graph(3), t,
        c.doubleArg(2, "0.8", "beta"), c.intArg(1, "8", "num_iter")))
    },
    verb("topic_exclusive_hits")("<topic> [num_iter] [nodes_csv] [edges_csv]") { c =>
      val t = c.topic
      // GRAFT_TOPIC_EXCLUSIVE_LITERAL=1 replays the reference's literal
      // self-loops-only note-E semantics (topic_exclusive_hits.py:49)
      // instead of the intent semantics, without changing the verb's
      // positional CLI shape.
      val literal = sys.env.get("GRAFT_TOPIC_EXCLUSIVE_LITERAL")
        .exists(v => v == "1" || v.equalsIgnoreCase("true"))
      emit(s"topic_exclusive_HITS/$t", Hits.runTopicExclusive(c.graph(2), t,
        c.intArg(1, "8", "num_iter"), selfLoopsOnly = literal))
    },
    verb("query_dependent_hits")("<topic> [num_iter] [nodes_csv] [edges_csv]") { c =>
      val t = c.topic
      emit(s"query_dependent_HITS/$t",
        Hits.runQueryDependent(c.graph(2), t, c.intArg(1, "8", "num_iter")))
    },
    verb("base_salsa")("[nodes_csv] [edges_csv]") { c =>
      emitS("SALSA/base_SALSA", Salsa.runSimplified(c.graph(0).edges))
    },
    verb("base_salsa_2")("[num_iter] [beta] [nodes_csv] [edges_csv]") { c =>
      // Reference argv layout is [num_iter] [beta] [nodes] [edges]
      // (reference `src/base_salsa_2.py`); beta is parsed there but has
      // no effect on the non-teleport kernel, so a 4-arg invocation
      // accepts and ignores it instead of silently binding '0.8' as the
      // nodes path.
      val g = c.graph(if (c.a.length >= 4) 2 else 1)
      emitS("SALSA/base_SALSA_2", Salsa.run(g, c.intArg(0, "8", "num_iter")))
    },
    verb("weighted_salsa")("[weight_col] [nodes_csv] [edges_csv]") { c =>
      emitS("SALSA/weighted_SALSA",
        Salsa.runWeightedSimplified(c.graph(1, c.arg(0, "mrho:double")).edges))
    },
    verb("random_teleport_salsa")("[num_iter] [beta] [nodes_csv] [edges_csv]") { c =>
      emitS("SALSA/random_teleport_SALSA", Salsa.runTeleport(c.graph(2),
        c.doubleArg(1, "0.8", "beta"), c.intArg(0, "8", "num_iter")))
    },
    verb("topic_specific_salsa")(
        "<topic> [num_iter] [beta] [nodes_csv] [edges_csv]") { c =>
      val t = c.topic
      emitS(s"SALSA/topic_specific_SALSA/$t", Salsa.runTopicSpecific(
        c.graph(3), t, c.doubleArg(2, "0.8", "beta"), c.intArg(1, "8", "num_iter")))
    },
    verb("query_dependent_salsa")("<topic> [nodes_csv] [edges_csv]") { c =>
      val t = c.topic
      emitS(s"SALSA/query_dependent_SALSA/$t",
        Salsa.runQueryDependent(c.graph(1), t))
    },
    verb("list_topics")("[nodes_csv]") { c =>
      Topics.list(GraphIO.readNodesCsv(c.spark, c.arg(0, DefaultNodes)))
        .coalesce(1).write.mode("overwrite").text("outputs/node_topics.txt")
      println("Topics written to outputs/node_topics.txt")
    },
    verb("draw_graph")("[num_iter] [nodes_csv] [edges_csv]") { c =>
      // Engine-side analog of the reference's base_hits.py →
      // draw_graphs.py flow: run base HITS, then emit the three
      // color-coded views (hub / authorities / both) — raster PNGs
      // like the reference plus DOT text sinks — from the same seeded
      // sample inputs the reference collects.
      val g = c.graph(1)
      val r = Hits.run(g, c.intArg(0, "8", "num_iter"))
      RankOutput.writeDotGraphs(g.edges, r.hubs, r.auths, "outputs", "base")
      GraphRender.writePngGraphs(g.edges, r.hubs, r.auths, "outputs", "base")
      println("Graphs written: outputs/graph_base_{hub,authorities," +
        "HubAndAuthorities}.{png,dot}")
    },
    // ---- kernel-family extensions (not reference scripts) ----
    verb("pagerank")("[num_iter] [damping] [nodes_csv] [edges_csv]") { c =>
      val g = c.graph(2)
      emitRank("PageRank", "Top 10 PageRank scores:", PageRank.run(g,
        c.doubleArg(1, "0.85", "damping"), c.intArg(0, "8", "num_iter")))
    },
    verb("pagerank_personalized")(
        "<topic> [num_iter] [damping] [nodes_csv] [edges_csv]") { c =>
      // Personalized variant: teleport to a topic seed set — same CLI
      // shape as topic_specific_hits.
      val t = c.topic
      val g = c.graph(3)
      emitRank(s"PageRank_personalized/$t",
        s"Top 10 personalized-PageRank scores ($t):",
        PageRank.runPersonalized(g, t, c.doubleArg(2, "0.85", "damping"),
          c.intArg(1, "8", "num_iter")))
    },
    // convergence kernels: run to the fixed point (max-delta below
    // tol) instead of a fixed iteration count; the reached iteration
    // is printed so a caller can pin it downstream
    verb("hits_converged")("[tol] [max_iter] [nodes_csv] [edges_csv]") { c =>
      val fp = Hits.runConverged(c.graph(2), c.doubleArg(0, "1e-9", "tol"),
        c.intArg(1, "50", "max_iter"))
      println(convergenceLine(fp.iterations, fp.converged))
      emit("converged_HITS", fp.result)
    },
    verb("salsa_converged")("[tol] [max_iter] [nodes_csv] [edges_csv]") { c =>
      val fp = Salsa.runConverged(c.graph(2), c.doubleArg(0, "1e-9", "tol"),
        c.intArg(1, "50", "max_iter"))
      println(convergenceLine(fp.iterations, fp.converged))
      emitS("SALSA/converged_SALSA", fp.result)
    },
    verb("pagerank_converged")(
        "[damping] [tol] [max_iter] [nodes_csv] [edges_csv]") { c =>
      val fp = PageRank.runConverged(c.graph(3),
        c.doubleArg(0, "0.85", "damping"), c.doubleArg(1, "1e-7", "tol"),
        c.intArg(2, "80", "max_iter"))
      println(convergenceLine(fp.iterations, fp.converged))
      emitRank("PageRank_converged", "Top 10 PageRank scores:", fp.result)
    },
    // ---- structural signals over the same CSVs, each (but the
    // weighted and sampled variants) also over a persisted index ----
    verb("structural_index")("<out_dir> [nodes_csv] [edges_csv]") { c =>
      // Build-once half of the structural lifecycle: persist the
      // undirected simple projection + endpoint degrees the whole
      // structural family starts from, so an analysis session pays
      // the corpus-scale distinct-shuffle ONCE (the band_index /
      // ivf_index pattern).
      c.need(1, s"${c.cmd} requires an output directory")
      StructuralIndex.write(c.graph(1).edges, c.a(0))
      println(s"Structural index written to ${c.a(0)}")
    },
    withIndexed("triangles", "[nodes_csv] [edges_csv]", "") { (c, idx) =>
      // per-node triangle counts + clustering coefficients over the
      // undirected simple projection
      triangleScores(idx.fold(Triangles.perNode(c.graph(0).edges))(d =>
        Triangles.perNodeOn(StructuralIndex.undirected(c.spark, d),
          StructuralIndex.degrees(c.spark, d))),
        "triangles", "count", "counts")
    },
    verb("triangles_weighted")("[nodes_csv] [edges_csv]") { c =>
      // per-node triangle count + the summed edge strength of the
      // node's triangles (micro-unit-exact)
      triangleScores(Triangles.perNodeWeighted(c.graph(0).edges),
        "strength", "strength", "strength")
    },
    verb("triangles_approx")("[p_permille] [nodes_csv] [edges_csv]") { c =>
      // DOULION sampled global triangle count; p_permille <= 0 (the
      // default) derives the rate from the corpus's undirected edge
      // count (Triangles.autoPPermille).
      val g = c.graph(1)
      val plan = Triangles.approxCount(g.edges, c.intArg(0, "0", "p_permille"))
      val row = plan.head()
      Checkpoints.releaseAll(plan) // sampled-projection checkpoints
      println(s"DOULION triangle estimate (p = ${row.getInt(0)} permille): " +
        s"sampled_edges=${row.getLong(1)}, " +
        s"sampled_triangles=${row.getLong(2)}, " +
        s"triangles_est=${row.getDouble(3)}")
    },
    withIndexed("link_predict", "[k] [nodes_csv] [edges_csv]", "[k]") { (c, idx) =>
      // top-k missing links by common-neighbor / Adamic-Adar evidence
      val k = c.intArg(0, "20", "k")
      println(s"Top $k link-prediction candidates " +
        "(src, dst, common_neighbors, adamic_adar):")
      printRows(idx.fold(LinkPredict.topCandidates(c.graph(1).edges, k))(d =>
        LinkPredict.topCandidatesOn(
          StructuralIndex.undirected(c.spark, d, bucketed = false),
          StructuralIndex.degrees(c.spark, d, bucketed = false), k)))
    },
    withIndexed("link_predict_weighted", "[k] [nodes_csv] [edges_csv]", "[k]") {
      (c, idx) =>
      // bottleneck common strength + the 1/ln(1+strength) Adamic-Adar
      // discount
      val k = c.intArg(0, "20", "k")
      println(s"Top $k weighted link-prediction candidates " +
        "(src, dst, common_neighbors, common_strength, " +
        "adamic_adar_weighted):")
      printRows(idx.fold(
        LinkPredict.topCandidatesWeighted(c.graph(1).edges, k))(d =>
        LinkPredict.topCandidatesWeightedOn(
          StructuralIndex.undirectedWeighted(c.spark, d, bucketed = false),
          StructuralIndex.degrees(c.spark, d, bucketed = false), k)))
    },
    withIndexed("label_prop", "[iters] [nodes_csv] [edges_csv]",
        "[iters] [nodes_csv]") { (c, idx) =>
      // spread a hash-gated 30% of the node file's labels to the rest
      // by clamped deterministic majority (see `LabelProp`); seeds come
      // from the node file either way (labels are not in the index)
      val iters = c.intArg(0, "4", "iters")
      val nodes = GraphIO.readNodesCsv(c.spark, c.arg(1, DefaultNodes))
      val und = idx.fold(Triangles.undirected(
        GraphIO.readEdgesCsv(c.spark, c.arg(2, DefaultEdges))))(
        StructuralIndex.undirected(c.spark, _))
      println(s"Label counts after $iters rounds:")
      labelCounts(LabelProp.runOn(c.spark, und, labelSeeds(c, nodes), iters))
    },
    verb("label_prop_weighted")("[iters] [nodes_csv] [edges_csv]") { c =>
      // each labeled neighbor votes its edge strength instead of 1
      val g = c.graph(1)
      val iters = c.intArg(0, "4", "iters")
      println(s"Label counts after $iters weighted rounds:")
      labelCounts(LabelProp.runWeighted(c.spark, g.edges,
        labelSeeds(c, g.nodes), iters))
    },
    withIndexed("kcore", "[k] [nodes_csv] [edges_csv]", "[k]") { (c, idx) =>
      // density-tier membership by synchronous peel (see `KCore`); over
      // the index the stored degrees ARE round 0 and the bucketed
      // layout co-partitions the first semi-join
      val k = c.intArg(0, "3", "k")
      val (n, top) = countAndMax(idx.fold(KCore.run(c.graph(1).edges, k))(d =>
        KCore.runPreDegreed(StructuralIndex.undirected(c.spark, d),
          StructuralIndex.degrees(c.spark, d), k)), "core_degree")
      println(s"$k-core: $n nodes, max within-core degree ${top.getOrElse(0)}")
    },
    verb("kcore_weighted")("[min_strength] [nodes_csv] [edges_csv]") { c =>
      // peel by summed incident edge weight instead of degree
      val g = c.graph(1)
      val minS = c.doubleArg(0, "1.0", "min_strength")
      val (n, top) = countAndMax(KCore.runWeighted(g.edges, minS),
        "core_strength")
      println(s"strength-core (>= $minS): $n nodes, " +
        s"max within-core strength ${top.getOrElse(0.0)}")
    },
    withIndexed("components", "[min_strength] [nodes_csv] [edges_csv]",
        "[min_strength]") { (c, idx) =>
      // connected components via the large-star/small-star engine;
      // min_strength > 0 keeps only edges of at least that summed
      // strength (raw weight units), 0 runs the full projection. Star
      // contraction re-keys every round, so an index is read without
      // bucket metadata.
      val minS = c.doubleArg(0, "0.0", "min_strength")
      val comp =
        if (minS > 0)
          ConnectedComponents.componentsWeightedOn(idx.fold(
            Triangles.undirectedWeighted(c.graph(1).edges))(
            StructuralIndex.undirectedWeighted(c.spark, _, bucketed = false)),
            minS)
        else ConnectedComponents.componentsOn(idx.fold(
          Triangles.undirected(c.graph(1).edges))(
          StructuralIndex.undirected(c.spark, _, bucketed = false)))
      val stats = comp.agg(countDistinct(col("component")),
        count(lit(1)), max(col("n_members"))).head()
      Checkpoints.releaseAll(comp)
      println(s"components (min_strength $minS): ${stats.getLong(0)} " +
        s"components over ${stats.getLong(1)} nodes, largest " +
        s"${if (stats.isNullAt(2)) 0 else stats.getLong(2)}")
    },
    withIndexed("ktruss", "[k] [nodes_csv] [edges_csv]", "[k]") { (c, idx) =>
      // every surviving edge closes >= k-2 triangles within the
      // surviving subgraph (see `KTruss`); per-round degree orientation
      // re-keys the projection, so an index is read without bucket
      // metadata
      val k = c.intArg(0, "4", "k")
      val (n, top) = countAndMax(idx.fold(KTruss.run(c.graph(1).edges, k))(d =>
        KTruss.runOn(StructuralIndex.undirected(c.spark, d, bucketed = false),
          k)), "support")
      println(s"$k-truss: $n edges, max within-truss support ${top.getOrElse(0)}")
    },
    // ---- pipeline verbs: parquet in → parquet out ----
    verb("dedup")("<in> <out> [exact|near|clean|spans|spans_occ|spans_clean] [k]") {
      c =>
      val method = c.arg(2, "near")
      c.parquetToParquet(s"Dedup ($method)") { docs =>
        method match {
          case "exact" => Dedup.exactByHash(c.spark, docs)
          case "near"  => Dedup.nearDedupCorpus(c.spark, docs)
          case "clean" => Dedup.cleanCorpus(c.spark, docs)
          // exact-substring span dedup: the spans report, and the
          // cleaner that cuts the duplicated spans out of the corpus;
          // k is the minimum match length in tokens
          case "spans" => Dedup.dedupSpans(c.spark, docs, c.intArg(3, "5", "k"))
          case "spans_occ" => // total-occurrence evidence: within-doc repeats
            Dedup.dedupSpans(c.spark, docs, c.intArg(3, "5", "k"), minOcc = 2)
          case "spans_clean" =>
            Dedup.dedupSpansClean(c.spark, docs, c.intArg(3, "5", "k"))
          case m => throw CliArgError(s"Unknown dedup method: $m")
        }
      }
    },
    verb("classify")("<in> <out> [label_col] [train_pct]") { c =>
      // Naive Bayes over the corpus's own labels
      val trainPct = c.intArg(3, "50", "train_pct")
      if (trainPct <= 0 || trainPct >= 100)
        throw CliArgError(s"train_pct must be in 1..99, got $trainPct")
      val label = c.arg(2, "lang")
      c.parquetToParquet(s"NB predictions ($label)")(
        Classify.naiveBayes(c.spark, _, labelCol = label, trainPct = trainPct))
    },
    verb("ann")("<in> <out> [exact|lsh|ivf|q8|q8ivf|mrl|mrlivf|pq|pqivf] [nq] [k]") {
      c =>
      val name = c.arg(2, "q8ivf")
      val strategy = name match {
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
      c.parquetToParquet(s"ANN top-k ($name)")(Similarity.ann(_, strategy,
        nq = c.intArg(3, "10", "nq"), k = c.intArg(4, "5", "k")))
    },
    verb("ivf_index")("<emb> <out> [nlist] [train_frac]") { c =>
      // Persist the IVF index for a corpus (the once-per-corpus half of
      // the ANN lifecycle, the embedding analogue of band_index); nlist
      // <= 0 derives sqrt(N) from the corpus.
      val (in, out) = c.io
      Similarity.ivfIndexWrite(c.parquet(in), out,
        nlist = c.intArg(2, "0", "nlist"),
        trainFraction = c.doubleArg(3, "1.0", "train_frac"))
      println(s"IVF index written to $out")
    },
    verb("ivf_append")("<index_dir> <emb> <out_dir> [gen]") { c =>
      // Append a new generation of cell assignments for (re-)ingested
      // vectors to a persisted IVF index — assignment runs against the
      // index's PERSISTED centroids (appends never retrain; retraining
      // is an ivf_index rebuild), so it is O(delta). gen defaults to
      // (max existing generation) + 1; a plain ivf_index output (no gen
      // column) counts as generation 0. Contract enforcement costs one
      // max(gen) aggregate over the index EVEN when an explicit gen is
      // supplied (an append at or below max(gen) would silently corrupt
      // compaction) — one column-pruned scan of the index, deliberately
      // cheaper than the corruption it prevents.
      c.need(3, "ivf_append needs <index_dir> <emb.parquet> <out_dir> [gen]")
      val a = c.a
      val versioned = withGen(c.parquet(s"${a(0)}/index.parquet"))
      val cents = c.parquet(s"${a(0)}/centroids.parquet")
      // max(gen) over an EMPTY index aggregates to NULL — surface a
      // CliArgError, not an opaque NPE (band_append discipline)
      val maxRow = versioned.agg(max(col("gen"))).head
      val maxGen = if (maxRow.isNullAt(0)) None else Some(maxRow.getLong(0))
      val gen =
        if (a.length > 3) {
          // an explicit gen must still respect the append contract:
          // gen <= max(existing) would make ivf_compact keep stale rows
          // or fail on duplicate max-gen rows
          val g = c.longArg(3, "1", "gen")
          maxGen.foreach { m =>
            if (g <= m) throw CliArgError(
              s"ivf_append: gen $g is not strictly above the index's " +
                s"max generation $m — appends must use a fresh, higher " +
                "generation (compaction keeps the max-gen row per vec_id)")
          }
          g
        } else maxGen.map(_ + 1).getOrElse(throw CliArgError(
          s"ivf_append: index ${a(0)} is empty — build it with " +
            "ivf_index first"))
      Similarity.ivfIndexAppend(versioned,
          Similarity.ivfIndexEntries(c.parquet(a(1)), cents, gen))
        .write.mode("overwrite").parquet(s"${a(2)}/index.parquet")
      // carry the pinned centroids so out_dir is a complete index
      cents.write.mode("overwrite").parquet(s"${a(2)}/centroids.parquet")
      println(s"IVF index + generation $gen written to ${a(2)}")
    },
    verb("ivf_compact")("<index_dir> <out_dir>") { c =>
      // Compact a versioned IVF index to each vector's latest
      // generation, rewritten in the cell-repartitioned probe layout
      val (in, out) = c.io
      Similarity.ivfIndexCompact(withGen(c.parquet(s"$in/index.parquet")))
        .repartition(col("cid"))
        .write.mode("overwrite").parquet(s"$out/index.parquet")
      c.parquet(s"$in/centroids.parquet")
        .write.mode("overwrite").parquet(s"$out/centroids.parquet")
      println(s"Compacted IVF index written to $out")
    },
    verb("ann_persisted")("<index_dir> <emb> <out> [nq] [k]") { c =>
      c.need(3,
        "ann_persisted needs <index_dir> <embeddings.parquet> <out_dir> [nq] [k]")
      Similarity.annTopKIvfPersisted(c.spark, c.a(0), c.parquet(c.a(1)),
          nq = c.intArg(3, "10", "nq"), k = c.intArg(4, "5", "k"))
        .write.mode("overwrite").parquet(c.a(2))
      println(s"ANN top-k over persisted index written to ${c.a(2)}")
    },
    verb("recall_audit_appended")("<emb> <out> [nq] [k] [nlist] [nprobe]") { c =>
      // Recall-drift audit of the appended IVF lifecycle (build on the
      // first half, append the growth against the pinned centroids,
      // probe; fresh rebuild side by side, plus both indexes'
      // cell-imbalance rebuild trigger); nlist <= 0 derives the sqrt(N)
      // cell count from the corpus.
      c.parquetToParquet("Appended-IVF recall audit") { emb =>
        val nl = c.intArg(4, "0", "nlist")
        Similarity.recallAuditAppended(emb,
          nq = c.intArg(2, "10", "nq"), k = c.intArg(3, "5", "k"),
          nlist = if (nl > 0) nl else Similarity.autoNlist(emb.count()),
          nprobe = c.intArg(5, "4", "nprobe"))
      }
    },
    verb("clusters")("<emb> <out> [nlist]") { c =>
      // corpus cluster-composition report over an embedding table
      c.parquetToParquet("Cluster report")(
        Similarity.clusterReport(_, nlist = c.intArg(2, "0", "nlist")))
    },
    verb("split")("<in> <out> [id_col] [train val test (per-mille)]") { c =>
      val (in, out) = c.io
      val weights = if (c.a.length > 3) {
        val w = Seq("train" -> c.intArg(3, "0", "train per-mille"),
          "val" -> c.intArg(4, "0", "val per-mille"),
          "test" -> c.intArg(5, "0", "test per-mille"))
        // 0 drops a split; the rest must be a per-mille partition
        if (w.exists(_._2 < 0) || w.map(_._2).sum != 1000)
          throw CliArgError(s"${c.cmd}: per-mille weights must be " +
            s"non-negative and sum to 1000, got ${w.map(_._2).mkString(" ")}")
        w.filter(_._2 > 0)
      } else Seq("train" -> 900, "val" -> 50, "test" -> 50)
      Sampling.splitByHash(c.spark, c.parquet(in), c.arg(2, "doc_id"), weights)
        .write.mode("overwrite").partitionBy("split").parquet(out)
      println(s"Split ${weights.map(w => s"${w._1}=${w._2}‰").mkString(" ")} " +
        s"written to $out (partitioned by split)")
    },
    verb("shuffle")("<in> <out> [id_col]") { c =>
      c.parquetToParquet("Deterministic shuffle")(
        Sampling.shuffleByHash(c.spark, _, c.arg(2, "doc_id")))
    },
    verb("pack")("<in> <out> [capacity] [buckets] [id_col] [text_col]") { c =>
      val (in, out) = c.io
      val assignments = Packing.packDocs(c.spark, c.parquet(in),
        c.arg(4, "doc_id"), c.arg(5, "text"),
        capacity = c.longArg(2, "2048", "capacity"),
        buckets = c.intArg(3, "32", "buckets"))
      assignments.write.mode("overwrite").parquet(s"$out/assignments")
      Packing.packManifest(assignments, c.arg(4, "doc_id"))
        .write.mode("overwrite").parquet(s"$out/manifest")
      println(s"Pack assignments + manifest written under $out/")
    },
    verb("kmv")("<in> <out> [group_col] [value_col] [pairs]") { c =>
      // Sketch-based distinct counting + pairwise overlap audit over
      // any parquet table: one estimate row per group, plus the
      // pairwise Jaccard matrix when `pairs` is passed.
      val (in, out) = c.io
      val df = c.parquet(in)
      val (g, v) = (col(c.arg(2, "source")), col(c.arg(3, "text")).cast("string"))
      Sketches.kmvDistinct(c.spark, df, g, v)
        .write.mode("overwrite").parquet(s"$out/distinct")
      if (c.arg(4, "") == "pairs")
        Sketches.kmvPairwiseJaccard(c.spark, df, g, v)
          .write.mode("overwrite").parquet(s"$out/overlap")
      println(s"KMV distinct estimates written under $out/")
    },
    verb("search")("<in> <out> <terms,csv> [k] [emb.parquet probe_vec_id]") { c =>
      // BM25 keyword search, and with an embeddings table and a numeric
      // probe id, hybrid sparse+dense RRF
      c.io
      val terms = c.arg(2, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (terms.isEmpty)
        throw CliArgError(s"${c.cmd} requires a comma-separated term list " +
          "as its third argument")
      val k = c.intArg(3, "20", "k")
      if (c.a.length > 4) c.parquetToParquet(s"Hybrid RRF top-$k")(
        Retrieval.hybridRrf(_, c.parquet(c.a(4)), terms,
          queryVecId = c.longArg(5, "0", "probe_vec_id"), topK = k))
      else c.parquetToParquet(s"BM25 top-$k")(Retrieval.bm25(_, terms, depth = k))
    },
    verb("cms")("<in> <out> [value_col] <probes,csv>") { c =>
      // Count-Min point estimates over any parquet column
      c.io
      val probes = c.arg(3, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (probes.isEmpty)
        throw CliArgError(s"${c.cmd} requires a comma-separated probe list " +
          "as its fourth argument")
      c.parquetToParquet(s"CMS estimates for ${probes.size} probes")(
        Sketches.cmsCounts(c.spark, _, col(c.arg(2, "text")), probes))
    },
    verb("heavy")("<in> <out> [value_col] [k]") { c =>
      // exact heavy hitters of any parquet column (MG candidates +
      // bounded recount)
      c.parquetToParquet("Heavy hitters")(Sketches.heavyHitters(c.spark, _,
        col(c.arg(2, "text")), k = c.intArg(3, "64", "k")))
    },
    verb("vocab")("<in> <out> [min_count] [max_size]") { c =>
      // vocabulary induction (the tokenizer-training input)
      c.parquetToParquet("Vocabulary")(TextMetrics.vocabulary(_,
        minCount = c.longArg(2, "2", "min_count"),
        maxSize = c.intArg(3, "1000", "max_size")))
    },
    verb("bpe_train")("<in> <out> [num_merges] [fast|dist]") { c =>
      // Learn a BPE merge list (rank, lhs, rhs, pcnt). "fast" (default)
      // is the driver-local greedy over the bounded word dictionary, one
      // corpus job; "dist" the all-Spark loop, two jobs per merge; same
      // merges either way.
      val k = c.intArg(2, "16", "num_merges")
      if (k < 1) throw CliArgError(s"${c.cmd}: num_merges must be >= 1, got $k")
      val fast = c.arg(3, "fast") match {
        case "fast" => true
        case "dist" => false
        case other => throw CliArgError(
          s"${c.cmd}: mode must be fast|dist, got '$other'")
      }
      c.parquetToParquet("BPE merges") { docs =>
        try pipelines.BpeTrain.merges(docs, numMerges = k, fast = fast)
        catch {
          case e: IllegalArgumentException
              if e.getMessage != null && e.getMessage.contains("exhausted") =>
            throw CliArgError(s"${c.cmd}: ${e.getMessage}")
        }
      }
    },
    verb("quality_cut")("<in> <out> [q] [by_source]") { c =>
      // dynamic quality curation, corpus-wide or per source
      c.parquetToParquet("Quality survivors") { docs =>
        val q = c.doubleArg(2, "0.75", "q")
        if (c.boolArg(3, "false", "by_source"))
          TextMetrics.qualityCutoffBySource(docs, q)
        else TextMetrics.qualityCutoff(docs, q)
      }
    },
    verb("curate")("<in> <out> [min_quality] [lang] [total] [alpha]") { c =>
      // the full curation chain
      c.parquetToParquet("Curated temperature draw")(Dedup.curate(c.spark, _,
        minQuality = c.doubleArg(2, "0.5", "min_quality"),
        lang = c.arg(3, "en"),
        total = c.intArg(4, "100", "total"),
        alpha = c.doubleArg(5, "0.5", "alpha")))
    },
    verb("canonical")("<in> <out> [prio_mod]") { c =>
      // Cross-source canonical dedup: per near-dup cluster keep the
      // highest-priority source's doc (doc_id tiebreak).
      c.parquetToParquet("Canonical survivors")(Dedup.canonicalByPriority(
        c.spark, _, sourcePriority(c.intArg(2, "5", "prio_mod"))))
    },
    verb("canonical_indexed")("<docs> <clusters_index_dir> <out> [prio_mod]") { c =>
      // Re-pick canonicals from a PERSISTED clusters_index — a trust
      // policy change never re-runs the corpus dedup.
      c.need(3, "canonical_indexed needs <docs.parquet> <clusters_index> " +
        "<out_dir> [prio_mod]")
      val asg = clusterAssignments(c, c.a(1))
      Dedup.canonicalByPriorityIndexed(c.parquet(c.a(0)), asg,
          sourcePriority(c.intArg(3, "5", "prio_mod")))
        .write.mode("overwrite").parquet(c.a(2))
      println(s"Canonical survivors written to ${c.a(2)}")
    },
    verb("token_budget", "token_budget_sliced")("<in> <out> [budget] [slices]") { c =>
      // Token-budget curation: best-quality prefix per source within a
      // token budget. The default path is the range-sliced scan —
      // identical output to the window form, but partitions stay
      // bounded however hot a source (SCALING r15: sliced 1.29× at 10×
      // vs the window's 5.24×, and 26% faster under a 10M-row hot
      // source). slices <= 0 derives the slice count from the session.
      c.parquetToParquet("Token-budget survivors (sliced scan)")(
        Sampling.tokenBudgetPerGroupSliced(_, "source", "doc_id",
          functions.TextFunctions.qualityScore(col("text")),
          functions.TextFunctions.tokenCount(col("text")),
          budget = c.longArg(2, "1500", "budget"),
          slices = c.intArg(3, "0", "slices")))
    },
    verb("token_budget_window")("<in> <out> [budget]") { c =>
      // The one-window-per-group form: fine when no single group
      // outgrows an executor partition; the sliced default is the
      // 100 TB path.
      c.parquetToParquet("Token-budget survivors")(
        Sampling.tokenBudgetPerGroup(_, "source", "doc_id",
          functions.TextFunctions.qualityScore(col("text")),
          functions.TextFunctions.tokenCount(col("text")),
          budget = c.longArg(2, "1500", "budget")))
    },
    // Checkpointed two-phase restart drains (stop + resume from the
    // checkpoint, multi-batch time-ordered admission per phase —
    // [[graft.streaming.Restart.twoPhaseDrain]]). <sf_dir> must contain
    // events.parquet (ts is normalized to epoch-nanos by GraphIO.events
    // whatever the file's unit).
    restartVerb("restart_totals", "cli-totals")((spark, src) =>
      streaming.EventPipelines
        .runningTotalsStream(spark, src, maxUser = Long.MaxValue).toDF()),
    restartVerb("restart_sessionize", "cli-sessionize")((spark, src) =>
      streaming.EventPipelines.sessionizeStream(spark, src).toDF()),
    verb("ingest_curate")("<in> <out> [prio_mod]") { c =>
      // Stream→curate composition: an AvailableNow drain dedups
      // normalized text within the watermark horizon (streaming state
      // bounded by the horizon's distinct classes), survivor identity
      // is the batch-side min doc_id per class, and the survivors feed
      // the canonical verb's cross-source pick.
      val (in, out) = c.io
      val spark = c.spark
      val docs = c.parquet(in).select(col("doc_id"), col("source"), col("text"))
      val drained = streaming.Drain(spark, docs, "append") { ds =>
        ds.readStream.schema(c.parquet(in).schema).parquet(in)
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("norm_text",
            functions.TextFunctions.normalizeText(ds, col("text")))
          .withColumn("event_time", timestamp_micros(col("doc_id")))
          .withWatermark("event_time", "1 hour")
          .dropDuplicatesWithinWatermark("norm_text")
      }
      val survivors = docs
        .withColumn("norm_text",
          functions.TextFunctions.normalizeText(spark, col("text")))
        .join(drained.select(col("norm_text")).distinct(),
          Seq("norm_text"))
        .groupBy(col("norm_text")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      Dedup.canonicalByPriority(spark, docs.join(survivors, Seq("doc_id")),
          sourcePriority(c.intArg(2, "5", "prio_mod")))
        .write.mode("overwrite").parquet(out)
      println(s"Ingest-curated canonical survivors written to $out")
    },
    // ---- incremental near-dup lifecycle ----
    verb("band_index")("<docs> <out>") { c =>
      // persist the LSH band-signature index for a corpus (the
      // once-per-corpus half of incremental near-dup)
      c.parquetToParquet("Band index")(Dedup.bandTable(c.spark, _))
    },
    verb("band_append")("<band_index_dir> <docs> <out> [gen]") { c =>
      // Append a new generation of signatures for (re-)ingested docs to
      // a persisted index — pure file append, nothing corpus-sized
      // rewritten. gen defaults to (max existing generation) + 1; a
      // plain band_index output counts as generation 0.
      c.need(3, "band_append needs <index.parquet> <docs.parquet> <out_dir> [gen]")
      val a = c.a
      val versioned = withGen(c.parquet(a(0)))
      val gen =
        if (a.length > 3) c.longArg(3, "1", "gen")
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
          Dedup.bandIndexEntries(c.spark, c.parquet(a(1)), gen))
        .write.mode("overwrite").parquet(a(2))
      println(s"Band index + generation $gen written to ${a(2)}")
    },
    verb("band_compact")("<band_index_dir> <out>") { c =>
      // compact a versioned index to each doc's latest generation
      // (probe-shaped output)
      c.parquetToParquet("Compacted band index")(idx =>
        Dedup.bandIndexCompact(withGen(idx)))
    },
    verb("inc_dedup")("<corpus_or_band_index> <delta> <out>") { c =>
      // Incremental near-dup: delta docs vs an existing corpus — either
      // raw corpus documents (index built in-run) or a band_index /
      // band_append output (detected by schema; the true O(delta)
      // daily-delta path).
      c.need(3,
        "inc_dedup needs <corpus_or_index.parquet> <delta.parquet> <out_dir>")
      val left = c.parquet(c.a(0))
      val delta = c.parquet(c.a(1))
      bandIndex(left).fold(Dedup.incrementalMinhash(c.spark, left, delta))(
          Dedup.incrementalMinhashIndexed(c.spark, _, delta))
        .write.mode("overwrite").parquet(c.a(2))
      println(s"Incremental near-dup pairs written to ${c.a(2)}")
    },
    verb("clusters_index")("<docs> <out>") { c =>
      // persist the resolved duplicate-cluster assignments for a corpus
      // (the once-per-corpus half of incremental cluster maintenance,
      // alongside band_index)
      c.parquetToParquet("Cluster assignments")(docs =>
        ConnectedComponents.clusters(
          Dedup.minhashLsh(c.spark, docs, ordered = false)))
    },
    verb("inc_clusters")(
        "<corpus> <delta> <out> | <band_index_dir> <clusters_index_dir> <delta> <out>") {
      c =>
      // Incremental near-dup CLUSTER maintenance: existing corpus's
      // clusters + delta probes -> updated clusters, equal to a
      // from-scratch rebuild. The 3-argument form derives the index and
      // base clusters in-run; the 4-argument form reads both halves
      // from storage — the TRUE O(delta) path: no corpus-sized pass.
      val a = c.a
      if (a.length == 4) {
        val idxDf = c.parquet(a(0))
        val idx = bandIndex(idxDf).getOrElse(throw CliArgError(
          s"inc_clusters: ${a(0)} is not a band index " +
            s"(columns ${idxDf.columns.toSet.mkString(",")}; expected " +
            "doc_id,band,sig[,gen])"))
        Dedup.incrementalClustersIndexed(c.spark, idx,
            clusterAssignments(c, a(1)), c.parquet(a(2)))
          .write.mode("overwrite").parquet(a(3))
        println(s"Incremental clusters written to ${a(3)}")
      } else if (a.length == 3) {
        Dedup.incrementalClusters(c.spark, c.parquet(a(0)), c.parquet(a(1)))
          .write.mode("overwrite").parquet(a(2))
        println(s"Incremental clusters written to ${a(2)}")
      } else throw CliArgError(
        "inc_clusters needs <corpus> <delta> <out> or " +
          "<band_index> <clusters_index> <delta> <out>")
    }
  ).flatten

  private lazy val byName: Map[String, Verb] = {
    val named = verbs.flatMap(v => v.names.map(_ -> v))
    require(named.map(_._1).distinct.size == named.size,
      "a verb name is declared twice")
    named.toMap
  }

  /** The usage text: one synopsis line per declared verb. */
  private[graft] def usageText: String =
    verbs.map(v => "  " + s"${v.names.mkString(" | ")} ${v.synopsis}".trim)
      .mkString("Usage: graft.Main <verb> [args]\n", "\n", "")

  private def usage(): Unit = System.err.println(usageText)

  private[graft] def run(spark: SparkSession, cmd: String, a: Array[String]): Unit =
    byName.getOrElse(cmd, throw CliArgError(s"Unknown kernel: $cmd"))
      .body(new Cli(spark, cmd, a))

  /** A checkpointed two-phase restart drain of `<sf_dir>`'s events
    * through `pipeline`, written to `<out_dir>`. */
  private def restartVerb(name: String, tag: String)(
      pipeline: (SparkSession, DataFrame) => DataFrame): Seq[Verb] =
    verb(name)("<sf_dir> <out_dir>") { c =>
      c.need(2, s"${c.cmd} needs <sf_dir> <out_dir>")
      streaming.Restart.twoPhaseDrain(c.spark, GraphIO.events(c.spark, c.a(0)),
          tag, c.a(0), pipeline(c.spark, _))
        .write.mode("overwrite").parquet(c.a(1))
      println(s"Restart-drain output written to ${c.a(1)}")
    }

  /** Human-readable convergence status for the `*_converged` verbs —
    * an UN-converged (maxIter-capped) run must say so explicitly, not
    * leave the caller to compare the count against the cap. */
  private def convergenceLine(iters: Int, converged: Boolean): String =
    if (converged) s"converged after $iters iterations"
    else s"NOT converged: stopped at the max_iter cap ($iters iterations); " +
      "scores are the best available refinement, not a certified fixed point"

  /** A band index (`band_index` output, or a versioned `band_append`
    * output compacted to its latest generations), or None for any other
    * table. */
  private def bandIndex(df: DataFrame): Option[DataFrame] =
    df.columns.toSet match {
      case s if s == Set("doc_id", "band", "sig") => Some(df)
      case s if s == Set("doc_id", "band", "sig", "gen") =>
        Some(Dedup.bandIndexCompact(df))
      case _ => None
    }

  /** A `clusters_index` output read from `path`, schema-checked. */
  private def clusterAssignments(c: Cli, path: String): DataFrame = {
    val asg = c.parquet(path)
    if (!Set("doc_id", "cluster_id").subsetOf(asg.columns.toSet))
      throw CliArgError(
        s"${c.cmd}: $path is not a clusters_index output " +
          s"(columns ${asg.columns.mkString(",")}; expected " +
          "doc_id,cluster_id[,n_members])")
    asg
  }

  /** A persisted index with its generation column; an unversioned index
    * is generation 0. */
  private def withGen(idx: DataFrame): DataFrame =
    if (idx.columns.contains("gen")) idx else idx.withColumn("gen", lit(0L))

  /** Source priority for the canonical verbs: the numeric source
    * suffix, mod `m` (0 disables the mod — raw suffix order). */
  private def sourcePriority(m: Int): Column = {
    val suffix = expr("substring(source, 4)").cast("int")
    if (m > 0) suffix % m else suffix
  }

  /** The hash-gated 30% of `nodes` whose labels seed label propagation. */
  private def labelSeeds(c: Cli, nodes: DataFrame): DataFrame =
    nodes.filter(graft.functions.GraftHash.graftHash(c.spark, col("id")) % 100 < 30)
      .select(col("id"), col("label"))

  /** Print the final label histogram of a propagation result. */
  private def labelCounts(labels: DataFrame): Unit = {
    val plan = labels
      .groupBy(coalesce(col("label"), lit("unlabeled")).as("label"))
      .count().orderBy(col("label"))
    val rows = plan.collect()
    Checkpoints.releaseAll(plan) // final label vector
    rows.foreach(r => println(s"('${r.getString(0)}', ${r.getLong(1)})"))
  }

  /** Row count and max of `maxCol` over a peel result (None when empty),
    * releasing its checkpoints. */
  private def countAndMax(df: DataFrame, maxCol: String): (Long, Option[Any]) = {
    val stats = df.agg(count(lit(1)), max(col(maxCol))).head()
    Checkpoints.releaseAll(df) // peeled edge list
    (stats.getLong(0), Option(stats.get(1)))
  }

  /** Collect a link-prediction result, release its checkpoints (so a
    * long-lived session does not accumulate superseded blocks), and
    * print its rows as tuples: string ids quoted, scores bare. */
  private def printRows(plan: DataFrame): Unit = {
    val rows = plan.collect()
    Checkpoints.releaseAll(plan)
    rows.foreach(r => println(r.toSeq.map {
      case s: String => s"'$s'"
      case v => v.toString
    }.mkString("(", ", ", ")")))
  }

  /** Per-node triangle `score` column: materialized once (the text sink
    * and the top-10 print are two actions, and the wedge joins dominate
    * the cost), written to outputs/Triangles/<file>.txt. */
  private def triangleScores(plan: DataFrame, score: String, noun: String,
      file: String): Unit = {
    val t = Checkpoints.materialize(plan)
    Checkpoints.releaseAll(plan) // inner und/oriented blocks; t stands alone
    RankOutput.writeScoresText(
      t.select(col("id"), col(score).cast("double").as("score")),
      s"outputs/Triangles/$file.txt")
    println(s"Top 10 triangle ${noun}s:")
    t.orderBy(col(score).desc, col("id")).limit(10).collect()
      .foreach(row => println(s"('${row.getString(0)}', ${row.getAs[Any](score)})"))
    Checkpoints.release(t)
    println(s"${noun.capitalize}s written under outputs/Triangles/")
  }

  /** A score vector written under outputs/<dir>/ with its top 10 printed. */
  private def emitRank(dir: String, header: String, scores: DataFrame): Unit = {
    RankOutput.writeScoresText(scores, s"outputs/$dir/scores.txt")
    printTop(header, scores)
    println(s"Scores written under outputs/$dir/")
  }

  private def emit(dir: String, r: Hits.Result): Unit =
    writeBoth(dir, r.hubs, r.auths)
  private def emitS(dir: String, r: Salsa.Result): Unit =
    writeBoth(dir, r.hubs, r.auths)

  private def writeBoth(dir: String, hubs: DataFrame, auths: DataFrame): Unit = {
    RankOutput.writeScoresText(hubs, s"outputs/$dir/hub_scores.txt")
    RankOutput.writeScoresText(auths, s"outputs/$dir/authority_scores.txt")
    printTop("Top 10 hub scores:", hubs)
    printTop("Top 10 authority scores:", auths)
    println(s"Scores written under outputs/$dir/")
  }

  private def printTop(header: String, scores: DataFrame): Unit = {
    println(header)
    RankOutput.topK(scores, 10).collect()
      .foreach(row => println(s"('${row.getString(0)}', ${row.getDouble(1)})"))
  }
}
