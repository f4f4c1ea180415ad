package graft

import graft.operators.Hits
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-of-magnitude scaling evidence: derives a reps× corpus from an
  * sf dir by key-shifted replication (each replica's keys move into a
  * disjoint range, so node and edge counts really grow reps× — no
  * artificial duplicate collapse), then times the swept gates on both
  * corpora on the same cores.
  *
  * The point is the scaling *shape*, not absolute numbers: a gate whose
  * plan holds at 1000 executors should scale ~linearly in rows here
  * (same partition count, reps× rows per partition), and the skewed
  * event graph's hot authorities stress AQE skew handling.
  *
  * Every timed query is a registered gate, resolved through
  * [[SparkEntry.byName]], so a row measures exactly what the oracle
  * certifies.
  *
  * {{{
  * sbt "runMain graft.ScaleBench [baseSfDir] [scaledDir] [reps] [mode]"
  * }}}
  *
  * Modes: none (the full [[sweep]] in declared order), `seed:<n>` (the
  * sweep with its order shuffled by the seed, so family placement —
  * who pays the cold scan or the first-in-family warm — rotates between
  * runs) and `one:<gate>` (any registered gate alone on both corpora).
  * Every mode times each gate cold then warm on both corpora, back to
  * back, after the standard warm-up ([[benchPaired]]). The sweep prints
  * one JSON line per corpus with per-gate warm seconds, then one
  * warm/warm ratio per swept gate; `one:` prints one `scale_one` line
  * with both passes. Results land in SCALING.md by hand.
  */
object ScaleBench {

  private val Shift = 10000000L // far above every sf0.1 key range

  /** The gates the default sweep times, in run order: graph kernels and
    * structural operators, then the training-data pipelines, streaming
    * drains, per-user windows and multimodal codecs. */
  private[graft] val sweep: Seq[String] = Seq(
    "graph_degrees", "hits_base", "graph_triangles", "graph_link_predict",
    "graph_kcore", "graph_label_prop", "graph_components", "graph_ktruss",
    "hits_teleport", "salsa_iterative", "hits_query_dependent",
    "evt_hits_base", "dedup_minhash_lsh", "pipeline_near_dedup",
    "text_tfidf", "dedup_passages", "text_scrub", "corpus_shingle_kmv",
    "decontaminate", "decontaminate_bloom", "ann_topk_lsh",
    "dedup_semantic", "ann_topk_q8", "ann_topk_mrl", "ann_topk_q8_ivf",
    "pack_sequences", "search_bm25", "search_hybrid_rrf",
    "text_inverted_index", "corpus_heavy_tokens", "corpus_token_cms",
    "text_chunks", "dedup_winnow", "text_unigram_nll", "text_vocabulary",
    "text_bigram_nll", "dedup_containment", "corpus_quote_matrix",
    "dedup_incremental_minhash", "dedup_minhash_estimate",
    "corpus_clusters", "bpe_train", "stream_token_cms",
    "band_index_lifecycle", "dedup_clusters_incremental",
    "ann_recall_audit", "stream_range_join", "stream_dedup",
    "ann_topk_ivf_persisted", "stream_percentiles",
    "stream_percentiles_sketch", "stream_percentiles_gk",
    "events_sessionize_native", "dedup_canonical_priority",
    "sample_token_budget", "sample_token_budget_sliced", "bpe_train_fast",
    "ann_recall_audit_appended", "stream_restart_totals",
    "stream_restart_sessionize", "stream_restart_repartitioned",
    "stream_ingest_curate", "dedup_spans", "dedup_spans_clean",
    "classify_nb", "stream_sessionize_tws", "stream_restart_tws",
    "pagerank_personalized", "events_sessionize",
    "events_sessionize_salted", "events_window", "multimodal_frames",
    "multimodal_image_roundtrip", "multimodal_audio_roundtrip",
    "multimodal_resize_real")

  private lazy val gates = SparkEntry.byName

  private def replicate(spark: SparkSession, baseDir: String,
      outDir: String, reps: Int): Unit = {
    def scaled(table: String, keyCols: Seq[String]): DataFrame = {
      val df = spark.read.parquet(s"$baseDir/$table.parquet")
      (0 until reps).map { r =>
        keyCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(r * Shift)))
      }.reduce(_ unionAll _)
    }
    scaled("orders", Seq("o_orderkey", "o_custkey"))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    scaled("lineitem", Seq("l_orderkey", "l_partkey"))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    // events: shift users (the hub side); keep event_type so the skewed
    // authorities get ~reps x their in-degree — the skew stress case.
    // Plain read + write round-trips the file's own timestamp unit;
    // consumers go through GraphIO.events, which normalizes ts.
    scaled("events", Seq("user_id", "event_id"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // documents: shift ids AND salt the text per replica (append a
    // replica tag token) so shingle/minhash/exact-dedup work genuinely
    // grows — unsalted replicas would make every replica an exact dup
    // and collapse the near-dup clusters into reps-sized stars instead
    // of growing the corpus. Replica 0 keeps the original text so
    // base-corpus structure survives.
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    (0 until reps).map { r =>
      docs.withColumn("doc_id", col("doc_id") + lit(r * Shift))
        .withColumn("text", if (r == 0) col("text")
          else concat(col("text"), lit(s" rep$r")))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    // embeddings: shift ids; keep vectors (ANN work scales with corpus
    // row count; identical vectors across replicas are just near-dups,
    // which is the realistic hard case for the candidate stages).
    scaled("embeddings", Seq("vec_id"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** Two back-to-back runs of `name` over `dir` through the noop sink,
    * the per-pass shape of `Bench` — (first, warm) seconds. */
  private def timedTwice(spark: SparkSession, name: String, dir: String)
      : (Double, Double) = {
    def timeNoop(): Double = {
      val t0 = System.nanoTime()
      gates(name).run(spark, dir, None)(SparkEntry.Gate.noop)
      (System.nanoTime() - t0) / 1e9
    }
    (timeNoop(), timeNoop())
  }

  /** Warm the shared graph caches AND the kernel codegen/JIT paths
    * (same rationale as Bench: one-time JVM cost, not operator cost). */
  private def warm(spark: SparkSession, dir: String): Unit = {
    GraphIO.orderGraph(spark, dir).edges.count()
    GraphIO.eventGraph(spark, dir).edges.count()
    Hits.run(GraphIO.orderGraph(spark, dir), numIter = 1).auths.count()
  }

  /** Each gate of `names` timed twice on both corpora after [[warm]]ing
    * both — per corpus, (first, warm) seconds by gate. A gate's four
    * passes run back to back, and which corpus goes first alternates
    * gate by gate, so both arms share the JVM's warmth instead of the
    * derived corpus running after a whole base sweep. The sweep compares
    * warm passes: a first pass also pays the gate's first-touch codegen
    * and JIT, which only the corpus that goes first would carry. Both
    * corpora's graph caches are evicted before returning. */
  private def benchPaired(spark: SparkSession, baseDir: String,
      bigDir: String, names: Seq[String])
      : Map[String, Map[String, (Double, Double)]] = {
    warm(spark, baseDir)
    warm(spark, bigDir)
    val rows = names.zipWithIndex.flatMap { case (name, i) =>
      val dirs = if (i % 2 == 0) Seq(baseDir, bigDir) else Seq(bigDir, baseDir)
      dirs.map { dir =>
        val (first, warmPass) = timedTwice(spark, name, dir)
        println(f"[scale] $dir $name $first%.2f s first, $warmPass%.2f s warm")
        (dir, name, (first, warmPass))
      }
    }
    GraphIO.evict(spark, baseDir)
    GraphIO.evict(spark, bigDir)
    rows.groupBy(_._1).map { case (dir, rs) =>
      dir -> rs.map(r => r._2 -> r._3).toMap
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/sf1-derived"
    val reps = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "all"
    require(sweep.forall(gates.contains),
      "ScaleBench sweeps unregistered gates: " +
        sweep.filterNot(gates.contains).mkString(", "))
    val one = if (mode.startsWith("one:")) Some(mode.stripPrefix("one:"))
      else None
    one.foreach(name => require(gates.contains(name),
      s"unknown gate '$name' for one: mode; valid names: " +
        gates.keys.toSeq.sorted.mkString(", ")))
    val order =
      if (mode.startsWith("seed:"))
        new scala.util.Random(mode.stripPrefix("seed:").toLong).shuffle(sweep)
      else {
        require(mode == "all" || one.isDefined,
          s"unknown mode '$mode'; modes: all, seed:<n>, one:<gate>")
        sweep
      }
    val spark = Sessions.local(Sessions.defaultCpus, "graft-scalebench")
    spark.sparkContext.setLogLevel("WARN")

    if (!new java.io.File(s"$outDir/orders.parquet/_SUCCESS").exists()) {
      val t0 = System.nanoTime()
      replicate(spark, baseDir, outDir, reps)
      println(f"generated $outDir (${reps}x $baseDir) in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    val timed = benchPaired(spark, baseDir, outDir, one.fold(order)(Seq(_)))
    val (base, big) = (timed(baseDir), timed(outDir))
    one match {
      case Some(name) =>
        val ((bf, bw), (gf, gw)) = (base(name), big(name))
        println(f"""{"metric":"scale_one","query":"$name",""" +
          f""""base_first":$bf%.2f,"base_warm":$bw%.2f,""" +
          f""""big_first":$gf%.2f,"big_warm":$gw%.2f,""" +
          f""""warm_ratio":${gw / bw}%.2f}""")
      case None =>
        def js(m: Map[String, (Double, Double)]): String =
          m.map { case (k, (_, v)) => f""""$k":$v%.3f""" }
            .mkString("{", ",", "}")
        println(s"""{"corpus":"$baseDir","queries":${js(base)}}""")
        println(s"""{"corpus":"$outDir","reps":$reps,"queries":${js(big)}}""")
        val ratios = order.map(n => f""""$n":${big(n)._2 / base(n)._2}%.2f""")
          .mkString("{", ",", "}")
        println(s"""{"metric":"scale_ratio_${reps}x","order":"$mode",""" +
          s""""ratios":$ratios}""")
    }
    spark.stop()
  }
}
