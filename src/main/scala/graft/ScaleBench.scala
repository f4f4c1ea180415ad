package graft

import graft.functions.GraftHash
import graft.operators.{ConnectedComponents, Degrees, Hits, KCore,
  LabelProp, LinkPredict, Salsa, Triangles}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-of-magnitude scaling evidence: derives a ~10x corpus from the
  * sf0.1 testdata by key-shifted replication (each replica's keys move
  * into a disjoint range, so node and edge counts really grow ~10x —
  * no artificial duplicate collapse), then times the headline kernels
  * on both corpora on the same cores.
  *
  * The point is the scaling *shape*, not absolute numbers: a kernel
  * whose plan holds at 1000 executors should scale ~linearly in edge
  * count here (same partition count, 10x rows per partition), and the
  * skewed event graph's hot authorities stress AQE skew handling.
  *
  * {{{
  * sbt "runMain graft.ScaleBench [baseSfDir] [scaledDir] [reps]"
  * }}}
  *
  * Prints one JSON line per corpus with per-query seconds, then a
  * per-query scale factor line. Results land in SCALING.md by hand.
  */
object ScaleBench {

  private val Shift = 10000000L // far above every sf0.1 key range

  /** Per-corpus persisted band index for the incremental-dedup row —
    * models the deployed once-per-corpus `band_index` build so the
    * timed path is the delta probe, not the index rebuild. */
  private val bandIndexCache =
    scala.collection.mutable.Map.empty[String, DataFrame]

  /** Events-only uniform + hot-user-skewed reps× corpora (the skewwin
    * shape), generated once per (outDir, reps) and shared by the
    * skewwin and skewstream modes. */
  private def ensureWinCorpora(spark: SparkSession, baseDir: String,
      outDir: String, reps: Int): (String, String) = {
    val uniDir = s"$outDir-uniwin$reps"
    val skewDir = s"$outDir-skewwin$reps"
    if (!new java.io.File(s"$skewDir/events.parquet/_SUCCESS").exists()) {
      val ev = spark.read.parquet(s"$baseDir/events.parquet")
      val hot = GraphIO.events(spark, baseDir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id")).head().getLong(0)
      println(s"[skewwin] hot user = $hot")
      (0 until reps).map { r =>
        ev.withColumn("user_id", col("user_id") + lit(r * Shift))
          .withColumn("event_id", col("event_id") + lit(r * Shift))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$uniDir/events.parquet")
      (0 until reps).map { r =>
        ev.withColumn("user_id",
            when(col("user_id") === hot, col("user_id"))
              .otherwise(col("user_id") + lit(r * Shift)))
          .withColumn("event_id", col("event_id") + lit(r * Shift))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$skewDir/events.parquet")
    }
    (uniDir, skewDir)
  }

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
    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    (0 until reps).map { r =>
      ev.withColumn("user_id", col("user_id") + lit(r * Shift))
        .withColumn("event_id", col("event_id") + lit(r * Shift))
    }.reduce(_ unionAll _)
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
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    (0 until reps).map { r =>
      emb.withColumn("vec_id", col("vec_id") + lit(r * Shift))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "graph_degrees" -> ((s, dir) => {
      val e = GraphIO.orderGraph(s, dir).edges
      Degrees.out(e).unionAll(Degrees.in(e))
    }),
    "hits_base" -> ((s, dir) =>
      Hits.run(GraphIO.orderGraph(s, dir)).auths),
    // degree-oriented wedge join: the structural-analytics scale risk is
    // the wedge fan-out, bounded O(√m) per node by the orientation
    "graph_triangles" -> ((s, dir) =>
      Triangles.perNode(GraphIO.orderGraph(s, dir).edges)),
    // wedge-pair scoring: the center-degree cap is the declared bound on
    // the inherently quadratic pair surface
    "graph_link_predict" -> ((s, dir) =>
      LinkPredict.topCandidates(GraphIO.orderGraph(s, dir).edges)),
    // per-round degree agg + two semi-joins on a monotonically
    // shrinking edge list
    "graph_kcore" -> ((s, dir) =>
      KCore.run(GraphIO.orderGraph(s, dir).edges, 3)),
    // per-round edge⋈label join + (node,label) partial agg — the gate's
    // exact seed rule so the measured shape matches the verified one
    "graph_label_prop" -> ((s, dir) => {
      val g = GraphIO.orderGraph(s, dir)
      val seeds = g.nodes
        .filter(GraftHash.graftHash(s, col("id")) % 100 < 30)
        .select(col("id"), col("label"))
      LabelProp.run(s, g.edges, seeds, 4)
    }),
    // large-star/small-star contraction: per round two groupBy-min
    // aggs + two SHUFFLE_HASH joins on a shrinking edge set — the
    // hub-star risk is the hot node's 40% share of the groupBy-min
    // key space, collapsed map-side (partial agg)
    "graph_components" -> ((s, dir) =>
      ConnectedComponents.componentsOn(
        Triangles.undirected(GraphIO.orderGraph(s, dir).edges))),
    // support peel: round 1 IS the triangle enumeration (the skewtri
    // surface); later rounds shrink toward the truss
    "graph_ktruss" -> ((s, dir) =>
      graft.operators.KTruss.run(GraphIO.orderGraph(s, dir).edges, 4)),
    "hits_teleport" -> ((s, dir) =>
      Hits.runTeleport(GraphIO.orderGraph(s, dir)).auths),
    "salsa_iterative" -> ((s, dir) =>
      Salsa.run(GraphIO.orderGraph(s, dir)).auths),
    "hits_query_dependent" -> ((s, dir) =>
      Hits.runQueryDependent(GraphIO.orderGraph(s, dir), "part").auths),
    "evt_hits_base" -> ((s, dir) =>
      Hits.run(GraphIO.eventGraph(s, dir)).auths),
    // training-data pipeline ops: the candidate-generation stages are
    // the scale risks (banding / bucketing must keep pairs near-linear)
    "dedup_minhash_lsh" -> ((s, dir) =>
      pipelines.Dedup.minhashLsh(s, GraphIO.documents(s, dir))),
    "pipeline_near_dedup" -> ((s, dir) =>
      pipelines.Dedup.nearDedupCorpus(s, GraphIO.documents(s, dir))),
    "text_tfidf" -> ((s, dir) =>
      pipelines.TextMetrics.tfidf(GraphIO.documents(s, dir))),
    // explode → int64 fingerprint → one hash agg; must stay ~linear in
    // total token count even when every passage recurs across replicas
    "dedup_passages" -> ((s, dir) =>
      pipelines.Dedup.repeatedPassages(s, GraphIO.documents(s, dir))),
    // pure per-row codegen'd projection — the linear floor is the scan
    "text_scrub" -> ((s, dir) =>
      pipelines.TextMetrics.scrub(GraphIO.documents(s, dir),
        "(customer|supplier)", "[X]")),
    // bounded algebraic sketch: map-side partials ship <= K int64s per
    // group however large the corpus — ratio should be the scan floor
    "corpus_shingle_kmv" -> ((s, dir) => {
      val sh = GraphIO.documents(s, dir).select(col("source"),
        explode(graft.functions.TextFunctions.shingles(col("text"), 3))
          .as("v"))
      pipelines.Sketches.kmvDistinct(s, sh, col("source"), col("v"))
    }),
    "decontaminate" -> ((s, dir) => {
      val d = GraphIO.documents(s, dir)
      pipelines.Dedup.benchmarkContamination(s,
        d.filter(col("doc_id") % 10 =!= 7), d.filter(col("doc_id") % 10 === 7))
    }),
    // bloom variant with the bitmap sized for the 10x bench set
    // (mBits must scale with the benchmark's distinct shingles — an
    // undersized bitmap saturates and the filter passes everything:
    // measured 2.8x at 10x with the sf0.01-sized 65536-bit default)
    "decontaminate_bloom" -> ((s, dir) => {
      val d = GraphIO.documents(s, dir)
      pipelines.Dedup.benchmarkContaminationBloom(s,
        d.filter(col("doc_id") % 10 =!= 7), d.filter(col("doc_id") % 10 === 7),
        mBits = 1 << 22)
    }),
    // derived bucket width (autoBits: 2^bits ∝ corpus/64) — expected
    // candidates per probe stay ~constant as the corpus grows, the
    // autoNlist discipline on the LSH axis
    "ann_topk_lsh" -> ((s, dir) =>
      pipelines.Similarity.annTopKLsh(GraphIO.embeddings(s, dir), bits = 0)),
    // The documented 100 TB configuration end-to-end: derived nlist
    // (autoNlist = ⌈√N⌉ — fixed nlist=8 measured 38.8× at 10×),
    // hash-gated SAMPLED centroid training (decouples the Lloyd pass
    // from corpus size), two-level hierarchical index assignment
    // (2·√nlist folds per vector instead of nlist), per-vector verdict
    // output (O(N), not O(dup²) pairs), and the per-cell anchor cap
    // (comparison work O(N·cap)). Round 8 measured 5.0× at 10× on the
    // pair-output formulation; the target band is ≤3×.
    "dedup_semantic" -> ((s, dir) =>
      pipelines.Similarity.semanticDuplicates(GraphIO.embeddings(s, dir),
        0.3, trainFraction = 0.1)),
    "ann_topk_q8" -> ((s, dir) =>
      pipelines.Similarity.annTopKQ8(GraphIO.embeddings(s, dir))),
    // matryoshka rung: stage 1 reads dims/D of the floats per corpus
    // row — linear like q8's stage 1, with a smaller constant
    "ann_topk_mrl" -> ((s, dir) =>
      pipelines.Similarity.annTopKMrl(GraphIO.embeddings(s, dir))),
    // the composed 100 TB ladder: IVF cell probe -> quantized scan ->
    // exact rerank; per-query cost must stay sub-linear in corpus size
    "ann_topk_q8_ivf" -> ((s, dir) =>
      pipelines.Similarity.annTopKQ8Ivf(GraphIO.embeddings(s, dir))),
    // one shuffle + per-bucket window; must stay ~linear in doc count
    "pack_sequences" -> ((s, dir) =>
      pipelines.Packing.packDocs(s, GraphIO.documents(s, dir), "doc_id",
        "text", capacity = 2000L, buckets = 8)),
    // one scan + 1-row broadcast stats + depth-bounded top-k: the
    // ratio must be the scan floor (no wide shuffle anywhere)
    "search_bm25" -> ((s, dir) =>
      pipelines.Retrieval.bm25(GraphIO.documents(s, dir),
        Seq("spark", "query", "vector"))),
    // adds the exact-cosine linear scan of the dense rung; the fusion
    // join itself is bounded (2·depth rows) at any corpus size
    "search_hybrid_rrf" -> ((s, dir) =>
      pipelines.Retrieval.hybridRrf(GraphIO.documents(s, dir),
        GraphIO.embeddings(s, dir), Seq("spark", "query", "vector"), 0L)),
    // explode → hash agg keyed by term; the df band keeps posting
    // lists bounded but the agg itself must stay ~linear in tokens
    "text_inverted_index" -> ((s, dir) =>
      pipelines.Retrieval.invertedIndex(GraphIO.documents(s, dir),
        minDf = 2, maxDf = Int.MaxValue)),
    // bounded MG candidate pass (≤ k counters per partition) + exact
    // recount of ≤ k broadcast candidates: two scans, no vocabulary-
    // sized aggregation — the ratio should be the token-scan floor
    "corpus_heavy_tokens" -> ((s, dir) =>
      pipelines.Sketches.heavyHitters(s,
        GraphIO.documents(s, dir)
          .select(explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("tok")),
        col("tok"))),
    // fixed d×w cell grid: map-side combine collapses every partition
    // to ≤2048 cells — the ratio should be the token-scan floor
    "corpus_token_cms" -> ((s, dir) =>
      pipelines.Sketches.cmsCounts(s,
        GraphIO.documents(s, dir)
          .select(explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("tok")),
        col("tok"), Seq("spark", "query", "vector", "zz_absent_probe"))),
    // membership fan-out: row volume = output volume (tokens × overlap),
    // must stay ~linear in token count
    "text_chunks" -> ((s, dir) =>
      pipelines.Packing.chunkTokens(GraphIO.documents(s, dir), 32, 16)),
    // per-document bounded sliding window (w int64s of state) + distinct
    "dedup_winnow" -> ((s, dir) =>
      pipelines.Dedup.winnow(s, GraphIO.documents(s, dir))),
    // explode → vocabulary join → two hash aggs; the unigram twin of
    // tfidf's scale shape
    "text_unigram_nll" -> ((s, dir) =>
      pipelines.TextMetrics.unigramNll(GraphIO.documents(s, dir))),
    // (term, doc) pre-agg → per-term agg → bounded head: scan floor
    "text_vocabulary" -> ((s, dir) =>
      pipelines.TextMetrics.vocabulary(GraphIO.documents(s, dir))),
    // in-plan bigram zip → bigram-vocabulary join: the dimension table
    // is bigram-vocab-sized (can approach tokens on diverse corpora) —
    // the shuffle-dim join must stay ~linear in the bigram stream
    "text_bigram_nll" -> ((s, dir) =>
      pipelines.TextMetrics.bigramNll(GraphIO.documents(s, dir))),
    // shared-shingle pair join — the df-guard must keep candidate pairs
    // near-linear as replicated docs multiply shingle document frequency
    "dedup_containment" -> ((s, dir) =>
      pipelines.Dedup.containment(GraphIO.documents(s, dir), 0.5)),
    // winnow fingerprints -> per-source distinct -> df-guarded pair join
    "corpus_quote_matrix" -> ((s, dir) =>
      pipelines.Dedup.sourceQuoteMatrix(s, GraphIO.documents(s, dir))),
    // delta-vs-index probe, measured as deployed: a FIXED-SIZE delta
    // (replica 0's odd ids — present at every scale) probes a
    // PERSISTED band index of the even-id corpus (built+cached on the
    // cold pass, exactly the once-per-corpus `band_index` CLI step).
    // The incremental claim is O(delta) probes however big the index
    // grows — the warm ratio should be ~1x, not delta or index growth
    // (the in-run-index variant would conflate probe and build cost).
    "dedup_incremental_minhash" -> ((s, dir) => {
      val d = GraphIO.documents(s, dir)
      val idx = bandIndexCache.getOrElseUpdate(dir, {
        val i = pipelines.Dedup.bandTable(s, d.filter(col("doc_id") % 2 === 0))
        i.persist(); i.count(); i
      })
      pipelines.Dedup.incrementalMinhashIndexed(s, idx,
        d.filter(col("doc_id") % 2 === 1 && col("doc_id") < 10000000L))
    }),
    // banded pairs + two slot-table joins over the ONE materialized
    // signature aggregation; pair count is band-bounded, never n²
    "dedup_minhash_estimate" -> ((s, dir) =>
      pipelines.Dedup.minhashEstimate(s, GraphIO.documents(s, dir))),
    // one broadcast assignment pass + per-cell agg — must be scan-floor
    "corpus_clusters" -> ((s, dir) =>
      pipelines.Similarity.clusterReport(GraphIO.embeddings(s, dir),
        nlist = 8)),
    // BPE merge training: the dictionary build is the only
    // corpus-sized step (one explode + hash agg, capped head); the 16
    // training rounds run on the ≤4096-row word-type table — the
    // ratio should be the dict-scan floor, however many merges
    "bpe_train" -> ((s, dir) =>
      pipelines.BpeTrain.merges(GraphIO.documents(s, dir))),
    // streaming ingest twin: AvailableNow drain of the documents
    // DIRECTORY (the derived corpus is multi-file, so this also
    // exercises multi-batch admission); CMS grid state is bounded, so
    // the ratio should be the token-scan floor plus batch overhead
    "stream_token_cms" -> SparkEntry.queries("stream_token_cms"),
    // ---- round-12 additions, each with its 10× one: row ----
    // gen-0 build + gen-1 append + compact: two shingle passes (stale
    // corpus + updated tenth) and a doc_id-keyed compact join — must
    // track the corpus scan, never re-sort the index
    "band_index_lifecycle" -> SparkEntry.queries("band_index_lifecycle"),
    // materialized corpus band table feeds base pairs + delta probe;
    // component rounds bounded by cluster diameter
    "dedup_clusters_incremental" ->
      SparkEntry.queries("dedup_clusters_incremental"),
    // four bucketed/capped rung scans + one materialized exact pair
    // set; cost must track the rungs, not 4x the exact scan
    "ann_recall_audit" -> SparkEntry.queries("ann_recall_audit"),
    // stream-stream interval join drained AvailableNow: state bounded
    // by the watermark+window horizon however long the stream
    "stream_range_join" -> SparkEntry.queries("stream_range_join"),
    // watermarked dedup state: keys inside the horizon only
    "stream_dedup" -> SparkEntry.queries("stream_dedup"),
    // persisted-index probe: build writes centroids + cell files once,
    // the probe reads nprobe cells — build is the corpus-linear part
    "ann_topk_ivf_persisted" -> SparkEntry.queries("ann_topk_ivf_persisted"),
    // complete-mode histogram drain + interpolation: state bounded by
    // the cents domain however many events stream through
    "stream_percentiles" -> SparkEntry.queries("stream_percentiles"),
    // round-13 operators: bounded-state + GK streaming quantiles, the
    // native session_window twin, and the two curation selections
    "stream_percentiles_sketch" ->
      SparkEntry.queries("stream_percentiles_sketch"),
    "stream_percentiles_gk" -> SparkEntry.queries("stream_percentiles_gk"),
    "events_sessionize_native" ->
      SparkEntry.queries("events_sessionize_native"),
    "dedup_canonical_priority" ->
      SparkEntry.queries("dedup_canonical_priority"),
    "sample_token_budget" -> SparkEntry.queries("sample_token_budget"),
    // ---- round-14 operators, each with its 10× one: row ----
    // range-sliced prefix scan: two bounded shuffles + a broadcast
    // offset join — the ratio must track the window twin's scan floor
    "sample_token_budget_sliced" ->
      SparkEntry.queries("sample_token_budget_sliced"),
    // driver-local greedy BPE twin: ONE corpus job for the capped word
    // dictionary + K driver rounds — the job-count claim at scale (the
    // distributed trainer pays 2 corpus-touching jobs PER MERGE)
    "bpe_train_fast" -> SparkEntry.queries("bpe_train_fast"),
    // stale-centroid assignment + fresh rebuild + two probes + exact
    // rung: the audit's cost must track the rungs it measures
    "ann_recall_audit_appended" ->
      SparkEntry.queries("ann_recall_audit_appended"),
    // checkpointed two-phase drains: two state-store round-trips over
    // half-corpus files — the restart overhead must stay ~flat vs the
    // single-drain streaming twins
    "stream_restart_totals" -> SparkEntry.queries("stream_restart_totals"),
    "stream_restart_sessionize" ->
      SparkEntry.queries("stream_restart_sessionize"),
    // round-15: restart under a resized session — same cost shape as
    // the other restart drains (the conf flip is free; the state
    // partition count is pinned by the checkpoint)
    "stream_restart_repartitioned" ->
      SparkEntry.queries("stream_restart_repartitioned"),
    // stream→curate composition: watermarked key-dedup drain + batch
    // canonical pick — cost must track the dedup+canonical stages
    "stream_ingest_curate" -> SparkEntry.queries("stream_ingest_curate"),
    // ---- round-15/16 operators (landed after the r15 seed:67 sweep;
    // VERDICT r15 missing #3), each with its 10× one: row ----
    // exact-substring span dedup: posexplode to per-gram rows, 8-byte
    // df agg, one semi join, per-doc gaps-and-islands window — the
    // ratio must track the token-scan floor (the skew surface — a hot
    // k-gram fanning out the semi join — is mode "skewspans")
    "dedup_spans" -> SparkEntry.queries("dedup_spans"),
    "dedup_spans_clean" -> SparkEntry.queries("dedup_spans_clean"),
    // NB classifier: one tokenization pass builds the (cls, term)
    // model table, scorer is one term-keyed equi-join + (doc, class)
    // hash agg + per-doc top-1 — two corpus-linear passes total
    "classify_nb" -> SparkEntry.queries("classify_nb"),
    // transformWithState sessionizer on RocksDB: same state bound as
    // the fMGWS twin (watermark-horizon users), plus the per-batch
    // RocksDB open/commit overhead — the ratio must track the fMGWS
    // drain's, not diverge with corpus size
    "stream_sessionize_tws" -> SparkEntry.queries("stream_sessionize_tws"),
    // RocksDB changelog-checkpointed restart: two drains + restore —
    // fixed-cost-heavy like the other restart gates, ~flat ratio
    "stream_restart_tws" -> SparkEntry.queries("stream_restart_tws"),
    // seeded-teleport kernel: same per-iteration shape as pagerank —
    // the ratio must match the kernel family's band
    "pagerank_personalized" -> ((s, dir) =>
      operators.PageRank.runPersonalized(GraphIO.orderGraph(s, dir), "part")),
    // ---- per-user window family (VERDICT r9 item 3): partitioned
    // sort windows are the canonical skew exposure — one hot user is
    // one sort partition. Uniform replication shifts user ids, so the
    // USER count grows and per-user partitions stay constant: the
    // expected ratio is the scan floor. The deliberately skewed twin
    // (mode "skewwin") keeps ONE user unshifted across replicas.
    "events_sessionize" -> ((s, dir) =>
      streaming.EventPipelines.sessionizeBatch(GraphIO.events(s, dir))),
    "events_sessionize_salted" -> ((s, dir) =>
      streaming.EventPipelines.sessionizeSalted(GraphIO.events(s, dir))),
    "events_window" -> ((s, dir) =>
      streaming.EventPipelines.windowedStatsBatch(GraphIO.events(s, dir))),
    // cumulative window over ALL users (the gate's user_id<20 filter
    // bounds gate output, not operator work — for scale evidence the
    // window must see the whole corpus)
    "events_running_totals_all" -> ((s, dir) =>
      streaming.EventPipelines.runningTotals(GraphIO.events(s, dir),
        Long.MaxValue)),
    // ---- multimodal codec family (VERDICT r9 item 2): per-row
    // encode/decode inside one mapPartitions pass, one decoded frame
    // in memory at a time — linear by construction, now MEASURED (the
    // fixed-nlist IVF was also "linear by construction" until it
    // wasn't)
    "multimodal_frames" -> ((s, dir) =>
      pipelines.Images.frameSample(s, GraphIO.documents(s, dir), stride = 2)),
    "multimodal_image_roundtrip" -> ((s, dir) =>
      pipelines.Images.imageRoundTrip(s, GraphIO.documents(s, dir))),
    "multimodal_audio_roundtrip" -> ((s, dir) =>
      pipelines.Audio.audioRoundTrip(s, GraphIO.documents(s, dir))),
    "multimodal_resize_real" -> ((s, dir) =>
      pipelines.Images.resizedRoundTrip(s, GraphIO.documents(s, dir),
        factor = 2)))

  /** Time ONE evaluation of `df` through the noop sink (evaluates every
    * output column of every row — `count()` would let Catalyst prune
    * unreferenced Window/projection work), releasing the result's
    * checkpoints before returning so accumulated dead blocks can't
    * distort the next measurement. The single measurement protocol
    * every evidence mode shares (and the per-pass shape of `Bench`). */
  private def timeNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    val d = df
    try d.write.format("noop").mode("overwrite").save()
    finally Checkpoints.releaseAll(d)
    (System.nanoTime() - t0) / 1e9
  }

  /** Two back-to-back [[timeNoop]] passes — (first, warm). */
  private def timedTwice(df: => DataFrame): (Double, Double) =
    (timeNoop(df), timeNoop(df))

  /** Derive a reps× orders+lineitem corpus under `dir` (key-shifted
    * replicas — nodes/edges genuinely grow reps×). `hotTenths` tenths
    * of all lineitem rows (by `l_orderkey % 10`) remap their partkey
    * to the base corpus's hottest part instead of shifting: 0 = the
    * uniform corpus, 1 = the skewkernel hot-authority twin (~4-5% of
    * all edges on one node), 4 = the hub-star twin (~40% of directed
    * order→part edges on one node — the skewstruct stress). Shift is
    * a multiple of 10, so the `% 10` gate picks the same orders in
    * every replica. Idempotent per dir (cached on _SUCCESS). */
  private def ensureOrderCorpus(spark: SparkSession, baseDir: String,
      dir: String, reps: Int, hotTenths: Int): Unit = {
    if (new java.io.File(s"$dir/lineitem.parquet/_SUCCESS").exists()) return
    val orders = spark.read.parquet(s"$baseDir/orders.parquet")
    val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
    (0 until reps).map { r =>
      orders.withColumn("o_orderkey", col("o_orderkey") + lit(r * Shift))
        .withColumn("o_custkey", col("o_custkey") + lit(r * Shift))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val remap: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (hotTenths <= 0) identity
      else {
        val hot = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("l_partkey")).head().getLong(0)
        println(s"[${dir.split('/').last}] hot part = $hot")
        shifted => when(col("l_orderkey") % 10 < hotTenths, lit(hot))
          .otherwise(shifted)
      }
    (0 until reps).map { r =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(r * Shift))
        .withColumn("l_partkey", remap(col("l_partkey") + lit(r * Shift)))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/sf1-derived"
    val reps = if (args.length > 2) args(2).toInt else 10
    val cpus = Sessions.defaultCpus
    val spark = Sessions.local(cpus, "graft-scalebench")
    spark.sparkContext.setLogLevel("WARN")

    if (!new java.io.File(s"$outDir/orders.parquet/_SUCCESS").exists()) {
      val t0 = System.nanoTime()
      replicate(spark, baseDir, outDir, reps)
      println(f"generated $outDir (${reps}x $baseDir) in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    def benchDir(dir: String,
        qs: Seq[(String, (SparkSession, String) => DataFrame)] = queries)
        : Map[String, Double] = {
      // warm the shared graph caches AND the kernel codegen/JIT paths
      // (same rationale as Bench: one-time JVM cost, not operator cost)
      GraphIO.orderGraph(spark, dir).edges.count()
      GraphIO.eventGraph(spark, dir).edges.count()
      Hits.run(GraphIO.orderGraph(spark, dir), numIter = 1).auths.count()
      val r = qs.map { case (name, fn) =>
        val dt = timeNoop(fn(spark, dir))
        println(f"[scale] $dir $name $dt%.2f s")
        name -> dt
      }.toMap
      GraphIO.evict(spark, dir) // release before the next corpus
      r
    }

    // Modes beyond the default full sweep, for separating measurement
    // artifacts from real operator costs (VERDICT r6 item 3):
    //  - "seed:<n>"  — full sweep with the query ORDER shuffled by the
    //    seed, so family placement (who pays the cold scan / first-in-
    //    family kernel warm) rotates between runs;
    //  - "one:<query>" — the named query alone on both corpora, timed
    //    cold then warm after the standard warmup, in this JVM only —
    //    the order-independent ratio;
    //  - "train" — skip the sweep, run only the trainFraction evidence;
    //  - "skewwin" — the per-user window family on base vs UNIFORM
    //    reps× vs a DELIBERATELY SKEWED reps× corpus (the hottest base
    //    user keeps its id across replicas, so it ends with reps× its
    //    events while everyone else stays base-sized — the
    //    one-giant-user sort-partition stress, VERDICT r9 item 3);
    //  - "skewkernel" — the graph-kernel analogue: base vs UNIFORM
    //    reps× vs a skewed reps× order graph where one part absorbs
    //    ~10% of all lineitem partkeys — one authority holding ~4-5%
    //    of all edges (hot-authority degree skew, VERDICT r10 item 3);
    //  - "skewtri" — the same three corpora, triangle counting alone:
    //    the hot authority is where an UNORIENTED wedge join emits
    //    O(d²) hub rows; the degree orientation must hold
    //    skew_ratio ≈ uniform_ratio (r17);
    //  - "structidx" — the persisted structural projection's
    //    amortization: all four structural gates from scratch vs via
    //    the index (first indexed gate pays the one-time build) on the
    //    uniform reps× corpus (r18);
    //  - "skewstruct" — label-prop + k-core + components (r19) on
    //    base vs uniform reps× vs a HUB-STAR twin (one part in 40% of
    //    lineitem rows — 4× the skewkernel hot mass), plus a
    //    HOT-LABEL seed-set twist for label-prop (50% of seeds one
    //    label, uniform corpus both sides); the r18 twins for the
    //    rest of the structural family;
    //  - "skewdedup" — the dedup/ANN analogue: base vs UNIFORM reps×
    //    documents+embeddings vs a MASS-DUPLICATION twin where ~5% of
    //    the whole corpus carries ONE document's text / ONE vector's
    //    embedding — the hot-band-bucket / hot-IVF-cell stress
    //    (VERDICT r12 item 4), plus an anchor-cap audit row for
    //    semanticDuplicates on the skewed corpus;
    //  - "incdelta" — O(delta) evidence for incremental cluster
    //    maintenance: per-delta rebuild vs the persisted-index +
    //    persisted-assignments path, on the skewdedup uniform corpus;
    //  - "skewbudget" — token-budget curation on base vs UNIFORM reps×
    //    vs a skewed reps× corpus where HALF of all documents carry
    //    ONE source value: the window formulation's one-giant-sort-
    //    partition stress vs the range-sliced prefix scan (r14);
    //  - "skewstream" — STREAMING STATE-BOUND evidence: the
    //    watermarked drains over base / uniform reps× / hot-user
    //    skewed reps× events admitted in TIME ORDER across ~16
    //    micro-batches, recording max stateOperators.numRowsTotal —
    //    state must track the watermark horizon, not stream length
    //    (r14, VERDICT r13 missing #4); plus the ingest-curate text
    //    dedup's state leg over uniform vs mass-duplicated documents
    //    ("skewingest" lines, r15);
    //  - "recalldrift" — appended-IVF recall drift at scale: derived
    //    autoNlist, the appended half distributionally shifted (5%
    //    mass on one hot vector), appended vs fresh recall + cell
    //    imbalance (r15, VERDICT r14 missing #2);
    //  - "skewspans" — the span-dedup skew twin (VERDICT r16 wrong
    //    #2): base vs UNIFORM reps× documents vs a HOT-K-GRAM twin
    //    where a fixed stopword run is prepended to every 2nd
    //    document — ~50% of the corpus sharing a handful of hot gram
    //    keys, the df-aggregate / semi-join fan-out stress;
    //  - "winnowbook" — the chunked-winnow path on genuinely
    //    over-limit documents (>2^20 grams each, 2 chunks/doc): base
    //    vs 10× docs of the same length — the ratio must track the
    //    token-scan floor (r16 made winnow total; this measures it);
    //  - "mrlivf" — the MRL×IVF composed rung's full-vector READ
    //    FRACTION under deployment sizing (autoNlist + autoMrlIvfCand)
    //    at base vs reps× embeddings — must FALL with N while the
    //    plain mrl pool stays a constant 1/5 (r19, VERDICT r18 #1);
    //  - "doulion" — DOULION estimate error + walls at the DERIVED
    //    sampling rate on base vs uniform reps× order graphs — the
    //    error band is scale-invariant by the p³·T ≈ const derivation
    //    (r19, VERDICT r18 #6).
    val mode = if (args.length > 3) args(3) else "all"
    val order = if (mode.startsWith("seed:"))
      new scala.util.Random(mode.stripPrefix("seed:").toLong).shuffle(queries)
    else queries
    if (mode.startsWith("one:")) {
      val name = mode.stripPrefix("one:")
      val fn = queries.toMap.getOrElse(name, sys.error(
        s"unknown query '$name' for one: mode; valid names: " +
          queries.map(_._1).sorted.mkString(", ")))
      def timed(dir: String): (Double, Double) = {
        GraphIO.orderGraph(spark, dir).edges.count()
        // best-effort: kernel-derived reps× corpora (ensureOrderCorpus)
        // carry only the order-graph tables, not events.parquet — the
        // event warm only matters for event-graph queries anyway
        try GraphIO.eventGraph(spark, dir).edges.count()
        catch { case _: Exception => () }
        Hits.run(GraphIO.orderGraph(spark, dir), numIter = 1).auths.count()
        val passes = timedTwice(fn(spark, dir))
        GraphIO.evict(spark, dir)
        passes
      }
      val (bf, bw) = timed(baseDir)
      val (gf, gw) = timed(outDir)
      println(f"""{"metric":"scale_one","query":"$name",""" +
        f""""base_first":$bf%.2f,"base_warm":$bw%.2f,""" +
        f""""big_first":$gf%.2f,"big_warm":$gw%.2f,""" +
        f""""warm_ratio":${gw / bw}%.2f}""")
    } else if (mode == "skewwin") {
      // Self-contained events-only corpora (uniform AND skewed), so the
      // window family can be pushed past 10× without deriving the full
      // multi-table corpus — at 10× a 100k-event base is still at the
      // 32-core job-overhead floor (~0.6 s); the skew exposure needs
      // reps high enough that the hot user's single sort partition
      // dominates (reps=100 → 10M events, 1M on one user).
      val (uniDir, skewDir) = ensureWinCorpora(spark, baseDir, outDir, reps)
      val qmap = queries.toMap
      def timed(dir: String, name: String): (Double, Double) =
        timedTwice(qmap(name)(spark, dir))
      Seq("events_sessionize", "events_sessionize_salted", "events_window",
        "events_running_totals_all")
        .foreach { name =>
          val (bf, bw) = timed(baseDir, name)
          val (uf, uw) = timed(uniDir, name) // uniform reps×
          val (kf, kw) = timed(skewDir, name) // one reps×-hot user
          println(f"""{"metric":"skewwin","query":"$name",""" +
            f""""base_warm":$bw%.2f,"uniform${reps}x_warm":$uw%.2f,""" +
            f""""skew${reps}x_warm":$kw%.2f,""" +
            f""""uniform_ratio":${uw / bw}%.2f,""" +
            f""""skew_ratio":${kw / bw}%.2f,""" +
            f""""base_first":$bf%.2f,"uniform_first":$uf%.2f,""" +
            f""""skew_first":$kf%.2f}""")
        }
    } else if (mode == "skewkernel" || mode == "skewtri") {
      // 100× ORDER-GRAPH rung (VERDICT r10 item 3 / r11 item 4): the
      // kernel family's scale-up + skew evidence, the graph analogue of
      // skewwin. Self-contained orders+lineitem corpora derived from
      // baseDir (use sf0.01 so base×100 ≈ sf1 — kernels stay minutes,
      // not hours): a UNIFORM reps× replica set (all keys shifted — node
      // and edge counts really grow reps×, degree distribution
      // unchanged), and a SKEWED twin with identical row counts where
      // ~10% of all lineitem rows remap their partkey to one hot part —
      // a single authority holding ~4-5% of ALL edges, so the kernel's
      // dst-keyed aggregation and the degree joins each see one giant
      // reduce key (the power-law hot-authority stress). The claim under
      // test: the kernel loop's ([[Fixpoint]]) co-partitioned join/agg
      // plan degrades gracefully under graph skew (skew_ratio ≈
      // uniform_ratio), since
      // the per-iteration agg is a partial-aggregating hash agg, not a
      // sort over the hot key's edge list.
      val uniDir = s"$outDir-unikernel$reps"
      val skewDir = s"$outDir-skewkernel$reps"
      ensureOrderCorpus(spark, baseDir, uniDir, reps, hotTenths = 0)
      ensureOrderCorpus(spark, baseDir, skewDir, reps, hotTenths = 1)
      val qmap = queries.toMap
      def timed(dir: String, name: String): (Double, Double) =
        timedTwice(qmap(name)(spark, dir))
      // "skewtri" reuses the exact same corpora for the triangle
      // operator alone: the hot authority (~4-5% of all edges on one
      // node) is the shape where an unoriented wedge join would emit
      // O(d²) rows from the hub — the degree orientation must keep
      // skew_ratio ≈ uniform_ratio.
      val kernelQs = if (mode == "skewtri") Seq("graph_triangles")
        else Seq("graph_degrees", "hits_base", "salsa_iterative")
      kernelQs.foreach { name =>
        val (bf, bw) = timed(baseDir, name)
        val (uf, uw) = timed(uniDir, name) // uniform reps×
        val (kf, kw) = timed(skewDir, name) // one hot authority
        // evict between queries, not corpora: at reps=100 three
        // persisted ~13M-edge graphs at once would fight for memory
        // and distort exactly the ratios being measured. Base too —
        // otherwise from the 2nd query on, base_first reuses an
        // already-persisted graph while uniform/skew pay full
        // re-derive+persist, inflating the *_first ratios (the warm
        // ratios were never affected).
        GraphIO.evict(spark, baseDir)
        GraphIO.evict(spark, uniDir); GraphIO.evict(spark, skewDir)
        println(f"""{"metric":"$mode","query":"$name",""" +
          f""""base_warm":$bw%.2f,"uniform${reps}x_warm":$uw%.2f,""" +
          f""""skew${reps}x_warm":$kw%.2f,""" +
          f""""uniform_ratio":${uw / bw}%.2f,""" +
          f""""skew_ratio":${kw / bw}%.2f,""" +
          f""""base_first":$bf%.2f,"uniform_first":$uf%.2f,""" +
          f""""skew_first":$kf%.2f}""")
      }
    } else if (mode == "skewstruct") {
      // Skew twins for the REST of the structural family (VERDICT r17
      // next #4) — skewtri covered triangles; this covers label
      // propagation and k-core on the surfaces the verdict named:
      //  - HUB-STAR corpus: one part absorbs 40% of all lineitem rows
      //    (4× the skewkernel twin's hot mass) — the peel's per-round
      //    degree aggregate and both left-semi joins, and label-prop's
      //    vote aggregate, all key on that one node. Design claim:
      //    every one of those is a partial-aggregating hash agg or a
      //    co-keyed semi-join (never a sort or window over the hot
      //    key's edge list), so skew_ratio ≈ uniform_ratio.
      //  - HOT-LABEL seed set (query-side twist, uniform corpus): 50%
      //    of label-prop's seeds carry ONE label — the vote
      //    aggregate's (node, label) key space collapses toward a
      //    single label. Keys stay per-node, so the hot label never
      //    becomes one reduce key; expectation hot ≈ normal.
      val uniDir = s"$outDir-unikernel$reps"
      val hubDir = s"$outDir-hubstar$reps"
      ensureOrderCorpus(spark, baseDir, uniDir, reps, hotTenths = 0)
      ensureOrderCorpus(spark, baseDir, hubDir, reps, hotTenths = 4)
      val qmap = queries.toMap
      def timed(dir: String, name: String): (Double, Double) =
        timedTwice(qmap(name)(spark, dir))
      // components joined the loop in r19: the hub-star corpus keys
      // large-star's groupBy-min and its SHUFFLE_HASH probe on the one
      // hot node — min is partial-aggregating (map-side combine
      // collapses the hub's 40% edge share before the shuffle) and the
      // contraction only SHRINKS the edge set per round, so the claim
      // is the same as the peel's: skew_ratio ≈ uniform_ratio.
      Seq("graph_label_prop", "graph_kcore", "graph_components")
        .foreach { name =>
        val (bf, bw) = timed(baseDir, name)
        val (uf, uw) = timed(uniDir, name) // uniform reps×
        val (kf, kw) = timed(hubDir, name) // 40%-of-edges hub
        GraphIO.evict(spark, baseDir)
        GraphIO.evict(spark, uniDir); GraphIO.evict(spark, hubDir)
        println(f"""{"metric":"skewstruct","query":"$name",""" +
          f""""base_warm":$bw%.2f,"uniform${reps}x_warm":$uw%.2f,""" +
          f""""hub${reps}x_warm":$kw%.2f,""" +
          f""""uniform_ratio":${uw / bw}%.2f,""" +
          f""""skew_ratio":${kw / bw}%.2f,""" +
          f""""base_first":$bf%.2f,"uniform_first":$uf%.2f,""" +
          f""""hub_first":$kf%.2f}""")
      }
      // hot-label twist: same uniform corpus, same seed POPULATION
      // (hash-gated 30%), only the carried label changes — a fair
      // same-cost comparison isolating label distribution.
      def labelProp(hotLabel: Boolean): DataFrame = {
        val g = GraphIO.orderGraph(spark, uniDir)
        val gated = g.nodes
          .filter(GraftHash.graftHash(spark, col("id")) % 100 < 30)
        val seeds =
          if (!hotLabel) gated.select(col("id"), col("label"))
          else gated.select(col("id"),
            when(GraftHash.graftHash(spark,
              concat(col("id"), lit("|hotlab"))) % 2 === 0, lit("hot"))
              .otherwise(col("label")).as("label"))
        LabelProp.run(spark, g.edges, seeds, 4)
          .select(col("id"),
            coalesce(col("label"), lit("unlabeled")).as("label"))
      }
      val (nf, nw) = timedTwice(labelProp(hotLabel = false))
      val (hf, hw) = timedTwice(labelProp(hotLabel = true))
      GraphIO.evict(spark, uniDir)
      println(f"""{"metric":"skewstruct","query":"label_prop_hotlabel",""" +
        f""""uniform${reps}x_warm":$nw%.2f,"hotlabel${reps}x_warm":$hw%.2f,""" +
        f""""skew_ratio":${hw / nw}%.2f,""" +
        f""""uniform_first":$nf%.2f,"hotlabel_first":$hf%.2f}""")
    } else if (mode == "structidx") {
      // Quantifies the persisted structural projection (r18, VERDICT
      // r17 missing #3) at scale: a one-graph analysis session running
      // all four structural operators pays the corpus-scale
      // distinct-shuffle (undirected projection + degrees) four times
      // from scratch, once with the index. The indexed leg is timed
      // exactly as a session experiences it: the FIRST indexed gate
      // builds and persists the index (SparkEntry's per-corpus memo),
      // the rest read parquet — so "first" on that gate includes the
      // build and "warm" is the pure read path.
      val uniDir = s"$outDir-unikernel$reps"
      ensureOrderCorpus(spark, baseDir, uniDir, reps, hotTenths = 0)
      // straight from the gate map — the *_indexed entries are not in
      // this harness's curated sweep list
      val qmap = SparkEntry.queries
      val quartet = Seq("graph_triangles", "graph_link_predict",
        "graph_label_prop", "graph_kcore")
      def leg(suffix: String): Seq[(String, (Double, Double))] =
        quartet.map { n =>
          val t = timedTwice(qmap(n + suffix)(spark, uniDir))
          GraphIO.evict(spark, uniDir)
          n -> t
        }
      val scratch = leg("")
      val indexed = leg("_indexed")
      def total(xs: Seq[(String, (Double, Double))]): Double =
        xs.map { case (_, (f, w)) => math.min(f, w) }.sum
      val (st, it) = (total(scratch), total(indexed))
      val rows = (scratch.map { case (n, (f, w)) =>
        f""""${n}_scratch":[$f%.2f,$w%.2f]"""
      } ++ indexed.map { case (n, (f, w)) =>
        f""""${n}_indexed":[$f%.2f,$w%.2f]"""
      }).mkString(",")
      println(f"""{"metric":"structidx","reps":$reps,$rows,""" +
        f""""scratch_total_min":$st%.2f,"indexed_total_min":$it%.2f,""" +
        f""""ratio":${it / st}%.2f}""")
    } else if (mode == "skewdedup") {
      // 100× DOCUMENT/EMBEDDING rung (VERDICT r12 item 4): the
      // dedup/ANN families' scale-up + skew evidence — the banding
      // analogue of skewkernel. Self-contained documents+embeddings
      // corpora derived from baseDir (use sf0.01 so base×100 ≈ sf1):
      // a UNIFORM reps× set (doc/vec ids shifted; text salted per
      // replica so shingle/minhash work genuinely grows; vectors
      // replicated as-is — cross-replica near-dups, the realistic
      // hard case), and a MASS-DUPLICATION twin with identical row
      // counts where every 20th base id — ~5% of the WHOLE corpus,
      // across all replicas — carries ONE document's text / ONE
      // vector's embedding: one hot LSH band bucket and one hot IVF
      // cell. Claims under test: candidate generation stays banded
      // (pair output grows with the true duplicate structure — the
      // hot clique's pairs are real output, not join blow-up),
      // cluster resolution stays O(log d) rounds under a 2,500-member
      // clique, the semantic verdict output stays O(N) rows under a
      // 2,500-member cell (the per-cell anchor cap — audited below),
      // and the composed IVF ladder degrades gracefully when 5% of
      // the corpus probes one cell.
      val uniDir = s"$outDir-unidedup$reps"
      val skewDir = s"$outDir-skewdedup$reps"
      if (!new java.io.File(s"$skewDir/embeddings.parquet/_SUCCESS")
          .exists()) {
        val docs = spark.read.parquet(s"$baseDir/documents.parquet")
        val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
        // hot payloads: the minimum-id document/vector (deterministic)
        val hotDoc = docs.orderBy(col("doc_id")).limit(1)
          .select(col("text").as("hot_text"))
        val hotVec = emb.orderBy(col("vec_id")).limit(1)
          .select(col("embedding").as("hot_embedding"))
        def repDocs = (0 until reps).map { r =>
          docs.withColumn("doc_id", col("doc_id") + lit(r * Shift))
            .withColumn("text", if (r == 0) col("text")
              else concat(col("text"), lit(s" rep$r")))
        }.reduce(_ unionAll _)
        repDocs.write.mode("overwrite")
          .parquet(s"$uniDir/documents.parquet")
        // Shift is a multiple of 20, so `doc_id % 20 === 0` selects
        // the SAME 5% of base ids in every replica — including id 0,
        // whose text is the hot payload itself.
        repDocs.crossJoin(broadcast(hotDoc))
          .withColumn("text",
            when(col("doc_id") % 20 === 0, col("hot_text"))
              .otherwise(col("text")))
          .drop("hot_text")
          .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
        def repEmb = (0 until reps).map { r =>
          emb.withColumn("vec_id", col("vec_id") + lit(r * Shift))
        }.reduce(_ unionAll _)
        repEmb.write.mode("overwrite")
          .parquet(s"$uniDir/embeddings.parquet")
        repEmb.crossJoin(broadcast(hotVec))
          .withColumn("embedding",
            when(col("vec_id") % 20 === 0, col("hot_embedding"))
              .otherwise(col("embedding")))
          .drop("hot_embedding")
          .write.mode("overwrite").parquet(s"$skewDir/embeddings.parquet")
      }
      val qmap = queries.toMap +
        ("dedup_clusters" -> SparkEntry.queries("dedup_clusters"))
      def timed(dir: String, name: String): (Double, Double) =
        timedTwice(qmap(name)(spark, dir))
      Seq("dedup_minhash_lsh", "dedup_clusters", "pipeline_near_dedup",
        "dedup_semantic", "ann_topk_q8_ivf",
        "dedup_canonical_priority").foreach { name =>
        val (bf, bw) = timed(baseDir, name)
        val (uf, uw) = timed(uniDir, name) // uniform reps×
        val (kf, kw) = timed(skewDir, name) // 5% mass duplication
        println(f"""{"metric":"skewdedup","query":"$name",""" +
          f""""base_warm":$bw%.2f,"uniform${reps}x_warm":$uw%.2f,""" +
          f""""skew${reps}x_warm":$kw%.2f,""" +
          f""""uniform_ratio":${uw / bw}%.2f,""" +
          f""""skew_ratio":${kw / bw}%.2f,""" +
          f""""base_first":$bf%.2f,"uniform_first":$uf%.2f,""" +
          f""""skew_first":$kf%.2f}""")
      }
      // Anchor-cap audit on the skewed corpus: the semantic verdict
      // must stay ONE ROW PER VECTOR (never O(dup²) pairs) with the
      // hot cell's membership visible, and the beyond-cap population
      // (vectors compared only against the cap anchors) made explicit
      // — the cheap outside-view twin of the operator's own overflow
      // warning.
      val v = pipelines.Similarity.semanticDuplicates(
        GraphIO.embeddings(spark, skewDir), 0.3, trainFraction = 0.1)
        .persist()
      val nRows = v.count()
      val cells = v.groupBy(col("cid")).agg(count(lit(1)).as("n")).persist()
      val maxCell = cells.agg(max(col("n"))).head.getLong(0)
      val beyondCap = cells
        .agg(sum(greatest(col("n") - lit(64), lit(0L)))).head.getLong(0)
      val nDups = v.filter(!col("keep")).count()
      cells.unpersist(false)
      v.unpersist(false)
      Checkpoints.releaseAll(v)
      println(s"""{"metric":"skewdedup_semantic_audit","rows":$nRows,""" +
        s""""max_cell":$maxCell,"beyond_cap":$beyondCap,"dups":$nDups}""")
    } else if (mode == "skewspans") {
      // HOT-K-GRAM skew twin for the exact-substring span-dedup family
      // (the skew surface ScaleBench.queries' comment names): the
      // operator's only skew exposures are (a) the k-gram df aggregate
      // — a handful of gram keys carrying corpus-scale counts, which
      // map-side partial aggregation must absorb — and (b) the
      // left-semi back-join fanning those grams' OCCURRENCE rows (one
      // row per occurrence, never pairwise). Uniform twin: reps× docs,
      // text salted per replica (shared with skewdedup). Skew twin:
      // SAME row counts, but a fixed 50-token stopword run (a 5-word
      // cycle → 5 distinct hot 5-gram keys, each ~9×/doc) is PREPENDED
      // to every 2nd document — ~50% of the corpus funneling into 5
      // gram keys. Claim: skew_ratio tracks uniform_ratio (both the
      // token-scan floor) and the spans output stays ~1 merged span
      // per hot document (gaps-and-islands, not per-gram rows).
      val uniDir = s"$outDir-unidedup$reps" // shared with skewdedup
      val hotDir = s"$outDir-hotspans$reps"
      if (!new java.io.File(s"$uniDir/documents.parquet/_SUCCESS")
          .exists()) {
        val docs = spark.read.parquet(s"$baseDir/documents.parquet")
        (0 until reps).map { r =>
          docs.withColumn("doc_id", col("doc_id") + lit(r * Shift))
            .withColumn("text", if (r == 0) col("text")
              else concat(col("text"), lit(s" rep$r")))
        }.reduce(_ unionAll _)
          .write.mode("overwrite").parquet(s"$uniDir/documents.parquet")
      }
      if (!new java.io.File(s"$hotDir/documents.parquet/_SUCCESS")
          .exists()) {
        val run = Seq.fill(10)("the of and to in").mkString(" ")
        spark.read.parquet(s"$uniDir/documents.parquet")
          .withColumn("text", when(col("doc_id") % 2 === 0,
              concat(lit(run + " "), col("text")))
            .otherwise(col("text")))
          .write.mode("overwrite").parquet(s"$hotDir/documents.parquet")
      }
      val qmap = queries.toMap
      def timed(dir: String, name: String): (Double, Double) =
        timedTwice(qmap(name)(spark, dir))
      Seq("dedup_spans", "dedup_spans_clean").foreach { name =>
        val (bf, bw) = timed(baseDir, name)
        val (uf, uw) = timed(uniDir, name) // uniform reps×
        val (kf, kw) = timed(hotDir, name) // hot-gram 50% twin
        println(f"""{"metric":"skewspans","query":"$name",""" +
          f""""base_warm":$bw%.2f,"uniform${reps}x_warm":$uw%.2f,""" +
          f""""skew${reps}x_warm":$kw%.2f,""" +
          f""""uniform_ratio":${uw / bw}%.2f,""" +
          f""""skew_ratio":${kw / bw}%.2f,""" +
          f""""base_first":$bf%.2f,"uniform_first":$uf%.2f,""" +
          f""""skew_first":$kf%.2f}""")
      }
      // Output-shape audit on the hot corpus: the hot documents'
      // stopword-run grams must merge to ONE leading span per document
      // (gaps-and-islands), so total span rows stay O(docs), and the
      // occurrence-mode (minOcc) variant — strictly cheaper count(*)
      // agg — must hold the same shape.
      val spans = pipelines.Dedup.dedupSpans(spark,
        GraphIO.documents(spark, hotDir)).persist()
      val nSpans = spans.count()
      val nDocs = spark.read.parquet(s"$hotDir/documents.parquet").count()
      val maxPerDoc = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n")).agg(max(col("n"))).head.getLong(0)
      spans.unpersist(false)
      Checkpoints.releaseAll(spans)
      println(s"""{"metric":"skewspans_audit","docs":$nDocs,""" +
        s""""span_rows":$nSpans,"max_spans_per_doc":$maxPerDoc}""")
    } else if (mode == "winnowbook") {
      // BOOK-LENGTH winnow evidence (VERDICT r16 next #7): r16's
      // auto-chunking made winnow TOTAL for documents over 2^20 grams
      // — proof-tested at posBits=4, never RUN at real book length.
      // Corpus: deterministic pseudo-random token streams (pure
      // (doc_id, position) arithmetic — no RNG, rebuild-stable) of
      // 2^20 + 250k grams per document, so every document genuinely
      // crosses the chunk limit (2 chunks, boundary grams duplicated
      // into the neighbor's tail). Base 4 docs vs 40 docs of the SAME
      // length: per-document window state is constant, so the
      // expected warm ratio is the token-scan floor.
      val nGrams = (1 << 20) + 250000
      val nTok = nGrams + 2L // k = 3 grams per doc = nTok - k + 1
      def bookCorpus(nDocs: Int, dir: String): Unit =
        if (!new java.io.File(s"$dir/documents.parquet/_SUCCESS")
            .exists()) {
          spark.range(nDocs).select(col("id").as("doc_id"),
            array_join(transform(sequence(lit(0L), lit(nTok - 1)),
              i => concat(lit("w"), pmod(i * lit(2654435761L) +
                col("id") * lit(7919L), lit(4999L)))), " ").as("text"))
            .repartition(math.min(nDocs, cpus))
            .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        }
      val b1 = s"$outDir-book1"
      val b10 = s"$outDir-book10"
      bookCorpus(4, b1)
      bookCorpus(40, b10)
      def timedW(dir: String): (Double, Double) =
        timedTwice(pipelines.Dedup.winnow(spark,
          spark.read.parquet(s"$dir/documents.parquet")))
      val (bf, bw) = timedW(b1)
      val (gf, gw) = timedW(b10)
      // density sanity: winnow selects ~2/(w+1) of grams; a chunking
      // bug (double-counted boundaries, dropped owners) shows up here
      // before any ratio could
      val fps = pipelines.Dedup.winnow(spark,
        spark.read.parquet(s"$b1/documents.parquet")).count()
      println(f"""{"metric":"winnowbook","grams_per_doc":$nGrams,""" +
        f""""docs_base":4,"docs_big":40,""" +
        f""""base_warm":$bw%.2f,"big_warm":$gw%.2f,""" +
        f""""ratio":${gw / bw}%.2f,""" +
        f""""base_first":$bf%.2f,"big_first":$gf%.2f,""" +
        f""""base_fingerprints":$fps}""")
    } else if (mode == "incdelta") {
      // O(delta) evidence for the incremental cluster-maintenance path
      // (VERDICT r12 item 1's "Done" tail): against a big corpus —
      // the skewdedup mode's uniform reps× documents, generated here
      // if missing — compare (a) the from-scratch rebuild a deployment
      // WITHOUT persisted state pays per delta (shingle + minhash +
      // full CC over corpus ∪ delta) with (b) the true delta path
      // (incrementalClustersIndexed over the PERSISTED band index and
      // cluster assignments, both read back from parquet), for a
      // base-corpus-sized delta. The once-per-corpus index build is
      // timed too, so the break-even is explicit: persisted state pays
      // for itself after build/(rebuild - delta) deltas.
      val uniDir = s"$outDir-unidedup$reps"
      if (!new java.io.File(s"$uniDir/documents.parquet/_SUCCESS")
          .exists()) {
        val docs = spark.read.parquet(s"$baseDir/documents.parquet")
        (0 until reps).map { r =>
          docs.withColumn("doc_id", col("doc_id") + lit(r * Shift))
            .withColumn("text", if (r == 0) col("text")
              else concat(col("text"), lit(s" rep$r")))
        }.reduce(_ unionAll _)
          .write.mode("overwrite").parquet(s"$uniDir/documents.parquet")
      }
      val corpus = GraphIO.documents(spark, uniDir)
      // delta: the base corpus re-salted into a fresh id range
      val delta = spark.read.parquet(s"$baseDir/documents.parquet")
        .withColumn("doc_id", col("doc_id") + lit((reps + 100L) * Shift))
        .withColumn("text", concat(col("text"), lit(" repdelta")))
      val idxDir = s"$uniDir-bandidx"
      val asgDir = s"$uniDir-clustersidx"
      def timedJob(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      // once-per-corpus persisted halves (the band_index +
      // clusters_index CLI verbs, timed as the amortized build cost)
      val tBuild = timedJob {
        pipelines.Dedup.bandTable(spark, corpus)
          .write.mode("overwrite").parquet(idxDir)
        operators.ConnectedComponents.clusters(
            pipelines.Dedup.minhashLsh(spark, corpus, ordered = false))
          .write.mode("overwrite").parquet(asgDir)
      }
      def rebuildOnce(): Double = timeNoop(
        operators.ConnectedComponents.clusters(
          pipelines.Dedup.minhashLsh(spark, corpus.unionByName(delta),
            ordered = false)))
      def deltaOnce(): Double = timeNoop(
        pipelines.Dedup.incrementalClustersIndexed(spark,
          spark.read.parquet(idxDir), spark.read.parquet(asgDir), delta))
      rebuildOnce(); deltaOnce() // JIT/codegen warm pass each
      val tRebuild = rebuildOnce()
      val tDelta = deltaOnce()
      println(f"""{"metric":"incdelta","reps":$reps,""" +
        f""""index_build_sec":$tBuild%.2f,"rebuild_sec":$tRebuild%.2f,""" +
        f""""delta_sec":$tDelta%.2f,""" +
        f""""delta_vs_rebuild":${tDelta / tRebuild}%.3f}""")
    } else if (mode == "skewbudget") {
      // HOT-GROUP curation evidence (r13 missing #3's "Done" tail):
      // token-budget selection on base vs UNIFORM reps× documents vs a
      // skewed reps× twin with identical row counts where HALF of all
      // documents carry ONE source value — for the window formulation
      // that source is a single sort partition holding half the
      // corpus; the range-sliced prefix scan keeps every task bounded.
      // Claim under test: sliced skew ≈ sliced uniform while the
      // window's skew wall degrades toward its hot-partition sort.
      val uniDir = s"$outDir-unidedup$reps" // shared with skewdedup/incdelta
      val skewDir = s"$outDir-skewbudget$reps"
      if (!new java.io.File(s"$uniDir/documents.parquet/_SUCCESS")
          .exists()) {
        // explode-replication, NOT a reps-way unionAll: past a few
        // hundred reps the union's plan size dominates generation; one
        // projected explode stays linear however high the rung (the
        // window-vs-sliced contrast needs a MULTI-MILLION-row hot
        // group before the single-reducer sort is visible over the
        // shared tokenize/quality scan). Content-identical to the
        // unionAll form (same id shift, same " rep$r" salt), so the
        // corpus stays shareable with skewdedup/incdelta. The input is
        // repartitioned BEFORE the explode so the derived corpus lands
        // as ~64 parquet files: a single-file multi-GB corpus would
        // serialize the downstream scans onto 1-2 tasks and measure
        // file layout, not the operators (a real 100 TB table is
        // thousands of splits).
        spark.read.parquet(s"$baseDir/documents.parquet")
          .repartition(64, col("doc_id"))
          .withColumn("r", explode(sequence(lit(0L), lit((reps - 1).toLong))))
          .withColumn("doc_id", col("doc_id") + col("r") * lit(Shift))
          .withColumn("text", when(col("r") === 0L, col("text"))
            .otherwise(concat(col("text"), lit(" rep"), col("r"))))
          .drop("r")
          .write.mode("overwrite").parquet(s"$uniDir/documents.parquet")
      }
      if (!new java.io.File(s"$skewDir/documents.parquet/_SUCCESS")
          .exists()) {
        // Shift is even, so `doc_id % 2 = 0` marks the same half of
        // every replica — one source ends up holding ~half the corpus
        spark.read.parquet(s"$uniDir/documents.parquet")
          .withColumn("source",
            when(col("doc_id") % 2 === 0, lit("src0"))
              .otherwise(col("source")))
          .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
      }
      val qmap = queries.toMap
      def timed(dir: String, name: String): (Double, Double) =
        timedTwice(qmap(name)(spark, dir))
      Seq("sample_token_budget", "sample_token_budget_sliced")
        .foreach { name =>
          val (bf, bw) = timed(baseDir, name)
          val (uf, uw) = timed(uniDir, name) // uniform reps×
          val (kf, kw) = timed(skewDir, name) // one half-corpus source
          println(f"""{"metric":"skewbudget","query":"$name",""" +
            f""""base_warm":$bw%.2f,"uniform${reps}x_warm":$uw%.2f,""" +
            f""""skew${reps}x_warm":$kw%.2f,""" +
            f""""uniform_ratio":${uw / bw}%.2f,""" +
            f""""skew_ratio":${kw / bw}%.2f,""" +
            f""""base_first":$bf%.2f,"uniform_first":$uf%.2f,""" +
            f""""skew_first":$kf%.2f}""")
        }
    } else if (mode == "skewstream") {
      // STREAMING STATE-BOUND evidence (VERDICT r13 missing #4): the
      // watermarked drains over base / uniform reps× / hot-user skewed
      // reps× events, admitted in TIME ORDER across ~16 micro-batches
      // (maxFilesPerTrigger=1 over ts-range-partitioned files) so the
      // watermark genuinely advances between batches and state
      // eviction runs. Recorded per drain: wall, input rows, data
      // batches, and max stateOperators.numRowsTotal — the claim is
      // state bounded by the watermark horizon (open sessions / keys /
      // buffered events inside it), NOT by stream length; on the skew
      // corpus the hot user adds ONE session row, not reps× state.
      val (uniDir, skewDir) = ensureWinCorpora(spark, baseDir, outDir, reps)
      val nf = 16
      def streamSrc(tag: String, dir: String): String = {
        val out = s"$outDir-streamsrc$reps/$tag"
        if (!new java.io.File(s"$out/_SUCCESS").exists()) {
          GraphIO.events(spark, dir)
            .repartitionByRange(nf, col("ts"), col("event_id"))
            .sortWithinPartitions(col("ts"))
            .write.mode("overwrite").parquet(out)
          // one write job commits all 16 slices with ONE mtime; force
          // range-ordered mtimes so FileStreamSource's oldest-first
          // admission is deterministic time order, not tie-listing
          // luck (ADVICE r14) — also asserted per batch in drainStats
          graft.streaming.Restart.orderPartFileMtimes(
            new java.io.File(out).listFiles().toSeq
              .filter(f => f.isFile && f.getName.startsWith("part-")),
            System.currentTimeMillis() - 2L * (nf + 2) * 2000L)
        }
        out
      }
      val corpora = Seq("base" -> streamSrc("base", baseDir),
        s"uniform${reps}x" -> streamSrc("uni", uniDir),
        s"skew${reps}x" -> streamSrc("skew", skewDir))
      def drainStats(src: String, mk: DataFrame => DataFrame)
          : (Double, Long, Long, Long) = {
        val schema = spark.read.parquet(src).schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val t0 = System.nanoTime()
        val q = mk(stream).writeStream.outputMode("append").format("noop")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        val progs = q.recentProgress
        // the state-bound claim needs genuinely time-ordered admission:
        // assert it from the engine's own telemetry instead of trusting
        // the mtime fix — per-data-batch max event time non-decreasing
        val maxes = progs.filter(_.numInputRows > 0)
          .flatMap(p => Option(p.eventTime.get("max")))
        require(maxes.sameElements(maxes.sorted),
          s"skewstream: per-batch eventTime.max not non-decreasing " +
            s"(${maxes.mkString(", ")}) — admission was not time-ordered " +
            "and max_state_rows evidence would be distorted")
        (wall, progs.map(_.numInputRows).sum,
          progs.flatMap(_.stateOperators.map(_.numRowsTotal))
            .foldLeft(0L)(math.max),
          progs.count(_.numInputRows > 0).toLong)
      }
      def asTs(df: DataFrame): DataFrame =
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      val drains: Seq[(String, DataFrame => DataFrame)] = Seq(
        "stream_sessionize" -> (src =>
          streaming.EventPipelines.sessionizeStream(spark, src).toDF()),
        "stream_dedup" -> (src =>
          streaming.EventPipelines.streamingDedup(asTs(src))),
        "stream_range_join" -> (src =>
          streaming.EventPipelines.rangeJoinStream(asTs(src))))
      drains.foreach { case (name, mk) =>
        corpora.foreach { case (tag, src) =>
          val (wall, in, st, nb) = drainStats(src, mk)
          println(s"""{"metric":"skewstream","query":"$name",""" +
            s""""corpus":"$tag",""" +
            f""""wall_sec":$wall%.2f,"input_rows":$in,""" +
            s""""max_state_rows":$st,"data_batches":$nb}""")
        }
      }
      // ---- stream_ingest_curate's state leg (VERDICT r14 next #6):
      // the watermarked TEXT-dedup drain over uniform reps× documents
      // vs a mass-duplication twin where every 20th doc carries ONE
      // normalized text (~5% of the whole stream, one hot class).
      // event_time = doc_id ms → replicas land ~10,000 s apart, so the
      // 1 h watermark horizon covers only a slice of the stream and
      // dropDuplicatesWithinWatermark must EVICT: the claim is
      // max_state_rows ≈ distinct classes inside the horizon, nowhere
      // near stream length — and the hot class adds ONE state row per
      // horizon, so skew state ≤ uniform state.
      val uniDoc = s"$outDir-unidedup$reps" // shared with skewdedup
      val hotDoc = s"$outDir-hotdoc$reps"
      if (!new java.io.File(s"$uniDoc/documents.parquet/_SUCCESS")
          .exists()) {
        val docs = spark.read.parquet(s"$baseDir/documents.parquet")
        (0 until reps).map { r =>
          docs.withColumn("doc_id", col("doc_id") + lit(r * Shift))
            .withColumn("text", if (r == 0) col("text")
              else concat(col("text"), lit(s" rep$r")))
        }.reduce(_ unionAll _)
          .write.mode("overwrite").parquet(s"$uniDoc/documents.parquet")
      }
      if (!new java.io.File(s"$hotDoc/documents.parquet/_SUCCESS")
          .exists()) {
        val hotText = spark.read.parquet(s"$uniDoc/documents.parquet")
          .orderBy(col("doc_id")).limit(1).select(col("text").as("hot_text"))
        spark.read.parquet(s"$uniDoc/documents.parquet")
          .crossJoin(broadcast(hotText))
          .withColumn("text", when(col("doc_id") % 20 === 0, col("hot_text"))
            .otherwise(col("text")))
          .drop("hot_text")
          .write.mode("overwrite").parquet(s"$hotDoc/documents.parquet")
      }
      def docStreamSrc(tag: String, dir: String): String = {
        val out = s"$outDir-docstreamsrc$reps/$tag"
        if (!new java.io.File(s"$out/_SUCCESS").exists()) {
          spark.read.parquet(s"$dir/documents.parquet")
            .repartitionByRange(nf, col("doc_id"))
            .sortWithinPartitions(col("doc_id"))
            .write.mode("overwrite").parquet(out)
          graft.streaming.Restart.orderPartFileMtimes(
            new java.io.File(out).listFiles().toSeq
              .filter(f => f.isFile && f.getName.startsWith("part-")),
            System.currentTimeMillis() - 2L * (nf + 2) * 2000L)
        }
        out
      }
      val ingestDedup: DataFrame => DataFrame = df => df
        .withColumn("norm_text",
          graft.functions.TextFunctions.normalizeText(spark, col("text")))
        .withColumn("event_time", timestamp_micros(col("doc_id") * lit(1000L)))
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark("norm_text")
      Seq("uniform" -> uniDoc, "skew" -> hotDoc).foreach { case (tag, dir) =>
        val src = docStreamSrc(tag, dir)
        val classes = spark.read.parquet(s"$dir/documents.parquet")
          .select(graft.functions.TextFunctions
            .normalizeText(spark, col("text")))
          .distinct().count()
        val (wall, in, st, nb) = drainStats(src, ingestDedup)
        println(s"""{"metric":"skewingest","corpus":"$tag${reps}x",""" +
          f""""wall_sec":$wall%.2f,"input_rows":$in,""" +
          s""""distinct_classes":$classes,""" +
          s""""max_state_rows":$st,"data_batches":$nb}""")
      }
    } else if (mode == "recalldrift") {
      // APPENDED-IVF RECALL DRIFT at deployment scale (VERDICT r14
      // missing #2): the `ann_recall_audit_appended` gate pins
      // nlist = 8 and appends an arrival-order half of the SAME
      // distribution — here the appended mass is DISTRIBUTIONALLY
      // SHIFTED (the skewdedup mass-duplication shape: every 20th
      // appended row carries ONE hot vector — a 5%-of-append hot mass
      // the build-time centroids never saw) and nlist is the derived
      // `autoNlist(N)`. Vec_ids are renumbered DENSE (the audit's
      // arrival-order split is `vec_id < count/2`), so the build half
      // is exactly the uniform block and the appended half exactly the
      // drifted block. Recorded: appended vs fresh recall@k against
      // the exact rung, both indexes' max/mean cell imbalance (the
      // rebuild trigger a deployment alerts on), and wall.
      val driftDir = s"$outDir-recalldrift$reps"
      val baseN = 500L // sf0.01 embeddings: dense ids 0..499
      if (!new java.io.File(s"$driftDir/embeddings.parquet/_SUCCESS")
          .exists()) {
        val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
        val hotVec = emb.orderBy(col("vec_id")).limit(1)
          .select(col("embedding").as("hot_embedding"))
        val uni = (0 until reps).map { r =>
          emb.withColumn("vec_id", col("vec_id") + lit(r * baseN))
        }.reduce(_ unionAll _)
        val drifted = (0 until reps).map { r =>
          emb.withColumn("vec_id", col("vec_id") + lit((reps + r) * baseN))
        }.reduce(_ unionAll _)
          .crossJoin(broadcast(hotVec))
          .withColumn("embedding",
            when(col("vec_id") % 20 === 0, col("hot_embedding"))
              .otherwise(col("embedding")))
          .drop("hot_embedding")
        uni.unionAll(drifted).write.mode("overwrite")
          .parquet(s"$driftDir/embeddings.parquet")
      }
      val emb = GraphIO.embeddings(spark, driftDir)
      val n = emb.count()
      val nlist = pipelines.Similarity.autoNlist(n)
      def auditOnce(): (Double, Array[org.apache.spark.sql.Row]) = {
        val t0 = System.nanoTime()
        val rows = pipelines.Similarity
          .recallAuditAppended(emb, nq = 10, k = 5, nlist = nlist)
          .collect()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      auditOnce() // JIT/scan warm pass
      val (wall, rows) = auditOnce()
      val cells = rows.map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      def row(name: String): String = {
        val (h, t, v) = cells(name)
        f""""$name":{"hits":$h,"total":$t,"value":$v%.4f}"""
      }
      println(s"""{"metric":"recalldrift","reps":$reps,"rows":$n,""" +
        f""""nlist":$nlist,"wall_sec":$wall%.1f,""" +
        row("ivf_appended") + "," + row("ivf_fresh") + "," +
        row("cells_appended") + "," + row("cells_fresh") + "}")
    } else if (mode == "mrlivf") {
      // MRL×IVF READ-FRACTION evidence (VERDICT r18 next #1): under
      // deployment sizing (nlist = autoNlist ∝ √N) the composed rung's
      // full-vector rerank pool (autoMrlIvfCand ∝ nprobe·√N/2) must
      // FALL as a corpus fraction while the plain mrl rung's
      // autoMrlCand pool stays a constant 1/5 of the corpus — the
      // linear asymptote the composition retires. Corpora: base
      // embeddings and a reps× id-shifted replication; recall measured
      // against the exact rung at the same derived sizing (replicas
      // are exact duplicates, which co-locate in one cell — the
      // composed rung must still find them).
      val dir = s"$outDir-mrlivf$reps"
      val baseEmb = spark.read.parquet(s"$baseDir/embeddings.parquet")
      val baseN = baseEmb.count()
      if (!new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists()) {
        (0 until reps).map(r =>
          baseEmb.withColumn("vec_id", col("vec_id") + lit(r * baseN)))
          .reduce(_ unionAll _)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
      def leg(d: String): String = {
        val emb = GraphIO.embeddings(spark, d)
        val n = emb.count()
        val nlist = pipelines.Similarity.autoNlist(n)
        val pool = pipelines.Similarity.autoMrlIvfCand(n, 5, nlist, 4)
        val mrlPool = pipelines.Similarity.autoMrlCand(n, 5)
        val exactPlan = pipelines.Similarity.annTopK(emb, 10, 5)
        val exact = exactPlan.collect()
          .map(r => (r.getLong(0), r.getLong(2))).toSet
        Checkpoints.releaseAll(exactPlan)
        val plan = pipelines.Similarity.annTopKMrlIvf(emb, 10, 5,
          nlist = nlist)
        val t0 = System.nanoTime()
        val got = plan.collect()
        val wall = (System.nanoTime() - t0) / 1e9
        Checkpoints.releaseAll(plan)
        val hits = got.count(r => exact((r.getLong(0), r.getLong(2))))
        f""""n":$n,"nlist":$nlist,"pool":$pool,""" +
          f""""read_frac":${pool.toDouble / n}%.4f,"mrl_pool":$mrlPool,""" +
          f""""mrl_read_frac":${mrlPool.toDouble / n}%.4f,""" +
          f""""recall":${hits / 50.0}%.2f,"wall":$wall%.1f"""
      }
      println(s"""{"metric":"mrlivf","reps":$reps,""" +
        s""""base":{${leg(baseDir)}},"scaled":{${leg(dir)}}}""")
    } else if (mode == "doulion") {
      // DOULION ESTIMATE-ERROR-vs-p evidence (VERDICT r18 next #6): on
      // the base corpus and the uniform reps× corpus, the exact
      // triangle count vs approxCount at the corpus-DERIVED rate
      // (autoPPermille) — the relative error should stay inside the
      // ~1/sqrt(p³T) band (the derivation holds p³T ≈ constant, so the
      // band is scale-invariant by design) while the approx wall
      // shrinks relative to exact as p falls.
      val uniDir = s"$outDir-unikernel$reps"
      ensureOrderCorpus(spark, baseDir, uniDir, reps, hotTenths = 0)
      def leg(d: String): String = {
        val edges = GraphIO.orderGraph(spark, d).edges
        val exactPlan = Triangles.perNode(edges)
        val t0 = System.nanoTime()
        val truth = exactPlan
          .agg(expr("coalesce(sum(triangles), bigint(0)) div 3"))
          .head().getLong(0)
        val wallExact = (System.nanoTime() - t0) / 1e9
        Checkpoints.releaseAll(exactPlan)
        val approxPlan = Triangles.approxCount(edges)
        val t1 = System.nanoTime()
        val row = approxPlan.head()
        val wallApprox = (System.nanoTime() - t1) / 1e9
        Checkpoints.releaseAll(approxPlan)
        GraphIO.evict(spark, d)
        val est = row.getDouble(3)
        val err = if (truth == 0) 0.0
          else math.abs(est - truth) / truth * 100
        f""""p":${row.getInt(0)},"sampled_edges":${row.getLong(1)},""" +
          f""""sampled_triangles":${row.getLong(2)},"true":$truth,""" +
          f""""est":$est%.0f,"err_pct":$err%.2f,""" +
          f""""wall_exact":$wallExact%.1f,"wall_approx":$wallApprox%.1f"""
      }
      println(s"""{"metric":"doulion","reps":$reps,""" +
        s""""base":{${leg(baseDir)}},"scaled":{${leg(uniDir)}}}""")
    } else if (mode != "train") {
      def benchOrdered(dir: String): Map[String, Double] = benchDir(dir, order)
      val base = benchOrdered(baseDir)
      val big = benchOrdered(outDir)
      def js(m: Map[String, Double]): String =
        m.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
      println(s"""{"corpus":"$baseDir","queries":${js(base)}}""")
      println(s"""{"corpus":"$outDir","reps":$reps,"queries":${js(big)}}""")
      val ratios = order.map { case (n, _) =>
        f""""$n":${big(n) / base(n)}%.2f""" }.mkString("{", ",", "}")
      println(s"""{"metric":"scale_ratio_${reps}x","order":"$mode",""" +
        s""""ratios":$ratios}""")
    }

    if (mode.startsWith("one:") || mode == "skewwin" ||
        mode == "skewkernel" || mode == "skewtri" ||
        mode == "skewstruct" || mode == "structidx" ||
        mode == "skewdedup" || mode == "incdelta" ||
        mode == "skewbudget" || mode == "skewstream" ||
        mode == "mrlivf" || mode == "doulion") {
      spark.stop(); return
    }
    // trainFraction evidence. The testdata embedding table (2k-20k
    // rows) is far too small for training cost to be data-dominated, so
    // build corpora of ~20k / ~1M vectors by in-plan id-shifted
    // replication of the derived table and compare: full-corpus
    // training at 50x data vs training on a hash-gated 1/50 sample
    // (constant absolute sample size). The documented 100 TB decoupling
    // holds if sampled training at 50x costs ~what full training costs
    // at 1x, while full training at 50x pays the full data growth.
    def corpusTimes(mult: Int): DataFrame = {
      val emb = GraphIO.embeddings(spark, outDir)
      (0 until mult).map(r =>
        emb.select((col("vec_id") + lit(r * 1000000000L)).as("vec_id"),
          col("embedding")))
        .reduce(_ unionAll _)
        .select(col("vec_id"), col("embedding"),
          pipelines.Similarity.norm(col("embedding")).as("nrm"))
    }
    def trainTime(corpus: DataFrame, frac: Double): Double =
      timeNoop(pipelines.Similarity.ivfCentroids(corpus, 8, frac))
    val small = corpusTimes(1).persist()
    val big = corpusTimes(50).persist()
    small.count(); big.count() // materialize: time training, not the scan
    trainTime(small, 1.0) // JIT/codegen warm pass
    val tSmallFull = trainTime(small, 1.0)
    val tBigFull = trainTime(big, 1.0)
    val tBigSampled = trainTime(big, 1.0 / 50)
    small.unpersist(false); big.unpersist(false)
    println(f"""{"metric":"ivf_train_sec","small_full":$tSmallFull%.2f,""" +
      f""""big50x_full":$tBigFull%.2f,"big50x_sampled":$tBigSampled%.2f,""" +
      f""""full_ratio":${tBigFull / tSmallFull}%.2f,""" +
      f""""sampled_ratio":${tBigSampled / tSmallFull}%.2f}""")
    spark.stop()
  }
}
