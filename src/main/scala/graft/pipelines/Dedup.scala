package graft.pipelines

import graft.MinHashParams
import graft.functions.{GraftHash, TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines over the
  * `documents` table. All codegen'd Catalyst expressions — no UDFs —
  * and every operator has an exact DuckDB oracle twin in
  * [[graft.Oracles]].
  *
  * Scale design: every stage is a hash-partitioned aggregate or equi-join
  * (shuffle on doc_id / shingle / band signature); nothing is collected
  * or broadcast that grows with the corpus. The LSH band join is the
  * classic MinHash banding scheme — candidate pairs are generated only
  * inside equal-signature buckets, so the join never goes quadratic in
  * the corpus.
  */
object Dedup {

  /** Exact dedup: group identical texts, keep the lowest doc_id.
    * At 100 TB one groups on a text hash first; here the group key is the
    * text itself so the oracle can replicate byte-for-byte. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** Exact dedup, hash-groupBy formulation — the 100 TB shape: group on
    * (rolling-hash, text) so the shuffle key is a fixed-width integer
    * prefix and equal-hash-different-text collisions still split
    * correctly on the text tiebreak. Output identical to [[exact]]. */
  def exactByHash(spark: SparkSession, docs: DataFrame): DataFrame =
    docs.select(GraftHash.graftHash(spark, col("text")).as("h"),
        col("text"), col("doc_id"))
      .groupBy(col("h"), col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** End-to-end corpus cleaning — the composition a training-data
    * pipeline runs before tokenization, as one operator: NFC + case +
    * whitespace canonicalization ([[TF.normalizeText]]), language gate,
    * quality gate, then exact dedup on the *normalized* text in the
    * hash-groupBy shape (dedup after normalization is the point: byte
    * variants of one document collapse to one survivor). Output is the
    * surviving `keep_id` per distinct normalized text with its copy
    * count and quality. Every stage is a scan-local projection or a
    * single fixed-width-key aggregation — one shuffle end to end. */
  def cleanCorpus(spark: SparkSession, docs: DataFrame,
      minQuality: Double = 0.5, lang: String = "en"): DataFrame = {
    val base = docs
      .select(col("doc_id"), TF.normalizeText(spark, col("text")).as("norm_text"))
      .withColumn("quality", TF.qualityScore(col("norm_text")))
      .filter(TF.langId(col("norm_text")) === lang &&
        col("quality") >= lit(minQuality))
    base.select(GraftHash.graftHash(spark, col("norm_text")).as("h"),
        col("norm_text"), col("doc_id"), col("quality"))
      .groupBy(col("h"), col("norm_text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
        round(max(col("quality")), 6).as("quality"))
      .select(col("keep_id"), col("n_copies"), col("quality"))
      .orderBy(col("keep_id"))
  }

  /** Corpus-level quotation audit: for every source pair, how many
    * distinct winnowing fingerprint hashes ([[winnow]]) they share —
    * the "which corpora quote each other" matrix that the KMV
    * source-overlap audit ([[Sketches.kmvPairwiseJaccard]]) answers at
    * whole-shingle-set granularity and this answers at robust-
    * fingerprint granularity (winnow's guarantee: any shared run of ≥
    * w+k−1 tokens leaves a shared hash, at ~2/(w+1) of the shingle
    * volume).
    *
    * Scale shape: winnow output → distinct (source, hash) pairs → a
    * self-join keyed by hash with the same hot-key df-guard as the
    * n-gram family (a fingerprint present in many sources carries no
    * pairing signal and would alone mint |sources|² rows), then one
    * pair-keyed count. Everything joins on an int64. */
  def sourceQuoteMatrix(spark: SparkSession, docs: DataFrame, k: Int = 3,
      w: Int = 4, maxSources: Int = 16): DataFrame = {
    val fp = winnow(spark, docs.select(col("doc_id"), col("text")), k, w)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("fp_hash")).distinct()
    val dfs = fp.groupBy(col("fp_hash")).agg(count(lit(1)).as("nsrc"))
    val kept = fp.join(dfs.filter(col("nsrc") <= maxSources),
      Seq("fp_hash"), "left_semi")
    val x = kept.select(col("source").as("a"), col("fp_hash"))
    val y = kept.select(col("source").as("b"), col("fp_hash").as("f2"))
    x.join(y, col("fp_hash") === col("f2") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .orderBy(col("a"), col("b"))
  }

  /** The full curation chain as ONE operator — what a training-data
    * pipeline actually runs, composed end to end: normalize (NFC +
    * case + whitespace), language + quality gate, exact dedup on the
    * normalized text (wide-hash groupBy, min-id survivor with its
    * source carried via `min_by`), then a temperature-scaled mixture
    * draw over the surviving sources
    * ([[Sampling.temperatureSample]]). Output is that draw:
    * `(source, doc_id, rn, quota)`.
    *
    * Scale shape: scan-local projections → one fixed-width-key hash
    * aggregation (the dedup) → a one-row-per-source broadcast quota
    * table → one group-keyed draw shuffle. Three shuffles end to end
    * for normalize+filter+dedup+rebalance+sample of an arbitrary-size
    * corpus. */
  def curate(spark: SparkSession, docs: DataFrame,
      minQuality: Double = 0.5, lang: String = "en",
      total: Int = 100, alpha: Double = 0.5): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"),
        TF.normalizeText(spark, col("text")).as("norm_text"))
      .withColumn("quality", TF.qualityScore(col("norm_text")))
      .filter(TF.langId(col("norm_text")) === lang &&
        col("quality") >= lit(minQuality))
    val survivors = base
      .select(GraftHash.widePair(spark, col("norm_text")).as("h"),
        col("doc_id"), col("source"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("source"), col("doc_id")).as("source"))
    Sampling.temperatureSample(spark, survivors, "source", "doc_id",
      total, alpha)
  }

  /** Incremental (delta) exact dedup — the daily-ingest shape: keep
    * the rows of `incoming` whose normalized text appears neither in
    * the `existing` corpus nor earlier (by id) within the batch
    * itself. Returns `(doc_id, h)` for the accepted rows (the hash
    * rides along so the caller can append it to the existing
    * fingerprint store without re-hashing).
    *
    * Identity is the wide ~60-bit hash pair of the NORMALIZED text
    * ([[graft.functions.GraftHash.widePair]] over
    * [[TF.normalizeText]]) — the same collision-resistance standard as
    * the rest of the dedup family at ≥10⁹-document scale.
    *
    * Scale shape: the cross-corpus check is ONE left-anti equi-join on
    * a fixed-width int64 key — the incoming batch (small) shuffles
    * against the existing fingerprint set, and at 100 TB the
    * fingerprint store is just this hash column (8 bytes/doc), not the
    * corpus; the in-batch survivor pick is one hash aggregation over
    * the (small) batch. No text ever crosses the wire. */
  def dedupIncremental(spark: SparkSession, existing: DataFrame,
      incoming: DataFrame): DataFrame = {
    def hashed(df: DataFrame) = df.select(col("doc_id"),
      GraftHash.widePair(spark, TF.normalizeText(spark, col("text"))).as("h"))
    val existingH = hashed(existing).select(col("h"))
    hashed(incoming)
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .join(existingH, Seq("h"), "left_anti")
      .select(col("doc_id"), col("h"))
      .orderBy(col("doc_id"))
  }

  /** Near-duplicate corpus dedup end to end: MinHash-LSH candidate
    * pairs ([[minhashLsh]]) → duplicate clusters
    * ([[graft.operators.ConnectedComponents]]) → keep one canonical
    * (minimum-id) document per cluster plus every unpaired document.
    * Returns `(doc_id, n_dups_removed)` for the kept set — the
    * survivor list a training pipeline feeds to tokenization.
    *
    * Scale shape: pairs are banded (never quadratic), components run
    * join+agg rounds bounded by cluster diameter (shallow for dedup
    * graphs), and the final keep step is one left-anti join of the
    * corpus against the clustered-id set — each stage is an equi-join
    * or hash agg on a fixed-width key. */
  def nearDedupCorpus(spark: SparkSession, docs: DataFrame): DataFrame = {
    val comp = graft.operators.ConnectedComponents
      .run(minhashLsh(spark, docs, ordered = false))
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("n"))
    val canon = comp.join(sizes, Seq("comp"))
      .filter(col("id") === col("comp"))
      .select(col("id").as("doc_id"), (col("n") - 1).as("n_dups_removed"))
    docs.join(comp.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(0L).as("n_dups_removed"))
      .unionAll(canon)
      .orderBy(col("doc_id"))
  }

  /** Cross-source CANONICAL selection over near-dup clusters — the
    * curation twin of [[nearDedupCorpus]]: training pipelines dedup
    * ACROSS datasets and keep, per duplicate cluster, the member from
    * the most trusted source (wiki over CC over scrape), not the
    * minimum id. `prio` is any caller-supplied integer priority
    * expression over the document row (higher wins; ties break on
    * doc_id asc, so the pick is total). Unpaired documents survive as
    * their own singleton clusters.
    *
    * Scale shape: the per-cluster pick is a HASH AGGREGATE of
    * `min(struct(-prio, doc_id, source))` — lexicographic struct min
    * ≡ (prio desc, doc_id asc) argmin — so a mass-duplication cluster
    * (the `skewdedup` stress) collapses map-side like every kernel hot
    * key; no per-cluster sort or window anywhere. Output:
    * `(keep_id, source, prio, n_dups_removed)` — the kept corpus. */
  def canonicalByPriority(spark: SparkSession, docs: DataFrame,
      prio: Column): DataFrame =
    canonicalByPriorityIndexed(docs,
      graft.operators.ConnectedComponents
        .run(minhashLsh(spark, docs, ordered = false))
        .select(col("id").as("doc_id"), col("comp").as("cluster_id")),
      prio)

  /** [[canonicalByPriority]] against ALREADY-RESOLVED cluster
    * assignments (`(doc_id, cluster_id, ...)` — a persisted
    * `clusters_index` output read back from storage) — the deployment
    * shape: the corpus-sized shingle/minhash/CC pass happened once at
    * index build, and re-picking survivors under a NEW priority order
    * (trust policies change more often than corpora) costs one join +
    * one hash aggregation over the corpus, never a dedup re-run. */
  def canonicalByPriorityIndexed(docs: DataFrame, assignments: DataFrame,
      prio: Column): DataFrame =
    docs.select(col("doc_id"), col("source"), prio.cast("int").as("prio"))
      .join(assignments.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .select(coalesce(col("cluster_id"), col("doc_id")).as("cid"),
        col("doc_id"), col("source"), col("prio"))
      .groupBy(col("cid"))
      .agg(min(struct((-col("prio")).as("np"), col("doc_id"),
        col("source"))).as("pick"), count(lit(1)).as("n"))
      .select(col("pick.doc_id").as("keep_id"), col("pick.source").as("source"),
        (-col("pick.np")).as("prio"), (col("n") - 1).as("n_dups_removed"))
      .orderBy(col("keep_id"))

  /** 16-bit SimHash over whitespace tokens (with multiplicity): bit b of
    * the fingerprint is the sign of Σ_tokens (2·bit_b(hash(t)) − 1).
    * Exact integer arithmetic end-to-end. */
  def simhash(spark: SparkSession, docs: DataFrame): DataFrame = {
    val th = docs
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("t"))
      .select(col("doc_id"), GraftHash.graftHash(spark, col("t")).as("h"))
    val bitAggs = (0 until 16).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1, 1)
        .otherwise(-1)).as(s"s$b")
    }
    val fp = (0 until 16).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    th.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), fp.cast("long").as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** Wide band signature: TWO independent folds of the band's 4 slot
    * minima — `(·31 mod P)` and `(·131 mod P2)` — paired into one
    * ~60-bit int64 `sigA·P2 + sigB`. A single mod-P fold lives in a
    * ~10⁹ signature space, which starts minting false candidate pairs
    * (random band collisions) at ≥10⁹ documents; the pair space is
    * ~10¹⁸, pushing that horizon past any realistic corpus. Max value
    * (P−1)·P2 + P2−1 ≈ 10¹⁸ < 2⁶³, exact on both engines. */
  private def bandSig(ms: Seq[Column]): Column = {
    val p = lit(MinHashParams.P)
    val p2 = lit(MinHashParams.P2)
    val sigA = (((ms(0) * 31 + ms(1)) % p * 31 + ms(2)) % p * 31 + ms(3)) % p
    val sigB = (((ms(0) * 131 + ms(1)) % p2 * 131 + ms(2)) % p2 * 131 + ms(3)) % p2
    sigA * p2 + sigB
  }

  /** MinHash + LSH near-duplicate candidates: word-3-gram shingles →
    * 16 min-hash slots → 4 bands of 4 rows → equi-join on (band, sig).
    * Returns distinct (a, b) candidate pairs, a < b.
    *
    * Shingle identity is the 60-bit (graft_hash, graft_hash2) PAIR and
    * the slot hash `(a_j·h1 + b_j·h2) mod P` is linear in both
    * components — a 30-bit single-fold key would silently merge
    * distinct shingles at ≥10⁹-document scale, biasing every min slot
    * downward on exactly the corpora this operator exists for. */
  def minhashLsh(spark: SparkSession, docs: DataFrame,
      ordered: Boolean = true): DataFrame = {
    val bands = bandTable(spark, docs)
    val x = bands.select(col("doc_id").as("a"), col("band"), col("sig"))
    val y = bands.select(col("doc_id").as("b"),
      col("band").as("band2"), col("sig").as("sig2"))
    val pairs = x
      .join(y, col("band") === col("band2") && col("sig") === col("sig2") &&
        col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    // The global sort exists for gate determinism (stable dump order);
    // the deployed shape feeds the pairs straight into components /
    // verify stages, where sorting an unbounded pair list is a wasted
    // range exchange — those callers pass ordered = false.
    if (ordered) pairs.orderBy(col("a"), col("b")) else pairs
  }

  /** Per-document LSH band signatures `(doc_id, band, sig)` — the
    * candidate index both [[minhashLsh]] (self-join) and
    * [[incrementalMinhash]] (delta-vs-index probe) join on, and the
    * table a production deployment PERSISTS between deltas (3 int64s ×
    * bands per document).
    *
    * Hash before distinct: the dedup shuffle then moves (doc_id, int64)
    * instead of raw shingle strings — the FUSED wide hash computes both
    * folds in one string pass, and the (h, h2) components are recovered
    * by div/mod after the distinct (bijective pairing). Equivalent
    * regardless of hash collisions — min() is multiplicity-insensitive,
    * so collapsing two colliding shingles to one row cannot change any
    * min slot. */
  def bandTable(spark: SparkSession, docs: DataFrame): DataFrame =
    bandsFrom(slotTable(spark, docs))

  /** Band keys from an ALREADY-COMPUTED slot table — lets callers that
    * need both views ([[minhashEstimate]]) materialize the slot table
    * once instead of re-running the shingle explode + 16-min
    * aggregation per consumer. */
  private def bandsFrom(mh: DataFrame): DataFrame =
    (0 until MinHashParams.Bands).map { bd =>
      val ms = (0 until MinHashParams.Rows)
        .map(r => col(s"m${bd * MinHashParams.Rows + r}"))
      mh.select(col("doc_id"), lit(bd).as("band"), bandSig(ms).as("sig"))
    }.reduce(_ unionAll _)

  /** Per-document 16-slot MinHash table `(doc_id, m0..m15)` — the
    * signature [[bandTable]] folds into band keys and
    * [[minhashEstimate]] compares slot-by-slot. */
  def slotTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    val hh = docs
      .select(col("doc_id"), explode(TF.shingles(col("text"), 3)).as("sh"))
      .select(col("doc_id"), GraftHash.widePair(spark, col("sh")).as("wh"))
      .distinct()
      .select(col("doc_id"), expr(s"wh div ${GraftHash.Mod2}L").as("h"),
        (col("wh") % GraftHash.Mod2).as("h2"))
    val minAggs = MinHashParams.params.zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("h") + lit(b) * col("h2")) % lit(MinHashParams.P))
        .as(s"m$j")
    }
    hh.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
  }

  /** INCREMENTAL near-duplicate detection — the daily-delta production
    * shape, the [[minhashLsh]] analogue of [[dedupIncremental]]'s
    * exact check: the NEW documents' band signatures probe the
    * existing corpus's PERSISTED signature index, so a delta of `d`
    * documents costs `O(d·bands)` index probes against a co-keyed
    * join — never a corpus self-join per delta. Returns
    * `(new_id, dup_of)` — every existing document sharing ≥ 1 LSH
    * band with a new one (the same candidate semantics as
    * [[minhashLsh]], restricted to new×existing pairs). Here the
    * index side is derived in-query from `corpus`; a deployment reads
    * it back from storage and appends the delta's signatures after
    * the probe. */
  def incrementalMinhash(spark: SparkSession, corpus: DataFrame,
      delta: DataFrame): DataFrame =
    incrementalMinhashIndexed(spark, bandTable(spark, corpus), delta)

  /** [[incrementalMinhash]] against an ALREADY-BUILT `(doc_id, band,
    * sig)` index ([[bandTable]] output read back from storage) — the
    * shape a daily-delta deployment actually runs: the corpus-sized
    * signature pass happened once at index build, each delta pays only
    * its own signatures plus the probe join. */
  def incrementalMinhashIndexed(spark: SparkSession, index: DataFrame,
      delta: DataFrame): DataFrame = {
    val idx = index.select(col("doc_id").as("dup_of"),
      col("band").as("band2"), col("sig").as("sig2"))
    bandTable(spark, delta)
      .join(idx, col("band") === col("band2") && col("sig") === col("sig2"))
      // a re-ingested document (backfill/reprocessing) is present on
      // BOTH sides and would report itself as its own duplicate — a
      // keep-one-per-pair consumer would then drop it entirely
      .filter(col("doc_id") =!= col("dup_of"))
      .select(col("doc_id").as("new_id"), col("dup_of")).distinct()
      .orderBy(col("new_id"), col("dup_of"))
  }

  // ---- band-index lifecycle: build / append / compact ----
  //
  // The persisted `(doc_id, band, sig)` index ([[bandTable]]) is what a
  // daily-delta deployment probes; documents get RE-INGESTED (backfill,
  // reprocessing, content updates), so the index needs a lifecycle:
  // append the new generation's signatures, then compact away the
  // superseded ones. Generations are an explicit `gen` column — append
  // is a blind unionByName (pure file append in a parquet deployment, no
  // read-modify-write of the corpus-sized index on the delta path), and
  // compaction is the periodic rewrite that keeps only each document's
  // latest generation. Correctness bar (gated): compact(build(stale) ++
  // entries(updated)) == build-from-scratch(final corpus).

  /** Band-index rows for `docs` stamped with generation `gen` —
    * the unit of both initial build (`gen = 0`) and each append. */
  def bandIndexEntries(spark: SparkSession, docs: DataFrame,
      gen: Long): DataFrame =
    bandTable(spark, docs).withColumn("gen", lit(gen))

  /** Append a new generation of signatures to a versioned index: a
    * pure union — O(delta) work, nothing corpus-sized is rewritten.
    * Caller contract: one `gen` value per append, strictly above any
    * generation already present for the re-ingested doc_ids. */
  def bandIndexAppend(index: DataFrame, entries: DataFrame): DataFrame =
    index.unionByName(entries)

  /** Compact a versioned index to each document's LATEST generation,
    * dropping superseded signatures (and the `gen` column — output is
    * probe-shaped `(doc_id, band, sig)`, directly comparable to a
    * from-scratch [[bandTable]] rebuild).
    *
    * Scale shape: one doc_id-keyed max aggregation plus a co-keyed
    * join — both shuffle on doc_id only, so compaction of a 10¹²-row
    * index is a single co-partitioned pass, not a window over the
    * whole table. */
  def bandIndexCompact(index: DataFrame): DataFrame = {
    // Join on doc_id ONLY and filter the generation equality: the max
    // aggregation's output is already hash-partitioned by doc_id, so a
    // doc_id equi-join reuses that exchange, whereas joining on the
    // composite (doc_id, gen) key would re-shuffle BOTH sides on a
    // partitioning nothing upstream or downstream shares.
    val latest = index.groupBy(col("doc_id"))
      .agg(max(col("gen")).as("max_gen"))
    index.join(latest, Seq("doc_id"))
      .filter(col("gen") === col("max_gen"))
      .select(col("doc_id"), col("band"), col("sig"))
  }

  /** INCREMENTAL duplicate-cluster maintenance — the daily-delta shape
    * for near-dup clusters, completing the lifecycle story:
    * [[incrementalMinhashIndexed]] keeps the candidate PAIRS incremental,
    * this keeps the resolved CLUSTERS incremental. The existing corpus
    * contributes its (persisted, in deployment) cluster assignments as
    * star edges `(member, cluster_rep)` — which preserve exactly the
    * old graph's connectivity — plus its band index for the delta
    * probe; the delta contributes new×existing probe pairs and its own
    * new×new self-join pairs. Connected components over that union
    * equals components over the FULL corpus's pair graph (banding is
    * per-document, so old×old pairs are unchanged by the delta), which
    * is what the gate proves: the output passes `dedup_clusters`'
    * from-scratch oracle unchanged. Connectivity is preserved by
    * construction, so a new document that pairs into two previously
    * separate clusters merges them, exactly as a rebuild would.
    *
    * Scale shape: per delta, O(|old clusters|) star edges + O(delta)
    * probe/self pairs feed the O(log d)-round component engine — the
    * corpus-sized shingle/minhash pass never re-runs (here the base
    * assignments and index are derived in-query; a deployment reads
    * both back from storage, exactly like the `band_index`/`inc_dedup`
    * pattern). */
  def incrementalClusters(spark: SparkSession, corpus: DataFrame,
      delta: DataFrame): DataFrame = {
    // The corpus band table feeds BOTH the base pair self-join and the
    // delta probe — materialized once so the corpus-sized shingle +
    // 16-min aggregation (the expensive stage) runs once, not per
    // consumer (in deployment this frame is the persisted index read
    // back from storage, so the point is moot there; in-query it
    // halves the corpus-side work).
    val idx = graft.Checkpoints.materialize(bandTable(spark, corpus))
    val x = idx.select(col("doc_id").as("a"), col("band"), col("sig"))
    val y = idx.select(col("doc_id").as("b"),
      col("band").as("band2"), col("sig").as("sig2"))
    val basePairs = x
      .join(y, col("band") === col("band2") && col("sig") === col("sig2") &&
        col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val baseAssign =
      graft.operators.ConnectedComponents.clusters(basePairs)
    incrementalClustersIndexed(spark, idx, baseAssign, delta)
  }

  /** [[incrementalClusters]] against an ALREADY-BUILT band index
    * ([[bandTable]] output) and ALREADY-RESOLVED base cluster
    * assignments ([[graft.operators.ConnectedComponents.clusters]]
    * output `(doc_id, cluster_id, n_members)`, both read back from
    * storage) — the TRUE O(delta) daily-delta path: the corpus-sized
    * shingle/minhash pass AND the base connected-components run both
    * happened once at index-build time; each delta pays only its own
    * signatures, the index probe, its self-join, and a component pass
    * over O(|base members| + |delta pairs|) star/probe edges.
    *
    * The base assignments enter as star edges `(member, cluster_rep)`,
    * which preserve exactly the old pair graph's connectivity, so
    * components over star ∪ probe ∪ delta-self edges equal components
    * over the full corpus's pair graph (banding is per-document — the
    * delta cannot change old×old pairs). Gate
    * `dedup_clusters_incremental_indexed` proves it by passing
    * `dedup_clusters`' from-scratch oracle with both inputs round-
    * tripped through parquet. */
  def incrementalClustersIndexed(spark: SparkSession, index: DataFrame,
      assignments: DataFrame, delta: DataFrame): DataFrame = {
    val starEdges = assignments.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("a"), col("cluster_id").as("b"))
    val newOld = incrementalMinhashIndexed(spark, index, delta)
      .select(col("new_id").as("a"), col("dup_of").as("b"))
    val newNew = minhashLsh(spark, delta, ordered = false)
    graft.operators.ConnectedComponents.clusters(
      starEdges.unionAll(newOld).unionAll(newNew))
  }

  /** LSH candidates with their ESTIMATED Jaccard similarity — the
    * triage layer between candidate generation and an exact verify:
    * for each [[minhashLsh]] pair, the fraction of the 16 MinHash
    * slots that agree (the unbiased Jaccard estimator; k/16 is exactly
    * representable, so the estimate is integer-exact cross-engine).
    * A pipeline thresholds on this to rank/prune candidates before
    * paying an exact [[ngramJaccard]] pass. Scale shape: the banded
    * candidate pairs (never all-pairs) joined twice against the
    * 16-slot signature table — per-pair work is a 16-slot compare. */
  def minhashEstimate(spark: SparkSession, docs: DataFrame): DataFrame = {
    // The slot table feeds the band self-join (4 branches per side)
    // AND both signature sides — materialize it once so the shingle
    // explode + 16-min aggregation (the expensive stage) runs once,
    // not once per plan instance; the caller's releaseAll frees it.
    val slots = graft.Checkpoints.materialize(slotTable(spark, docs))
    val bands = bandsFrom(slots)
    val x = bands.select(col("doc_id").as("a"), col("band"), col("sig"))
    val y = bands.select(col("doc_id").as("b"),
      col("band").as("band2"), col("sig").as("sig2"))
    val pairs = x.join(y, col("band") === col("band2") &&
        col("sig") === col("sig2") && col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    def side(tag: String) = slots.select(col("doc_id").as(tag) +:
      (0 until MinHashParams.NumHashes)
        .map(j => col(s"m$j").as(s"$tag$j")): _*)
    val agree = (0 until MinHashParams.NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(side("a"), "a").join(side("b"), "b")
      .select(col("a"), col("b"),
        (agree.cast("double") / lit(16.0)).as("est_jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** Per-document folded MinHash signature via the typed
    * [[graft.functions.MinHashAgg]] aggregator (single-pass primitive
    * buffer) — the `Aggregator[IN,BUF,OUT]` formulation of the same
    * computation [[minhashLsh]] does with 16 builtin `min` columns. */
  def minhashSignature(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id"), explode(TF.shingles(col("text"), 3)).as("sh"))
      .select(col("doc_id"), GraftHash.widePair(spark, col("sh")).as("wh"))
      .distinct() // 60-bit pair keys; equivalent (min is multiplicity-insensitive)
      .select(col("doc_id"), expr(s"wh div ${GraftHash.Mod2}L").as("h"),
        (col("wh") % GraftHash.Mod2).as("h2"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1).mapValues(t => (t._2, t._3))
      .agg(graft.functions.MinHashAgg.toColumn.name("sig"))
      .toDF("doc_id", "sig")
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination: per corpus document, the fraction of
    * its word-`n`-gram shingles that also appear anywhere in the
    * `bench` (evaluation) corpus — the test-set-overlap check a
    * training pipeline runs before a corpus is allowed near a model.
    * Returns `(doc_id, n_grams, n_hits, overlap_frac, contaminated)`;
    * docs with fewer than `n` tokens have no shingles and are not
    * scored (no row), mirroring the oracle.
    *
    * Scale shape: both shingle sets are hashed to ONE int64 — the
    * 60-bit [[GraftHash.widePair]] (a 30-bit key would mint false
    * "hits" by collision at corpus scale, i.e. false contamination
    * flags) — before any shuffle; the benchmark side collapses to a
    * distinct hash set (typically tiny next to the corpus —
    * broadcastable, and the left-semi join lets the planner pick
    * broadcast when it fits); the corpus side is touched once: one
    * left join marks each corpus shingle as hit/missed, one hash
    * aggregation counts both per doc. Nothing is ever pairwise in
    * documents. */
  def benchmarkContamination(spark: SparkSession, corpus: DataFrame,
      bench: DataFrame, n: Int = 3, threshold: Double = 0.2): DataFrame = {
    def hashedShingles(docs: DataFrame) = docs
      .select(col("doc_id"), explode(TF.shingles(col("text"), n)).as("s"))
      .select(col("doc_id"), GraftHash.widePair(spark, col("s")).as("h"))
      .distinct()
    val cs = hashedShingles(corpus)
    val bs = hashedShingles(bench).select(col("h")).distinct()
      .withColumn("hit", lit(1))
    val counts = cs.join(bs, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hits"))
    val frac = col("n_hits").cast("double") / col("n_grams").cast("double")
    counts.select(col("doc_id"), col("n_grams"), col("n_hits"),
        round(frac, 6).as("overlap_frac"),
        (frac >= lit(threshold)).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-prefiltered decontamination — the 100 TB shape of
    * [[benchmarkContamination]]: the benchmark shingle set is folded
    * into a deterministic Bloom bitmap (`mBits` bits as `mBits/32`
    * bit_or-aggregated 32-bit words — bit 63 of a 64-bit word is not
    * cross-engine portable: DuckDB raises on `1::BIGINT << 63` where
    * the JVM wraps; per shingle, `probes` double-hashed
    * positions `(h1 + j·h2) mod mBits`), which is broadcast and
    * prefilters the corpus shingles BEFORE the exact semi-join — at
    * scale the bitmap is KBs where the distinct-hash set is GBs, and
    * only bloom-positive shingles (true hits + the small
    * false-positive tail) reach the exact join. Zero false negatives
    * by construction: `n_hits`/`overlap_frac`/`contaminated` equal the
    * unfiltered operator's output, and `n_bloom` exposes the
    * false-positive tail for bitmap sizing. Shingle identity here is
    * the (graft_hash, graft_hash2) PAIR (finer than
    * [[benchmarkContamination]]'s single 30-bit hash — pair collisions
    * are ~2^-60). Everything is integer-exact, so the oracle replays
    * the bitmap bit-for-bit. */
  def benchmarkContaminationBloom(spark: SparkSession, corpus: DataFrame,
      bench: DataFrame, n: Int = 3, threshold: Double = 0.2,
      mBits: Int = 65536, probes: Int = 4): DataFrame = {
    require(mBits % 32 == 0 && mBits > 0, s"mBits must be a positive " +
      s"multiple of 32, got $mBits")
    require(probes >= 1, s"probes must be >= 1, got $probes")
    def shingleHashes(docs: DataFrame) = docs
      .select(col("doc_id"), explode(TF.shingles(col("text"), n)).as("s"))
      .select(col("doc_id"), GraftHash.widePair(spark, col("s")).as("wh"))
      .distinct() // one fused-hash pass; pair recovered below (bijection)
      .select(col("doc_id"), expr(s"wh div ${GraftHash.Mod2}L").as("h"),
        (col("wh") % GraftHash.Mod2).as("h2"))
    def positions = explode(array((0 until probes).map(j =>
      pmod(col("h") + lit(j.toLong) * col("h2"), lit(mBits.toLong))): _*))
    val benchHashes = shingleHashes(bench)
      .select(col("h"), col("h2")).distinct()
    val bloom = benchHashes.select(positions.as("pos"))
      .select(expr("pos div 32").as("word"), expr("pos % 32").as("bit"))
      .groupBy(col("word"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))")
        .as("mask"))
    val cs = shingleHashes(corpus)
    // A corpus shingle survives iff ALL `probes` bits are set; a word
    // absent from the bitmap contributes no row, so its probes cannot
    // reach the count.
    val surviving = cs.select(col("doc_id"), col("h"), col("h2"),
        positions.as("pos"))
      .select(col("doc_id"), col("h"), col("h2"),
        expr("pos div 32").as("word"), expr("pos % 32").as("bit"))
      .join(broadcast(bloom), Seq("word"))
      .filter(expr(
        "(mask & shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))) != 0"))
      .groupBy(col("doc_id"), col("h"), col("h2"))
      .agg(count(lit(1)).as("nset"))
      .filter(col("nset") === probes)
      .select(col("doc_id"), col("h"), col("h2"))
    // exact confirm on the (small) bloom-positive subset only
    val confirmed = surviving
      .join(benchHashes.withColumn("hit", lit(1)), Seq("h", "h2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bloom"), count(col("hit")).as("n_hits"))
    val counts = cs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(confirmed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_bloom"), lit(0L)).as("n_bloom"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    val frac = col("n_hits").cast("double") / col("n_grams").cast("double")
    counts.select(col("doc_id"), col("n_grams"), col("n_bloom"),
        col("n_hits"), round(frac, 6).as("overlap_frac"),
        (frac >= lit(threshold)).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** N-gram Jaccard similarity via shared-shingle candidate generation:
    * only pairs with >= 1 common shingle are scored (the join prunes the
    * quadratic pair space). Integer set sizes -> exact double division.
    *
    * Scale guard: the candidate join produces O(df²) pairs per shingle,
    * so one stop-word shingle with df in the millions turns the operator
    * into all-pairs in disguise. Shingles with document frequency above
    * `maxShingleDf` are dropped BEFORE the pair join, bounding the work
    * per shingle at maxShingleDf²/2; the number of dropped shingles is
    * logged. Sizes (na/nb) still count every shingle, so for corpora
    * whose max df stays under the cutoff (both gate corpora: max df 7 at
    * sf0.01, 25 at sf0.1) the output is bit-identical to the unguarded
    * join; above it, scores of pairs sharing a dropped shingle are
    * undercounted — the standard near-dup trade (a shingle present in
    * >maxShingleDf docs carries no dedup signal). */
  /** Asymmetric n-gram containment — the quote/inclusion detector
    * Jaccard cannot see: `C(a→b) = |S(a) ∩ S(b)| / |S(a)|` is ~1 when
    * document `a` is quoted inside a much larger `b`, while their
    * Jaccard stays near 0 (the union is dominated by `b`). Emits both
    * directions of every candidate pair as `(quoted, container,
    * containment)`, thresholded. Same candidate machinery, hot-shingle
    * guard, and hashed-set semantics as [[ngramJaccard]]; the
    * intersection count is computed once per unordered pair and reused
    * for both directions. */
  def containment(docs: DataFrame, threshold: Double = 0.8,
      maxShingleDf: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    val sh = docs
      .select(col("doc_id"), explode(TF.shingles(col("text"), 3)).as("s"))
      .select(col("doc_id"), GraftHash.widePair(spark, col("s")).as("sh"))
      .distinct().persist()
    try {
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val dfs = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      // loud drop audit — same contract as ngramJaccard's: hot-shingle
      // exclusion silently undercounts both containment directions, so
      // it must never be invisible
      val nDropped = dfs.filter(col("df") > maxShingleDf).count()
      if (nDropped > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"containment: dropped $nDropped hot shingles (df > $maxShingleDf) " +
            "before the pair join; their pairs' containment is undercounted")
      val kept = sh.join(dfs.filter(col("df") <= maxShingleDf),
        Seq("sh"), "left_semi")
      val x = kept.select(col("doc_id").as("a"), col("sh"))
      val y = kept.select(col("doc_id").as("b"), col("sh").as("sh2"))
      val common = x.join(y, col("sh") === col("sh2") && col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .join(sz.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
        .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      val fwd = common.select(col("a").as("quoted"), col("b").as("container"),
        (col("c").cast("double") / col("na").cast("double")).as("cont"))
      val rev = common.select(col("b").as("quoted"), col("a").as("container"),
        (col("c").cast("double") / col("nb").cast("double")).as("cont"))
      fwd.unionAll(rev)
        .filter(col("cont") >= lit(threshold))
        .select(col("quoted"), col("container"),
          round(col("cont"), 6).as("containment"))
        .orderBy(col("quoted"), col("container"))
        .transform(graft.Checkpoints.materialize(_))
    } finally sh.unpersist(false)
  }

  def ngramJaccard(docs: DataFrame, threshold: Double = 0.5,
      maxShingleDf: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    // Shingles are hashed to ONE int64 — the 60-bit widePair; a 30-bit
    // fold would merge distinct shingles at corpus scale, inflating
    // every pair's intersection count — BEFORE any shuffle: the
    // distinct, both aggregations and the pair join then move 8-byte
    // keys instead of 20+-byte strings. Set semantics are over hashed
    // shingles on both engines, so a (~2^-60) hash merge is consistent
    // cross-engine rather than a divergence. The hashed shingle set
    // feeds three aggregations and both pair-join sides, so it is
    // computed once and cached; the (tiny) result is eagerly
    // checkpointed so the cache can be dropped before returning.
    val sh = docs
      .select(col("doc_id"), explode(TF.shingles(col("text"), 3)).as("s"))
      .select(col("doc_id"), GraftHash.widePair(spark, col("s")).as("sh"))
      .distinct().persist()
    try {
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val dfs = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      val nDropped = dfs.filter(col("df") > maxShingleDf).count()
      if (nDropped > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"ngramJaccard: dropped $nDropped hot shingles (df > $maxShingleDf) " +
            "before the pair join; their pairs' jaccard is undercounted")
      // Semi join keeps the kept-shingle rows without widening the
      // schema; both sides are hash-partitioned on sh, and df is a
      // post-aggregate (small) side.
      val kept = sh.join(dfs.filter(col("df") <= maxShingleDf),
        Seq("sh"), "left_semi")
      val x = kept.select(col("doc_id").as("a"), col("sh"))
      val y = kept.select(col("doc_id").as("b"), col("sh").as("sh2"))
      val common = x.join(y, col("sh") === col("sh2") && col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      val jac = common
        .join(sz.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
        .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
        .select(col("a"), col("b"), (col("c").cast("double") /
          (col("na") + col("nb") - col("c")).cast("double")).as("jac"))
      jac.filter(col("jac") >= lit(threshold))
        .select(col("a"), col("b"), round(col("jac"), 6).as("jaccard"))
        .orderBy(col("a"), col("b"))
        .transform(graft.Checkpoints.materialize(_))
    } finally sh.unpersist(false)
  }

  /** Cross-document repeated-passage detection — the boilerplate filter
    * of C4/Gopher-style cleaning: split each document into consecutive
    * non-overlapping `window`-word passages (tail words shorter than a
    * window are skipped), fingerprint each passage, and report every
    * passage appearing in at least `minDocs` DISTINCT documents with its
    * occurrence count and lowest containing doc. Downstream a cleaner
    * drops or collapses those passages (headers, license blocks,
    * navigation chrome).
    *
    * Scale shape: explode to one row per passage (rows ∝ corpus tokens /
    * window), hash to an int64 BEFORE the shuffle so the aggregate moves
    * 8-byte keys, then one hash aggregation on the fingerprint with
    * map-side partial aggregation; the `minDocs` filter prunes the
    * (overwhelmingly unique) tail before the final sort. Nothing is
    * quadratic and nothing is collected. */
  def repeatedPassages(spark: SparkSession, docs: DataFrame,
      window: Int = 3, minDocs: Int = 2): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toks = TF.tokens(col("text"))
    val passages = docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= window)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          floor(size(col("toks")) / window).cast("int") - 1)).as("i"))
      .select(col("doc_id"),
        array_join(slice(col("toks"), col("i") * window + 1, lit(window)), " ")
          .as("passage"))
    passages
      .select(col("doc_id"), GraftHash.graftHash(spark, col("passage")).as("p_hash"))
      .groupBy(col("p_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("p_hash"))
  }

  /** Exact-substring span dedup — the "remove any ≥k-token substring
    * that repeats across documents" operator of suffix-array dedup
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"), re-expressed as a distributed overlapping-k-gram
    * pipeline: every overlapping `k`-token gram is wide-hashed; grams
    * occurring in ≥ `minDocs` DISTINCT documents are duplicate
    * evidence; per document, overlapping/adjacent duplicate gram
    * starts merge into MAXIMAL spans. Output: one row per maximal
    * span `(doc_id, span_start, span_end, span_tokens, n_grams)` —
    * token indices 0-based inclusive — ordered by (doc_id,
    * span_start). Downstream a cleaner cuts exactly those spans
    * ([[dedupSpansClean]]).
    *
    * Differs from [[repeatedPassages]] (fixed NON-overlapping windows:
    * alignment-sensitive, reports global passages): here grams
    * overlap, so a duplicated region is detected at ANY alignment and
    * reported per document as one maximal span — a duplicated region
    * of m ≥ k tokens yields exactly one span of m tokens, not
    * ⌊m/k⌋ aligned fragments.
    *
    * Two deliberate approximations vs true suffix-array dedup:
    * (1) the default evidence is CROSS-DOCUMENT — `minDocs` counts
    * DISTINCT doc_ids, so a substring repeated only WITHIN one
    * document is not flagged (set `minOcc` > 0 to count TOTAL
    * occurrences instead, which catches within-doc repeats — the
    * boilerplate/chorus shape); (2) ADJACENT duplicate grams merge
    * into one maximal span even when their duplicate evidence points
    * at different source documents, so a merged span need not itself
    * occur verbatim anywhere else — it is a union of overlapping
    * duplicated k-grams, which is what the cleaner wants to cut
    * anyway.
    *
    * Scale shape: posexplode to one row per gram (rows ∝ corpus
    * tokens), wide-hash to one int64 BEFORE the shuffle so the df
    * aggregate moves 8-byte keys with map-side partial aggregation,
    * one left-semi back-join (both sides hash-partitioned on the gram
    * hash), then ONE per-document sort window for the classic
    * gaps-and-islands merge (running state: a single lag value).
    * Nothing is pairwise, nothing is collected; a book-length document
    * is one sort partition — the same bound as every per-document
    * window here. */
  def dedupSpans(spark: SparkSession, docs: DataFrame, k: Int = 5,
      minDocs: Int = 2, minOcc: Int = 0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(minOcc == 0 || minOcc >= 2,
      s"minOcc must be 0 (off) or >= 2, got $minOcc")
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .select(col("doc_id"),
        posexplode(TF.shingles(col("text"), k)).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"),
        GraftHash.widePair(spark, col("s")).as("g"))
    val dup = (if (minOcc > 0)
        grams.groupBy(col("g")).agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= minOcc)
      else
        grams.groupBy(col("g")).agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= minDocs))
      .select(col("g"))
    val marks = grams.join(dup, Seq("g"), "left_semi")
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    marks
      // gap > k starts a new span; the first row's NULL lag falls to
      // otherwise(1) — identical CASE/NULL semantics in the oracle
      .select(col("doc_id"), col("pos"),
        when(col("pos") - lag(col("pos"), 1).over(byPos) <= k, lit(0))
          .otherwise(lit(1)).as("brk"))
      .select(col("doc_id"), col("pos"),
        sum(col("brk")).over(
          byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("span_id"))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + lit(1L)).as("span_tokens"),
        col("n_grams"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** The cleaner over [[dedupSpans]]: per document, the tokens covered
    * by any duplicated span are cut and the survivors rejoined —
    * `(doc_id, clean_text, n_tokens_kept, n_tokens_cut)`. Documents
    * with no duplicated span pass through whole (zero cut). A document
    * that is ENTIRELY duplicated material survives as an empty
    * clean_text row — dropping it is a downstream policy choice, not
    * this operator's.
    *
    * Scale shape: [[dedupSpans]]'s stages, then the span list is
    * collected PER DOCUMENT (`collect_list` over doc_id — bounded by
    * that document's span count, never the corpus) and the cut is one
    * codegen'd filter over the token array; one left join on doc_id
    * attaches spans to the corpus. */
  def dedupSpansClean(spark: SparkSession, docs: DataFrame, k: Int = 5,
      minDocs: Int = 2): DataFrame = {
    val spans = dedupSpans(spark, docs, k, minDocs)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("spans"))
    docs.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"),
        coalesce(col("spans"),
          array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
          .as("spans"))
      .select(col("doc_id"),
        filter(col("toks"), (t, i) =>
          !exists(col("spans"), sp =>
            i.cast("long") >= sp("span_start") &&
              i.cast("long") <= sp("span_end"))).as("kept"),
        size(col("toks")).cast("long").as("n_tokens"))
      .select(col("doc_id"), array_join(col("kept"), " ").as("clean_text"),
        size(col("kept")).cast("long").as("n_tokens_kept"),
        (col("n_tokens") - size(col("kept")).cast("long"))
          .as("n_tokens_cut"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS scheme):
    * hash every word `k`-gram, slide a window of `w` consecutive
    * hashes, select each window's minimum — with the (hash, pos) pair
    * packed into one int64 (`hash·2²⁰ + pos`, positions < 2²⁰) so the
    * min is a total order whose tiebreak is the EARLIEST position, the
    * scheme's deterministic variant. Distinct selections are the
    * document's fingerprint set: `(doc_id, pos, fp_hash)`.
    *
    * The winnowing guarantee: any shared substring of ≥ `w + k − 1`
    * tokens yields at least one shared fingerprint HASH in both
    * documents, and selection density is ~2/(w+1) — robust substring
    * dedup at a tunable fraction of the shingle volume. Documents with
    * fewer than `w` k-grams contribute their single overall minimum
    * (the whole document is one short window).
    *
    * Scale shape: explode to one row per k-gram, ONE bounded sliding
    * window per document partition (`rowsBetween(0, w-1)` — state is w
    * int64s), then distinct. The window is keyed by doc_id, so a
    * skewed giant document is one sort partition — same profile as
    * every per-document window here; nothing is pairwise. */
  def winnow(spark: SparkSession, docs: DataFrame, k: Int = 3,
      w: Int = 4): DataFrame = winnowPacked(spark, docs, k, w, posBits = 20)

  /** [[winnow]] with the position field width exposed so the
    * chunking path is testable without a million-token document.
    *
    * The packing `hash·2^posBits + localPos` is only a total order
    * while the packed position stays `< 2^posBits`, and a book-length
    * document CAN exceed 2^20 k-grams at corpus scale — so the
    * operator is made TOTAL by auto-chunking (r15 raised instead,
    * which made it partial): documents are sliced into overlapping
    * gram chunks of `C = 2^posBits` grams at window-start stride
    * `S = C − w + 1`, every w-gram window lies wholly inside the ONE
    * chunk that owns its start (`start div S`), and the min is packed
    * with the CHUNK-LOCAL position. Local order equals global order
    * within a chunk (a monotone shift), so the selected fingerprints
    * are IDENTICALLY those of the unchunked computation — the
    * winnowing guarantee, the deterministic earliest-position
    * tiebreak, and the oracle's arithmetic are all preserved, and
    * sub-2^posBits documents take the degenerate single-chunk path
    * (chunk 0, local = global — byte-identical plan semantics to
    * r14). Boundary grams are duplicated into the adjacent chunk's
    * tail: (w−1)/S extra rows ≈ 0.0004% at the defaults.
    *
    * Spec: `PipelinesSpec` proves chunked(posBits=4) ==
    * unchunked(posBits=20) on an over-limit doc; the guarantee
    * property test runs unchanged. */
  private[graft] def winnowPacked(spark: SparkSession, docs: DataFrame,
      k: Int, w: Int, posBits: Int): DataFrame = {
    require(k > 0 && w > 0, s"need positive k and w, got k=$k w=$w")
    import org.apache.spark.sql.expressions.Window
    val posLimit = 1L << posBits
    require(posLimit >= w,
      s"posBits=$posBits gives $posLimit-gram chunks, smaller than w=$w")
    val stride = posLimit - w + 1 // window starts owned per chunk
    val span = posLimit           // grams a chunk carries (stride+w-1)
    val sh = docs.select(col("doc_id"),
      posexplode(TF.shingles(col("text"), k)).as(Seq("pos", "s")))
    // `total` is the per-document GRAM count, taken BEFORE the chunk
    // explode: post-explode rows carry boundary duplicates, so a count
    // over them could reach w on a sub-w-gram document whenever
    // posLimit < 2w-2 (chunks short enough that most grams straddle a
    // boundary), silently disabling BOTH the full-window rule and the
    // short-doc fallback — zero fingerprints for a document the
    // guarantee covers (ADVICE r16).
    val all = Window.partitionBy(col("doc_id"))
    val chunked = sh
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        GraftHash.graftHash(spark, col("s")).as("h"),
        count(lit(1)).over(all).as("total"))
      // gram p feeds every chunk whose gram range [j·S, j·S+span−1]
      // covers it — ≤ 2 chunks at the defaults (explode is a no-op
      // single element for documents under `span` grams)
      .select(col("doc_id"), col("pos"), col("h"), col("total"),
        explode(sequence(
          when(col("pos") <= lit(span - 1), lit(0L))
            .otherwise(expr(s"(pos - ${span - 1} + ${stride - 1}) div $stride")),
          expr(s"pos div $stride"))).as("chunk"))
      .select(col("doc_id"), col("pos"), col("chunk"), col("total"),
        (col("h") * lit(posLimit) +
          (col("pos") - col("chunk") * lit(stride))).as("p"))
    val frame = Window.partitionBy(col("doc_id"), col("chunk"))
      .orderBy(col("pos")).rowsBetween(Window.currentRow, w - 1)
    chunked
      .select(col("doc_id"), col("pos"), col("chunk"), col("total"),
        min(col("p")).over(frame).as("sel"),
        count(lit(1)).over(frame).as("wn"))
      // full windows counted once, by their owning chunk — except
      // short documents, whose first (only) partial window stands in
      // for the whole-document minimum
      .filter((col("wn") === w && col("chunk") === expr(s"pos div $stride"))
        || (col("total") < w && col("pos") === 0))
      .select(col("doc_id"),
        (col("chunk") * lit(stride) + col("sel") % lit(posLimit))
          .as("pos"),
        shiftright(col("sel"), posBits).as("fp_hash"))
      .distinct()
      .orderBy(col("doc_id"), col("pos"))
  }
}
