package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** End-to-end checks of the pipeline CLI verbs (`dedup` / `ann` /
  * `split` / `shuffle` / `pack`): each verb runs over a tiny parquet
  * corpus and its parquet output is read back and sanity-checked, so the
  * shell surface — not just the library API — is known to work. */
class MainCliSpec extends SparkSuite {

  private lazy val tmp = Files.createTempDirectory("graft-cli").toString

  private lazy val docsPath = {
    import spark.implicits._
    val p = s"$tmp/docs"
    (Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "unrelated totally different words here"),
      (4L, "alpha beta gamma delta"),
      (5L, "more unrelated text entirely")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(p)
    p
  }

  private lazy val embPath = {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val p = s"$tmp/emb"
    (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(p)
    p
  }

  test("dedup verb: exact method writes survivor rows") {
    val out = s"$tmp/dedup_out"
    Main.run(spark, "dedup", Array(docsPath, out, "exact"))
    val got = spark.read.parquet(out)
    assert(got.count() > 0)
    assert(got.columns.contains("doc_id") || got.columns.contains("keep_id"))
  }

  test("dedup verb: spans + spans_clean methods cut the duplicated 4-gram") {
    val outS = s"$tmp/dedup_spans_out"
    Main.run(spark, "dedup", Array(docsPath, outS, "spans", "4"))
    val spans = spark.read.parquet(outS).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 1/2/4 are the identical 4-token text: one whole-doc span each
    assert(spans.keySet == Set(1L, 2L, 4L), spans.toString)
    assert(spans.values.forall(_ == (0L, 3L)), spans.toString)
    val outC = s"$tmp/dedup_spans_clean_out"
    Main.run(spark, "dedup", Array(docsPath, outC, "spans_clean", "4"))
    val clean = spark.read.parquet(outC).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(clean(1L) == ("", 4L) && clean(3L)._2 == 0L, clean.toString)
  }

  test("ann verb: exact strategy writes well-formed top-k") {
    val out = s"$tmp/ann_out"
    Main.run(spark, "ann", Array(embPath, out, "exact", "3", "2"))
    val got = spark.read.parquet(out).collect()
    assert(got.map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
    assert(got.forall(r => r.getInt(1) >= 1 && r.getInt(1) <= 2))
    // the composed dimension-axis rung is CLI-reachable too
    val outC = s"$tmp/ann_mrlivf_out"
    Main.run(spark, "ann", Array(embPath, outC, "mrlivf", "3", "2"))
    val gotC = spark.read.parquet(outC).collect()
    assert(gotC.map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
    assert(gotC.forall(r => r.getInt(1) >= 1 && r.getInt(1) <= 2))
  }

  test("ivf_index + ann_persisted verbs: persisted probe equals the " +
    "in-memory ivf rung") {
    val idxDir = s"$tmp/ivf_idx"
    val outP = s"$tmp/ann_persisted_out"
    val outM = s"$tmp/ann_ivf_out"
    Main.run(spark, "ivf_index", Array(embPath, idxDir, "4"))
    assert(spark.read.parquet(s"$idxDir/centroids.parquet").count() == 4)
    Main.run(spark, "ann_persisted", Array(idxDir, embPath, outP, "3", "2"))
    Main.run(spark, "ann", Array(embPath, outM, "ivf", "3", "2"))
    def rows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // the ann verb's ivf derives nlist from the corpus; rebuild the
    // in-memory rung at the SAME nlist for the equality check
    val mem = graft.pipelines.Similarity.annTopKIvf(
      spark.read.parquet(embPath), nq = 3, k = 2, nlist = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows(outP) == mem)
  }

  test("ivf_append + ivf_compact verbs: lifecycle equals the original " +
    "index on full re-ingestion, centroids ride along") {
    val idx0 = s"$tmp/ivflc_idx0"
    val idx1 = s"$tmp/ivflc_idx1"
    val compacted = s"$tmp/ivflc_compacted"
    Main.run(spark, "ivf_index", Array(embPath, idx0, "4"))
    // Re-ingest the whole corpus as generation 1 (ivf_index output has
    // no gen column — treated as generation 0; default gen = max + 1).
    Main.run(spark, "ivf_append", Array(idx0, embPath, idx1))
    val v1 = spark.read.parquet(s"$idx1/index.parquet")
    assert(v1.columns.contains("gen"))
    assert(v1.count() == 60) // 30 vectors x 2 generations
    Main.run(spark, "ivf_compact", Array(idx1, compacted))
    def assigns(dir: String) = spark.read.parquet(s"$dir/index.parquet")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid")))
      .toSet
    // same vectors re-ingested against the SAME pinned centroids →
    // compacted assignments == the original build's
    assert(assigns(compacted) == assigns(idx0))
    // centroids were carried through both hops unchanged
    assert(spark.read.parquet(s"$compacted/centroids.parquet").count() == 4)
    // the compacted dir is a complete, probe-ready index
    val outC = s"$tmp/ivflc_probe_out"
    val outO = s"$tmp/ivflc_probe_orig"
    Main.run(spark, "ann_persisted", Array(compacted, embPath, outC, "3", "2"))
    Main.run(spark, "ann_persisted", Array(idx0, embPath, outO, "3", "2"))
    def rows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows(outC) == rows(outO))
  }

  test("ivf_append on an empty index raises CliArgError, not an NPE") {
    val emptyIdx = s"$tmp/ivflc_empty"
    spark.read.parquet(embPath).limit(0)
      .selectExpr("vec_id", "0L as cid", "embedding", "0.0 as nrm",
        "0L as gen")
      .write.mode("overwrite").parquet(s"$emptyIdx/index.parquet")
    spark.read.parquet(embPath).limit(2)
      .selectExpr("vec_id as cid", "embedding as cvec")
      .write.mode("overwrite").parquet(s"$emptyIdx/centroids.parquet")
    val e = intercept[Main.CliArgError] {
      Main.run(spark, "ivf_append", Array(emptyIdx, embPath, s"$tmp/ivflc_x"))
    }
    assert(e.getMessage.contains("empty"))
  }

  test("canonical + token_budget verbs: curation outputs are well-formed") {
    import spark.implicits._
    val p = s"$tmp/cur_docs"
    // docs 1/2/4 share text (one near-dup cluster); sources give doc 2
    // the highest priority (src1 % 5 = 1 vs src0/src10 -> 0), so the
    // cluster's survivor must be 2, not the minimum id
    Seq((1L, "alpha beta gamma delta", "src0"),
      (2L, "alpha beta gamma delta", "src1"),
      (3L, "unrelated totally different words here", "src10"),
      (4L, "alpha beta gamma delta", "src10"),
      (5L, "more unrelated text entirely", "src0"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(p)
    val outC = s"$tmp/canonical_out"
    Main.run(spark, "canonical", Array(p, outC))
    val kept = spark.read.parquet(outC).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(kept.keySet == Set(2L, 3L, 5L), s"survivors: $kept")
    assert(kept(2L) == 2L) // two dups removed from the cluster
    val outT = s"$tmp/token_budget_out"
    Main.run(spark, "token_budget", Array(p, outT, "6"))
    val tb = spark.read.parquet(outT)
    // every kept row respects the budget; ranks start at 1 per source
    assert(tb.filter(col("cum_toks") > 6).count() == 0)
    assert(tb.filter(col("rn") === 1).count() ==
      tb.select(col("source")).distinct().count())
  }

  test("token_budget default (sliced) and token_budget_window agree; " +
    "the old token_budget_sliced alias still routes") {
    import spark.implicits._
    val p = s"$tmp/tbs_docs"
    (1L to 40L)
      .map(i => (i, ("word " * (i % 5 + 1).toInt) + s"doc$i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(p)
    Main.run(spark, "token_budget_window", Array(p, s"$tmp/tbs_w", "12"))
    Main.run(spark, "token_budget", Array(p, s"$tmp/tbs_s", "12", "3"))
    Main.run(spark, "token_budget_sliced", Array(p, s"$tmp/tbs_a", "12", "3"))
    def rows(d: String) = spark.read.parquet(d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_toks"), r.getAs[Long]("cum_toks"),
        r.getAs[Long]("rn"))).toSet
    val w = rows(s"$tmp/tbs_w")
    assert(w.nonEmpty && rows(s"$tmp/tbs_s") == w)
    assert(rows(s"$tmp/tbs_a") == w)
  }

  test("restart verbs: checkpointed two-phase drains over an events " +
    "table write the never-stopped results") {
    import spark.implicits._
    val sfDir = s"$tmp/sf_events"
    val S = 1000000000L
    val T0 = 1600000000L * S
    // 3000 s spacing > the 30 min session gap: every event is its own
    // session; the 1 h watermark delay flushes all but the tail ones.
    // 40 unique (ts, event_id) keys → both phases fill their 4 range
    // slices (twoPhaseDrain asserts one data batch per slice).
    (for { u <- 1L to 4L; k <- 0L to 9L }
      yield (u * 100 + k, u, T0 + (k * 3000L + u) * S, "click", 1.25))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$sfDir/events.parquet")
    Main.run(spark, "restart_totals", Array(sfDir, s"$tmp/rt_out"))
    val tot = spark.read.parquet(s"$tmp/rt_out")
    assert(tot.count() == 40) // the fold emits one row per event
    // each user's final accumulator: 10 × 1.25 → 1250 exact cents,
    // only possible if phase 2 resumed from phase 1's state
    assert(tot.groupBy(col("user_id")).agg(max(col("running_cents")))
      .collect().map(_.getLong(1)).toSet == Set(1250L))
    Main.run(spark, "restart_sessionize", Array(sfDir, s"$tmp/rs_out"))
    val sess = spark.read.parquet(s"$tmp/rs_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("dur_ns")))
    // single-event sessions (dur 0) flushed once the watermark passes
    // their gap deadline; the per-user tail sessions stay open
    assert(sess.nonEmpty && sess.forall(s => s._2 == 1L && s._3 == 0L))
  }

  test("recall_audit_appended verb: four audit rows, recalls and " +
    "imbalance factors well-formed") {
    val out = s"$tmp/recall_aud_out"
    Main.run(spark, "recall_audit_appended",
      Array(embPath, out, "3", "2", "4", "2"))
    val got = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(got.keySet == Set("ivf_appended", "ivf_fresh",
      "cells_appended", "cells_fresh"))
    Seq("ivf_appended", "ivf_fresh").foreach { k =>
      val (hits, total, recall) = got(k)
      assert(total == 6L && hits <= total && recall >= 0.0 && recall <= 1.0)
    }
    Seq("cells_appended", "cells_fresh").foreach { k =>
      val (maxCell, total, imb) = got(k)
      assert(maxCell <= total && imb >= 1.0) // max/mean is always >= 1
    }
  }

  test("ingest_curate verb: streaming dedup classes + canonical pick") {
    import spark.implicits._
    val p = s"$tmp/ingest_docs"
    // 1/2/4 are one normalized-text class (min-id survivor 1); 3 and 5
    // are singleton classes — canonical pick then keeps one doc per
    // near-dup cluster among {1, 3, 5}, which are all distinct texts
    Seq((1L, "alpha beta gamma delta", "src0"),
      (2L, "ALPHA  beta gamma   delta", "src1"),
      (3L, "unrelated totally different words here", "src10"),
      (4L, "alpha beta GAMMA delta", "src10"),
      (5L, "more unrelated text entirely", "src0"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(p)
    val out = s"$tmp/ingest_out"
    Main.run(spark, "ingest_curate", Array(p, out))
    val kept = spark.read.parquet(out).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L), s"survivors: $kept")
  }

  test("canonical_indexed verb: persisted-assignments path matches the " +
    "in-run pick, and a non-index input fails fast") {
    val p = s"$tmp/cur_docs" // fixture written by the canonical test
    val clIdx = s"$tmp/cur_clusters_idx"
    val outI = s"$tmp/canonical_idx_out"
    Main.run(spark, "clusters_index", Array(p, clIdx))
    Main.run(spark, "canonical_indexed", Array(p, clIdx, outI))
    def rows(d: String) = spark.read.parquet(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(rows(outI) == rows(s"$tmp/canonical_out"))
    val e = intercept[Main.CliArgError] {
      Main.run(spark, "canonical_indexed", Array(p, p, s"$tmp/can_x"))
    }
    assert(e.getMessage.contains("clusters_index"))
  }

  test("split verb: partitioned output is a disjoint total cover") {
    val out = s"$tmp/split_out"
    Main.run(spark, "split", Array(docsPath, out))
    val got = spark.read.parquet(out)
    assert(got.select(col("doc_id")).distinct().count() == 5)
    assert(got.count() == 5) // each doc in exactly one split
    // payload rides along — the split output is directly consumable
    assert(got.columns.toSet == Set("doc_id", "text", "split"))
  }

  test("shuffle verb: full payload in deterministic hash order") {
    val out = s"$tmp/shuffle_out"
    Main.run(spark, "shuffle", Array(docsPath, out))
    val got = spark.read.parquet(out)
    assert(got.count() == 5)
    assert(got.columns.toSet == Set("doc_id", "text", "sort_key"))
  }

  test("structural verbs (triangles/link_predict/label_prop/kcore) run " +
    "over reference-layout CSVs") {
    val nodes = s"$tmp/tri_nodes.csv"
    val edges = s"$tmp/tri_edges.csv"
    // triangle a-b-c plus pendant d: 1 triangle, d peels out of the
    // 2-core, {x,d} pairs are the link candidates through a and c
    java.nio.file.Files.write(java.nio.file.Paths.get(nodes),
      ("id:ID,names,size:int,labels:LABEL,rho:double\n" +
        "a,a,1,t,0.5\nb,b,1,t,0.5\nc,c,1,x,0.5\nd,d,1,x,0.5\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(edges),
      ("src:START_ID,dst:END_ID,mrho:double\n" +
        "a,b,1.0\nb,c,1.0\nc,a,1.0\na,d,1.0\n").getBytes)
    Main.run(spark, "triangles", Array(nodes, edges))
    val sink = new java.io.File("outputs/Triangles/counts.txt")
    assert(sink.isDirectory, s"expected sink dir $sink")
    val part = sink.listFiles.filter(_.getName.startsWith("part-")).head
    assert(scala.io.Source.fromFile(part).getLines().size == 4)
    Main.run(spark, "link_predict", Array("5", nodes, edges))
    Main.run(spark, "label_prop", Array("2", nodes, edges))
    Main.run(spark, "kcore", Array("2", nodes, edges))
    intercept[Main.CliArgError] {
      Main.run(spark, "kcore", Array("not_a_number", nodes, edges))
    }
    // the weighted family + the sampled triangle rung, end to end
    Main.run(spark, "triangles_weighted", Array(nodes, edges))
    Main.run(spark, "triangles_approx", Array("0", nodes, edges))
    Main.run(spark, "triangles_approx", Array("1000", nodes, edges))
    Main.run(spark, "kcore_weighted", Array("2.0", nodes, edges))
    Main.run(spark, "label_prop_weighted", Array("2", nodes, edges))
    Main.run(spark, "link_predict_weighted", Array("5", nodes, edges))
    intercept[Main.CliArgError] {
      Main.run(spark, "kcore_weighted", Array("nan?", nodes, edges))
    }
    // components: full projection and the strength-floored variant
    Main.run(spark, "components", Array("0.0", nodes, edges))
    Main.run(spark, "components", Array("1.5", nodes, edges))
    intercept[Main.CliArgError] {
      Main.run(spark, "components", Array("not_a_number", nodes, edges))
    }
    Main.run(spark, "ktruss", Array("3", nodes, edges))
    intercept[Main.CliArgError] {
      Main.run(spark, "ktruss", Array("nope", nodes, edges))
    }
    // persisted-projection lifecycle: build once, every indexed verb
    // consumes it (no rebuild); missing index dir arg fails loudly
    val idx = s"$tmp/struct_idx"
    Main.run(spark, "structural_index", Array(idx, nodes, edges))
    assert(new java.io.File(s"$idx/und").isDirectory)
    assert(new java.io.File(s"$idx/deg").isDirectory)
    assert(new java.io.File(s"$idx/meta.parquet").isDirectory)
    Main.run(spark, "triangles_indexed", Array(idx))
    Main.run(spark, "link_predict_indexed", Array(idx, "5"))
    Main.run(spark, "kcore_indexed", Array(idx, "2"))
    Main.run(spark, "label_prop_indexed", Array(idx, "2", nodes))
    Main.run(spark, "link_predict_weighted_indexed", Array(idx, "5"))
    Main.run(spark, "components_indexed", Array(idx))
    Main.run(spark, "components_indexed", Array(idx, "1.5"))
    Main.run(spark, "ktruss_indexed", Array(idx, "3"))
    intercept[Main.CliArgError] {
      Main.run(spark, "components_indexed", Array.empty[String])
    }
    intercept[Main.CliArgError] {
      Main.run(spark, "ktruss_indexed", Array.empty[String])
    }
    intercept[Main.CliArgError] {
      Main.run(spark, "structural_index", Array.empty[String])
    }
    intercept[Main.CliArgError] {
      Main.run(spark, "triangles_indexed", Array.empty[String])
    }
    intercept[Main.CliArgError] {
      Main.run(spark, "link_predict_weighted_indexed", Array.empty[String])
    }
  }

  test("pagerank verb runs the kernel over reference-layout CSVs") {
    val nodes = s"$tmp/nodes.csv"
    val edges = s"$tmp/edges.csv"
    java.nio.file.Files.write(java.nio.file.Paths.get(nodes),
      ("id:ID,names,size:int,labels:LABEL,rho:double\n" +
        "a,a,1,t,0.5\nb,b,1,t,0.5\nc,c,1,x,0.5\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(edges),
      ("src:START_ID,dst:END_ID,mrho:double\n" +
        "a,c,1.0\nb,c,1.0\nc,a,1.0\n").getBytes)
    Main.run(spark, "pagerank", Array("4", "0.85", nodes, edges))
    // the text sink is a coalesce(1) directory — read its single part
    val written = new java.io.File("outputs/PageRank/scores.txt")
    assert(written.isDirectory, s"expected sink dir $written")
    val part = written.listFiles.filter(_.getName.startsWith("part-")).head
    val lines = scala.io.Source.fromFile(part).getLines().toSeq
    assert(lines.size == 3) // one score line per node
    intercept[Main.CliArgError] {
      Main.run(spark, "pagerank", Array("4", "not_a_number", nodes, edges))
    }
  }

  test("converged kernel verbs run end-to-end with --tol/--max-iter") {
    val nodes = s"$tmp/cnodes.csv"
    val edges = s"$tmp/cedges.csv"
    java.nio.file.Files.write(java.nio.file.Paths.get(nodes),
      ("id:ID,names,size:int,labels:LABEL,rho:double\n" +
        "a,a,1,t,0.5\nb,b,1,t,0.5\nc,c,1,x,0.5\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(edges),
      ("src:START_ID,dst:END_ID,mrho:double\n" +
        "a,c,1.0\nb,c,1.0\nc,a,1.0\n").getBytes)
    def sinkLines(path: String): Int = {
      val d = new java.io.File(path)
      assert(d.isDirectory, s"expected sink dir $d")
      val part = d.listFiles.filter(_.getName.startsWith("part-")).head
      scala.io.Source.fromFile(part).getLines().size
    }
    // all 3 nodes have out-edges → 3 hub rows; only a and c have
    // in-edges, so the authority file carries 2 (reference dropout)
    Main.run(spark, "hits_converged", Array("1e-6", "30", nodes, edges))
    assert(sinkLines("outputs/converged_HITS/hub_scores.txt") == 3)
    assert(sinkLines("outputs/converged_HITS/authority_scores.txt") == 2)
    // SALSA scores only nodes surviving the bipartite-graph dropout
    // (notes B/C), so the count is >= 2 rather than all 3
    Main.run(spark, "salsa_converged", Array("1e-6", "30", nodes, edges))
    assert(sinkLines("outputs/SALSA/converged_SALSA/hub_scores.txt") >= 2)
    Main.run(spark, "pagerank_converged",
      Array("0.85", "1e-6", "40", nodes, edges))
    assert(sinkLines("outputs/PageRank_converged/scores.txt") == 3)
    // malformed tol fails fast like every other numeric arg
    intercept[Main.CliArgError] {
      Main.run(spark, "hits_converged", Array("tight", "30", nodes, edges))
    }
  }

  test("kmv verb accepts a numeric group column") {
    import spark.implicits._
    val p = s"$tmp/kmv_numgrp"
    (1L to 20L).map(i => (i % 3, s"v$i"))
      .toDF("source", "text").write.mode("overwrite").parquet(p)
    val out = s"$tmp/kmv_numgrp_out"
    Main.run(spark, "kmv", Array(p, out, "source", "text"))
    val d = spark.read.parquet(s"$out/distinct").collect()
    assert(d.map(_.getString(0)).toSet == Set("0", "1", "2"))
  }

  test("search verb: bm25 ranking; hybrid mode fuses with an embeddings table") {
    val out = s"$tmp/search_out"
    Main.run(spark, "search", Array(docsPath, out, "alpha,unrelated", "3"))
    val got = spark.read.parquet(out)
    assert(got.count() == 3 && got.columns.toSeq == Seq("rank", "doc_id", "bm25"))
    // hybrid: docs 1-5 vs embeddings 0-29 (ids just need to overlap)
    val out2 = s"$tmp/search_hybrid_out"
    Main.run(spark, "search",
      Array(docsPath, out2, "alpha", "4", embPath, "2"))
    val h = spark.read.parquet(out2)
    assert(h.count() == 4)
    assert(h.columns.toSeq ==
      Seq("rank", "doc_id", "rrf", "bm25_rank", "cos_rank"))
    // missing term list fails fast
    intercept[Main.CliArgError] {
      Main.run(spark, "search", Array(docsPath, s"$tmp/x"))
    }
  }

  test("heavy verb: exact heavy hitters of a column") {
    import spark.implicits._
    val p = s"$tmp/heavy_docs"
    (Seq.fill(30)("hot") ++ Seq.fill(12)("warm") ++
      (1 to 40).map(i => s"tail$i"))
      .toDF("text").write.mode("overwrite").parquet(p)
    val out = s"$tmp/heavy_out"
    // n = 82, k = 4 -> threshold 82/5 = 16.4: hot only
    Main.run(spark, "heavy", Array(p, out, "text", "4"))
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq("hot" -> 30L))
  }

  test("bpe_train verb: learned merge list in rank order") {
    val out = s"$tmp/bpe_out"
    Main.run(spark, "bpe_train", Array(docsPath, out, "3"))
    val got = spark.read.parquet(out).orderBy("rnk").collect()
    assert(got.length == 3)
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(got.forall(_.getLong(3) >= 1L)) // pair counts positive
  }

  test("clusters verb: cell populations cover the corpus") {
    val out = s"$tmp/clusters_out"
    Main.run(spark, "clusters", Array(embPath, out, "4"))
    val got = spark.read.parquet(out).collect()
    assert(got.map(_.getLong(1)).sum == 30L) // every vector assigned once
    assert(got.forall(_.getDouble(3) > 0.0)) // mean norms positive
  }

  test("inc_dedup verb: delta duplicates matched against the corpus") {
    val out = s"$tmp/incdedup_out"
    Main.run(spark, "inc_dedup", Array(docsPath, docsPath, out))
    // every doc probes an index containing itself: self-pairs are
    // guarded out, but exact copies (docs 1/2/4 share text) remain
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)) && got.contains((2L, 1L)))
    assert(got.forall { case (n, e) => n != e })
  }

  test("band_append + band_compact verbs: lifecycle equals rebuild, " +
    "compacted index drives inc_dedup") {
    val idx0 = s"$tmp/band_idx0"
    val idx1 = s"$tmp/band_idx1"
    val compacted = s"$tmp/band_compacted"
    Main.run(spark, "band_index", Array(docsPath, idx0))
    // Re-ingest the whole corpus as generation 1 (band_index output has
    // no gen column — treated as generation 0; default gen = max + 1).
    Main.run(spark, "band_append", Array(idx0, docsPath, idx1))
    assert(spark.read.parquet(idx1).columns.contains("gen"))
    Main.run(spark, "band_compact", Array(idx1, compacted))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // same docs re-ingested → compacted index == plain index
    assert(rows(spark.read.parquet(compacted)) ==
      rows(spark.read.parquet(idx0)))
    // a versioned index feeds inc_dedup directly (compacted in-verb)
    val out = s"$tmp/incdedup_versioned_out"
    Main.run(spark, "inc_dedup", Array(idx1, docsPath, out))
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)) && got.forall { case (n, e) => n != e })
  }

  test("inc_clusters verb: incremental clusters over corpus + delta") {
    val out = s"$tmp/inc_clusters_out"
    // corpus = delta = docsPath: every doc probes an index containing
    // its own text — docs 1/2/4 share text, so they cluster under 1
    Main.run(spark, "inc_clusters", Array(docsPath, docsPath, out))
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(4L) == 1L)
  }

  test("clusters_index + 4-arg inc_clusters: the O(delta) path reads " +
    "both persisted halves and matches the in-run form") {
    val bandIdx = s"$tmp/oc_band_idx"
    val clIdx = s"$tmp/oc_clusters_idx"
    val out4 = s"$tmp/oc_inc4_out"
    val out3 = s"$tmp/oc_inc3_out"
    Main.run(spark, "band_index", Array(docsPath, bandIdx))
    Main.run(spark, "clusters_index", Array(docsPath, clIdx))
    assert(spark.read.parquet(clIdx).columns.toSeq ==
      Seq("doc_id", "cluster_id", "n_members"))
    Main.run(spark, "inc_clusters", Array(bandIdx, clIdx, docsPath, out4))
    Main.run(spark, "inc_clusters", Array(docsPath, docsPath, out3))
    def rows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(out4) == rows(out3))
    // a versioned (band_append) index is accepted and compacted in-verb
    val idxV = s"$tmp/oc_band_idx_v"
    Main.run(spark, "band_append", Array(bandIdx, docsPath, idxV))
    val outV = s"$tmp/oc_incv_out"
    Main.run(spark, "inc_clusters", Array(idxV, clIdx, docsPath, outV))
    assert(rows(outV) == rows(out3))
    // mis-shaped inputs fail fast, not deep in the plan
    intercept[Main.CliArgError] {
      Main.run(spark, "inc_clusters", Array(clIdx, clIdx, docsPath, out4))
    }
    intercept[Main.CliArgError] {
      Main.run(spark, "inc_clusters", Array(bandIdx, bandIdx, docsPath, out4))
    }
  }

  test("band_append on an empty index raises CliArgError, not an NPE") {
    val empty = s"$tmp/oc_empty_idx"
    spark.read.parquet(docsPath).limit(0)
      .selectExpr("doc_id", "0 as band", "0L as sig", "0L as gen")
      .write.mode("overwrite").parquet(empty)
    val e = intercept[Main.CliArgError] {
      Main.run(spark, "band_append", Array(empty, docsPath, s"$tmp/oc_x"))
    }
    assert(e.getMessage.contains("empty"))
  }

  test("vocab verb: ranked term statistics with floor and cap") {
    import spark.implicits._
    val p = s"$tmp/vocab_docs"
    Seq((1L, "b b a"), (2L, "b a c"), (3L, "a"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(p)
    val out = s"$tmp/vocab_out"
    Main.run(spark, "vocab", Array(p, out, "2", "10"))
    val got = spark.read.parquet(out).orderBy(col("rnk")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, "a", 3L, 3L), (2L, "b", 3L, 2L)))
  }

  test("quality_cut verb: corpus-wide and per-source modes") {
    import spark.implicits._
    val p = s"$tmp/qcut_docs"
    ((1L to 8L).map(i => (i, "the of and a clean readable sentence here", "web")) ++
      (10L to 17L).map(i => (i, "zzz ### !!!! @@@@", "spam")))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(p)
    val out = s"$tmp/qcut_out"
    Main.run(spark, "quality_cut", Array(p, out, "0.5"))
    val corpus = spark.read.parquet(out)
    assert(corpus.columns.toSeq == Seq("doc_id", "quality", "cutoff"))
    // corpus-wide: the clean half dominates the 0.5 cutoff
    assert(corpus.collect().map(_.getLong(0)).forall(_ <= 8L))
    val out2 = s"$tmp/qcut_src_out"
    Main.run(spark, "quality_cut", Array(p, out2, "0.5", "true"))
    val bySrc = spark.read.parquet(out2)
    assert(bySrc.columns.toSeq == Seq("doc_id", "source", "quality", "cutoff"))
    // stratified: each source keeps its own best half — spam survives
    val srcs = bySrc.collect().map(_.getString(1)).toSet
    assert(srcs == Set("web", "spam"))
  }

  test("curate verb: end-to-end chain writes the temperature draw") {
    import spark.implicits._
    val p = s"$tmp/curate_docs"
    ((1L to 12L).map(i => (i, s"the of and unique$i words here", "web")) ++
      (100L to 102L).map(i => (i, s"the of and other$i text", "books")))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(p)
    val out = s"$tmp/curate_out"
    Main.run(spark, "curate", Array(p, out, "0.0", "en", "6", "0.5"))
    val got = spark.read.parquet(out)
    assert(got.columns.toSeq == Seq("source", "doc_id", "rn", "quota"))
    assert(got.count() > 0 && got.count() <= 7) // total=6 ± rounding
  }

  test("cms verb: point estimates for a probe csv; missing probes fail fast") {
    val out = s"$tmp/cms_out"
    Main.run(spark, "cms", Array(docsPath, out, "text", "x,y"))
    val got = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // whole-text values: no doc text equals "x" or "y"
    assert(got == Map("x" -> (0L, 0L), "y" -> (0L, 0L)))
    intercept[Main.CliArgError] {
      Main.run(spark, "cms", Array(docsPath, s"$tmp/x", "text"))
    }
  }

  test("malformed args fail fast as CliArgError, not raw stack traces") {
    // malformed numerics in pack / ann / split
    intercept[Main.CliArgError] {
      Main.run(spark, "pack", Array(docsPath, s"$tmp/x", "huge", "2"))
    }
    intercept[Main.CliArgError] {
      Main.run(spark, "ann", Array(embPath, s"$tmp/x", "exact", "three"))
    }
    intercept[Main.CliArgError] {
      Main.run(spark, "split", Array(docsPath, s"$tmp/x", "doc_id", "9k"))
    }
    // per-mille weights that are not a partition of 1000
    intercept[Main.CliArgError] {
      Main.run(spark, "split",
        Array(docsPath, s"$tmp/x", "doc_id", "900", "50", "40"))
    }
    // a by_source flag that is not a boolean
    intercept[Main.CliArgError] {
      Main.run(spark, "quality_cut", Array(docsPath, s"$tmp/x", "0.5", "yes"))
    }
    // missing in/out, unknown method, unknown verb, missing topic
    intercept[Main.CliArgError] { Main.run(spark, "dedup", Array(docsPath)) }
    intercept[Main.CliArgError] {
      Main.run(spark, "dedup", Array(docsPath, s"$tmp/x", "fuzzy"))
    }
    intercept[Main.CliArgError] { Main.run(spark, "no_such_verb", Array()) }
    intercept[Main.CliArgError] {
      Main.run(spark, "topic_specific_hits", Array())
    }
  }

  test("usage names every declared verb exactly once") {
    val names = Main.verbs.flatMap(_.names)
    assert(names.size == 72)
    val usage = Main.usageText
    names.foreach { n =>
      val hits = s"(?<!\\w)${java.util.regex.Pattern.quote(n)}(?!\\w)".r
        .findAllIn(usage).size
      assert(hits == 1, s"$n appears $hits times in the usage text")
    }
    intercept[Main.CliArgError] { Main.run(spark, "no_such_verb", Array()) }
  }

  test("pack verb: custom id/text column names (documented args 4/5)") {
    import spark.implicits._
    val p = s"$tmp/docs_renamed"
    Seq((1L, "alpha beta"), (2L, "gamma delta epsilon"))
      .toDF("id", "body").write.mode("overwrite").parquet(p)
    val out = s"$tmp/pack_renamed_out"
    Main.run(spark, "pack", Array(p, out, "16", "2", "id", "body"))
    val assign = spark.read.parquet(s"$out/assignments")
    assert(assign.select(col("id")).distinct().count() == 2)
  }

  test("kmv verb: distinct estimates per group; pairs writes the overlap") {
    import spark.implicits._
    val p = s"$tmp/kmv_docs"
    ((1L to 50L).map(i => ("g1", s"v$i")) ++
      (1L to 30L).map(i => ("g2", s"v$i")))
      .toDF("source", "text").write.mode("overwrite").parquet(p)
    val out = s"$tmp/kmv_out"
    Main.run(spark, "kmv", Array(p, out, "source", "text", "pairs"))
    val d = spark.read.parquet(s"$out/distinct").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(d == Map("g1" -> 50.0, "g2" -> 30.0)) // < K → exact
    val o = spark.read.parquet(s"$out/overlap").collect()
    assert(o.length == 1 && o.head.getDouble(2) == 0.6) // 30/50 exact
  }

  test("pack verb: assignments cover every doc; manifest totals match") {
    val out = s"$tmp/pack_out"
    Main.run(spark, "pack", Array(docsPath, out, "16", "2"))
    val assign = spark.read.parquet(s"$out/assignments")
    assert(assign.select(col("doc_id")).distinct().count() == 5)
    val manifest = spark.read.parquet(s"$out/manifest")
    val total = manifest.agg(sum(col("tokens"))).collect()(0).getLong(0)
    val direct = assign.agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(total == direct)
  }
}
