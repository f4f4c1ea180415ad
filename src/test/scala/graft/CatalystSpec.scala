package graft

import graft.functions.{GraftHash, MinHashAgg}
import graft.operators.{Hits, Salsa}
import graft.plans.DisjunctiveSemiJoinRewrite
import org.apache.spark.sql.functions._

/** Custom Catalyst surface: the disjunctive-semi-join optimizer rule and
  * the typed MinHash aggregator. */
class CatalystSpec extends SparkSuite {

  test("DisjunctiveSemiJoinRewrite removes the nested-loop join and " +
      "preserves the semi-join result set") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"))
      .toDF("src", "dst")
    val topic = Seq("a", "c").toDF("id")

    def literal() = edges.join(topic,
      edges("src") === topic("id") || edges("dst") === topic("id"), "left_semi")

    // The rule is installed session-wide via GraftExtensions (see
    // SparkSuite); carve out the "before" state by excluding it.
    val excl = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excl, DisjunctiveSemiJoinRewrite.ruleName)
    try {
      val before = literal().queryExecution.executedPlan.toString
      assert(before.contains("BroadcastNestedLoopJoin")) // the problem
    } finally spark.conf.unset(excl)

    val after = literal()
    val plan = after.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // Same rows, same multiplicity (the duplicate a->b edge survives twice)
    val got = after.collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq.sorted
    assert(got == Seq(("a", "b"), ("a", "b"), ("b", "c"), ("c", "d")))
  }

  test("fused graft_wide_hash equals the two-fold composition, and " +
      "div/mod recovers the pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val inputs = Seq("", "a", "hello world", "ünïcödé 𝄞", "x" * 500)
    val df = inputs.toDF("s")
    val got = df.select(
      GraftHash.widePair(spark, col("s")).as("w"),
      GraftHash.graftHash(spark, col("s")).as("h1"),
      call_function("graft_hash2", col("s")).as("h2"),
      expr(s"graft_wide_hash(s) div ${GraftHash.Mod2}L").as("d"),
      (call_function("graft_wide_hash", col("s")) % GraftHash.Mod2).as("m"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(1) * GraftHash.Mod2 + r.getLong(2))
      assert(r.getLong(3) == r.getLong(1) && r.getLong(4) == r.getLong(2))
    }
  }

  test("MinHashAgg matches the 16-min-column formulation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "completely different words here now ok"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val got = graft.pipelines.Dedup.minhashSignature(spark, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical docs -> identical signatures; different docs differ
    assert(got(1L) == got(3L) && got(1L) != got(2L))
    // cross-check slot computation against a direct Scala fold over the
    // wide (h1, h2) shingle pair
    val hashes = Seq("one two three", "two three four", "three four five",
      "four five six").map { s =>
      val cps = s.codePoints().toArray
      (cps.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L),
        cps.foldLeft(0L)((a, c) => (a * 131 + c) % 1000000009L))
    }
    val mins = MinHashParams.params.map { case (a, b) =>
      hashes.map { case (h1, h2) => (a * h1 + b * h2) % MinHashParams.P }.min
    }
    val sig = mins.foldLeft(0L)((s, m) => (s * 31 + m) % MinHashParams.P)
    assert(got(1L) == sig)
  }

  test("saltedEquiJoin returns exactly the unsalted join result on a " +
      "skewed key distribution") {
    import spark.implicits._
    import graft.operators.Skew
    // 1000 rows all hitting 2 hot keys + a miss key
    val big = (1 to 1000).map(i => (if (i % 2 == 0) "hot1" else "hot2", i))
      .toDF("k", "v")
    val small = Seq(("hot1", "A"), ("hot2", "B"), ("cold", "C"))
      .toDF("k2", "tag")
    val plain = big.join(small, col("k") === col("k2")).select("v", "tag")
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    val salted = Skew.saltedEquiJoin(big, small, col("k"), col("k2"), 8)
      .select("v", "tag")
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(salted == plain && salted.length == 1000)
  }

  test("contentSalt routes each row identically across repartitionings " +
      "(retry/AQE-stable) and actually spreads a hot key") {
    import spark.implicits._
    import graft.operators.Skew
    val big = (1 to 1000).map(i => ("hot", i)).toDF("k", "v")
    def routing(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int)] =
      df.select(col("v"), Skew.contentSalt(df, 8).as("s"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    val a = routing(big)
    // A different physical layout (what a task retry or AQE re-plan
    // produces) must not change any row's salt assignment.
    val b = routing(big.repartition(7, col("v")))
    assert(a == b)
    // and the single hot key spreads over (nearly) all replicas
    assert(a.map(_._2).distinct.size >= 7)
  }

  test("bucketed edge tables join score vectors without an edge-side " +
      "exchange (bucket hash == shuffle hash partitioning)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-wh")
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 2.0))
      .toDF("src", "dst", "weight")
    spark.sql("DROP TABLE IF EXISTS graft_bucketed_edges")
    edges.write.format("parquet")
      .bucketBy(4, "dst").sortBy("dst")
      .option("path", wh.resolve("be").toString)
      .mode("overwrite").saveAsTable("graft_bucketed_edges")
    val be = spark.table("graft_bucketed_edges")
    val scores = Seq(("a", 0.5), ("b", 0.25), ("c", 0.25)).toDF("id", "score")
    // disable broadcast so the planner must consider the bucket layout
    // (with broadcast the bucketing is irrelevant and gets disabled)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = be.join(scores, be("dst") === col("id"))
      val plan = joined.queryExecution.executedPlan.toString
      // the bucketed (big) side must not re-shuffle; only the score side
      // exchanges into the bucket partitioning
      val exchanges = plan.split("\n").count(_.contains("Exchange"))
      assert(exchanges <= 1, s"expected <=1 exchange, plan:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed scan not used:\n$plan")
      assert(joined.count() == 3)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_edges")
    }
  }

  test("structural index: the indexed k-core round-0 semi-join chain " +
      "plans with at most one exchange (bucketed und/deg scans)") {
    import spark.implicits._
    import graft.operators.StructuralIndex
    val g = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
      ("c", "d", 1.0), ("d", "e", 1.0)).toDF("src", "dst", "weight")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-structidx-plan").toString
    StructuralIndex.write(g, dir) // bucket count = shuffle partitions
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // round 0 of KCore.runPreDegreed, exactly as the gate plans it:
      // stored degrees as the keep set (no degree aggregate at all),
      // und bucketed by a / deg by id with the same bucket count — the
      // a-side semi-join is co-partitioned on BOTH sides, so the only
      // exchange left is the edge list's b-side redistribution
      val und = StructuralIndex.undirected(spark, dir)
      val keep = StructuralIndex.degrees(spark, dir)
        .where(col("deg") >= 2).select(col("id"))
      val round0 = und
        .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
      val plan = round0.queryExecution.executedPlan.toString
      val exchanges = plan.split("\n").count(_.contains("Exchange"))
      assert(exchanges <= 1, s"expected <=1 exchange, plan:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed scans unused:\n$plan")
      // and the peel itself returns the right core
      val core = graft.operators.KCore.runPreDegreed(und,
          StructuralIndex.degrees(spark, dir), 2)
        .collect().map(_.getString(0)).toSet
      assert(core == Set("a", "b", "c"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("runBucketed matches Hits.run and the kernel join shape plans " +
      "zero edge-side exchange over the bucketed layout") {
    val g = graph(Seq(("a", "c", 1.0), ("a", "d", 1.0), ("b", "c", 1.0),
      ("c", "d", 1.0)))
    Seq("_edges_by_dst", "_edges_by_src", "_nodes").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_spec_bucketed$sfx"))
    GraphIO.writeBucketedGraph(g, "graft_spec_bucketed", 4)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevSmj = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    try {
      // identical scores to the repartition-based kernel
      val base = Hits.run(g, numIter = 4)
      val bucketed = Hits.runBucketed(spark, "graft_spec_bucketed", 4)
      assertApprox(scoresMap(bucketed.hubs), scoresMap(base.hubs), 1e-12)
      assertApprox(scoresMap(bucketed.auths), scoresMap(base.auths), 1e-12)
      // plan shape: one hub update built exactly as the kernel loop
      // builds it (bucketed eDst joined against an agg output on dst,
      // re-aggregated on src) must shuffle ONLY the src-side agg —
      // the bucketed scan IS the dst-side clustering.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
      val eDst = spark.table("graft_spec_bucketed_edges_by_dst")
        .select(col("src"), col("dst"), col("weight").cast("double").as("w"))
      val auths = eDst.groupBy(col("dst").as("id"))
        .agg(sum(col("w")).as("score"))
      val hubs = eDst.join(auths, eDst("dst") === auths("id"))
        .groupBy(eDst("src").as("id")).agg(sum(col("score")).as("score"))
      val plan = hubs.queryExecution.executedPlan.toString
      val exchanges = plan.split("\n").count(_.contains("Exchange"))
      assert(exchanges <= 1, s"expected <=1 exchange (src agg only):\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed scan unused:\n$plan")
      assert(hubs.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.join.preferSortMergeJoin", prevSmj)
      Seq("_edges_by_dst", "_edges_by_src", "_nodes").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS graft_spec_bucketed$sfx"))
    }
  }

  test("Salsa.runBucketed matches Salsa.run over the bucketed layout") {
    val g = graph(Seq(("a", "c", 1.0), ("a", "d", 1.0), ("b", "c", 1.0),
      ("c", "d", 1.0)))
    Seq("_edges_by_dst", "_edges_by_src", "_nodes").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_spec_sbucketed$sfx"))
    GraphIO.writeBucketedGraph(g, "graft_spec_sbucketed", 4)
    try {
      val base = Salsa.run(g, numIter = 4)
      val bucketed = Salsa.runBucketed(spark, "graft_spec_sbucketed", 4)
      assertApprox(scoresMap(bucketed.hubs), scoresMap(base.hubs), 1e-12)
      assertApprox(scoresMap(bucketed.auths), scoresMap(base.auths), 1e-12)
    } finally Seq("_edges_by_dst", "_edges_by_src", "_nodes").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_spec_sbucketed$sfx"))
  }

  test("runBucketed pins the loop width to the layout's bucket count " +
      "when it differs from spark.sql.shuffle.partitions") {
    val g = graph(Seq(("a", "b", 1.0), ("b", "c", 1.0)))
    Seq("_edges_by_dst", "_edges_by_src", "_nodes").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_spec_mismatch$sfx"))
    // layout written under 2 buckets; the session runs 4 shuffle
    // partitions — the kernel must ADAPT to the layout (loop width = 2,
    // the loop session's shuffle.partitions) rather than fail fast or
    // silently reintroduce the per-iteration edge shuffles: scores
    // stay identical to the repartition-based kernel, and the session
    // conf is untouched afterwards.
    GraphIO.writeBucketedGraph(g, "graft_spec_mismatch", 2)
    try {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      val base = Hits.run(g, numIter = 2)
      val bucketed = Hits.runBucketed(spark, "graft_spec_mismatch", 2)
      assertApprox(scoresMap(bucketed.hubs), scoresMap(base.hubs), 1e-12)
      assertApprox(scoresMap(bucketed.auths), scoresMap(base.auths), 1e-12)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == prev,
        "runBucketed leaked its pinned loop width into the session")
    } finally Seq("_edges_by_dst", "_edges_by_src", "_nodes").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS graft_spec_mismatch$sfx"))
  }

  test("splitByHash plans as a shuffle-free projection; packDocs plans " +
      "exactly one exchange (the bucket-keyed window shuffle)") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"tok$i tok tok")).toDF("doc_id", "text")
    val split = graft.pipelines.Sampling.splitByHash(spark, docs, "doc_id",
      Seq("train" -> 900, "val" -> 100))
    val splitPlan = split.queryExecution.executedPlan.toString
    assert(!splitPlan.contains("Exchange"),
      s"splitByHash must not shuffle:\n$splitPlan")
    val packed = graft.pipelines.Packing.packDocs(spark, docs, "doc_id",
      "text", capacity = 10L, buckets = 4)
    val packPlan = packed.queryExecution.executedPlan.toString
    val exchanges = packPlan.split("\n").count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly 1 exchange:\n$packPlan")
    // corpus shuffle: a range exchange + local sort, never a global
    // window (a single-task stage at 100 TB)
    val shuf = graft.pipelines.Sampling.shuffleByHash(spark, docs, "doc_id")
    val shufPlan = shuf.queryExecution.executedPlan.toString
    assert(shufPlan.contains("rangepartitioning"),
      s"global sort must range-partition:\n$shufPlan")
    assert(!shufPlan.contains("Window"), s"no window expected:\n$shufPlan")
  }

  test("TokenContainsPushdown derives a scan-pushable contains prefilter") {
    import graft.plans.TokenContainsPushdown
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tokpush").toString
    Seq((1L, "spark joins data"), (2L, "no match here"),
      (3L, " spark at the edge "), (4L, "sparkle is a substring"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def q() = GraphIO.documents(spark, dir)
      .filter(array_contains(
        graft.functions.TextFunctions.tokens(col("text")), "spark"))
      .select(col("doc_id"))
    // Rule installed session-wide via GraftExtensions; exclude it to
    // show the predicate is scan-opaque without the rewrite.
    val excl = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excl, TokenContainsPushdown.ruleName)
    try {
      val before = q().queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(!before.contains("StringContains")) // opaque without the rule
    } finally spark.conf.unset(excl)
    val after = q()
    val plan = after.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // derived contains reaches the parquet scan as a pushed filter
    assert(plan.contains("StringContains(text,spark)"),
      s"derived predicate did not reach the scan:\n$plan")
    // semantics unchanged: token match yes (1, 3), substring-only no (4)
    assert(after.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("TokenContainsPushdown is a strict structural peel, not a search") {
    // Element-transforming / element-combining wrappers break the
    // tokens-are-substrings invariant: membership in
    // transform(split(text), upper) or concat(split(a), split(b)) does
    // NOT imply contains(text, term). A collectFirst-style search
    // through the array expression would conjoin an unsound prefilter
    // and silently drop matching rows. Subset-preserving wrappers
    // (filter / array_distinct) and the tokens() null-guard must still
    // derive.
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tokpush2").toString
    // Row 1: title token "spark" upper-cases to SPARK, and "spark"
    // appears in body but not title — both traps for an unsound peel.
    Seq((1L, "deep dive", "spark joins data"), (2L, "spark", "no match"))
      .toDF("doc_id", "title", "body")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def docs() = spark.read.parquet(s"$dir/documents.parquet")
    // transform: term matches an ELEMENT-TRANSFORMED token only
    val xform = docs()
      .filter(array_contains(
        transform(split(col("body"), "\\s+"), x => upper(x)), "SPARK"))
    assert(xform.collect().map(_.getLong(0)).toSeq == Seq(1L),
      "transform-wrapped membership must keep its row")
    assert(!xform.queryExecution.optimizedPlan.toString
      .contains("Contains"), "must not derive through transform")
    // concat: token comes from the OTHER column
    val comb = docs()
      .filter(array_contains(
        concat(split(col("title"), "\\s+"), split(col("body"), "\\s+")),
        "spark"))
    assert(comb.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "concat-wrapped membership must keep rows from either column")
    assert(!comb.queryExecution.optimizedPlan.toString
      .contains("Contains"), "must not derive through concat")
    // subset-preserving wrappers still derive (and stay correct)
    val sub = docs()
      .filter(array_contains(
        array_distinct(filter(
          graft.functions.TextFunctions.tokens(col("body")),
          x => length(x) > lit(2))), "spark"))
    assert(sub.queryExecution.optimizedPlan.toString.contains("Contains"),
      "filter/array_distinct over tokens() must still derive")
    assert(sub.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("documents scans push filters and prune columns at the source") {
    // The corpus read path must not break parquet pushdown: a literal
    // filter and a narrow projection have to reach the scan node, or
    // every 100 TB query pays a full-corpus decode it didn't ask for.
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pushdown").toString
    Seq((1L, "alpha", "en", "src0", 5L), (2L, "beta", "es", "src1", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q = GraphIO.documents(spark, dir)
      .filter(col("source") === "src0")
      .select(col("doc_id"), col("source"))
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PushedFilters") &&
      formatted.contains("EqualTo(source,src0)"),
      s"filter did not reach the parquet scan:\n$formatted")
    val readSchema = formatted.linesIterator
      .find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("source") &&
      !readSchema.contains("text"),
      s"projection not pruned at the scan: $readSchema")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("repetitionSignals computes in a single scan — the only exchange " +
      "is the presentation sort's range partitioning") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"tok$i tok tok")).toDF("doc_id", "text")
    val plan = graft.pipelines.TextMetrics.repetitionSignals(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"no aggregation/join shuffle expected:\n$plan")
    assert(!plan.contains("Window"), s"no window expected:\n$plan")
    assert(plan.split("\n").count(_.contains("Exchange")) == 1,
      s"only the output-sort exchange expected:\n$plan")
  }

  test("bandIndexCompact shuffles on doc_id only — no composite-key " +
      "exchange, no nested-loop join") {
    import spark.implicits._
    // every doc carries a stale gen-0 signature set and (for even ids)
    // a superseding gen-1 set with different sigs
    val idx = (1L to 50L).flatMap { d =>
      val stale = (0 until 4).map(b => (d, b, d * 31 + b, 0L))
      val fresh = (0 until 4).map(b => (d, b, d * 131 + b, 1L))
      if (d % 2 == 0) stale ++ fresh else stale
    }.toDF("doc_id", "band", "sig", "gen")
    val compacted = graft.pipelines.Dedup.bandIndexCompact(idx)
    val plan = compacted.queryExecution.executedPlan.toString
    // every hash exchange keys on doc_id alone; the (doc_id, gen)
    // composite would re-shuffle both sides on a partitioning nothing
    // shares
    plan.linesIterator.filter(_.contains("hashpartitioning")).foreach { l =>
      assert(l.contains("doc_id") && !l.contains("gen"),
        s"exchange not keyed on doc_id alone:\n$plan")
    }
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), s"nested loop in compact:\n$plan")
    // semantics: latest generation per doc survives, gen column dropped
    val got = compacted.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = (1L to 50L).flatMap { d =>
      val m = if (d % 2 == 0) 131L else 31L
      (0 until 4).map(b => (d, b, d * m + b))
    }.toSet
    assert(got == want)
  }

  test("ivfIndexCompact shuffles on vec_id only — the bandIndexCompact " +
      "plan discipline on the embedding index") {
    import spark.implicits._
    // every vector has a stale gen-0 assignment; even ids also carry a
    // superseding gen-1 row in a DIFFERENT cell (re-embedding moved it)
    val idx = (1L to 40L).flatMap { v =>
      val stale = Seq((v, v % 4, Array(v.toFloat, 1f), 1.0, 0L))
      if (v % 2 == 0) stale :+ ((v, (v + 1) % 4, Array(v.toFloat, 2f), 2.0, 1L))
      else stale
    }.toDF("vec_id", "cid", "embedding", "nrm", "gen")
    val compacted = graft.pipelines.Similarity.ivfIndexCompact(idx)
    val plan = compacted.queryExecution.executedPlan.toString
    plan.linesIterator.filter(_.contains("hashpartitioning")).foreach { l =>
      assert(l.contains("vec_id") && !l.contains("gen"),
        s"exchange not keyed on vec_id alone:\n$plan")
    }
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), s"nested loop in compact:\n$plan")
    // semantics: latest generation per vector survives — including the
    // cell REASSIGNMENT — and the gen column is dropped
    val got = compacted.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val want = (1L to 40L).map { v =>
      if (v % 2 == 0) (v, (v + 1) % 4, 2.0) else (v, v % 4, 1.0)
    }.toSet
    assert(got == want)
  }

  test("canonicalByPriority picks survivors with a partial hash " +
      "aggregate — no per-cluster window or sort") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta", "src0"),
      (2L, "alpha beta gamma delta", "src1"),
      (3L, "unrelated totally different words here", "src2"))
      .toDF("doc_id", "text", "source")
    val out = graft.pipelines.Dedup.canonicalByPriority(spark, docs,
      substring(col("source"), 4, 16).cast("int") % 5)
    val plan = out.queryExecution.executedPlan.toString
    // the per-cluster argmin is the scaladoc's map-side-collapsing
    // hash aggregate: a partial min over the (-prio, doc_id, source)
    // struct must appear, and no Window may (the mass-dup cluster of
    // the skewdedup stress would make a window's single sort partition
    // the bottleneck)
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"no partial struct-min aggregate:\n$plan")
    // the connected-components engine sorts nothing per cluster either;
    // the only Window allowed is none at all
    assert(!plan.contains("Window"), s"window in canonical pick:\n$plan")
    // semantics: priority wins over minimum id
    val kept = out.collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(kept.keySet == Set(2L, 3L) && kept(2L) == 1L)
  }

  test("contFromCounts plans one group-keyed sort — no histogram " +
      "self-join, group total from the whole-partition window") {
    import spark.implicits._
    val hist = Seq(("a", 1L, 3L), ("a", 2L, 2L), ("b", 5L, 4L))
      .toDF("g", "v", "cnt")
    val p = graft.pipelines.Quantiles.contFromCounts(hist, Seq("g"),
      "v", "cnt", Seq(0.5))
    val plan = p.queryExecution.executedPlan.toString
    // the running-cum and group-total windows share one sort; the old
    // hist-vs-aggregate formulation both joined the histogram against
    // itself (an extra shuffle) and tripped attribute-conflict
    // resolution when the histogram was a memory-sink view
    val selfJoins = plan.linesIterator
      .count(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(selfJoins == 0, s"histogram self-join present:\n$plan")
    // semantics: a's 5 values (1,1,1,2,2) → median 1; b's 4 → 5
    val got = p.collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got("a") == 1.0 && got("b") == 5.0)
  }

  test("structural-quartet plans: equi-joins only, no cartesian surface") {
    // The scaladoc claims (degree orientation bounds the wedge join;
    // the center cap bounds pairs) only matter if the PLANS stay
    // equi-join-shaped: any BNLJ/CartesianProduct would mean a join
    // lost its keys and the O(d^2)/O(sum C(d,2)) math went quadratic
    // in a different way. Assert it on the executed plans.
    import graft.operators.{LinkPredict, Triangles}
    import org.apache.spark.sql.functions.col
    val e = graph(Seq(("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 1.0),
      ("c", "d", 1.0))).edges
    Seq(
      "triangles" -> Triangles.perNode(e),
      "link_predict" -> LinkPredict.topCandidates(e),
      // r18 weighted variants: the aggregate swap must not change the
      // join shapes (same orientation / peel machinery, weights ride)
      "triangles_weighted" -> Triangles.perNodeWeighted(e),
      // r18 indexed variants share the same *On bodies as the direct
      // paths — assert on one representative fed by stable frames
      "triangles_on" -> {
        val und = Checkpoints.materialize(Triangles.undirected(e))
        Triangles.perNodeOn(und, Triangles.degrees(und))
      }
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      Checkpoints.releaseAll(df)
    }
    // the weighted peel is iterative (plans materialize per round) —
    // assert on its result-producing plan the same way KCore.run's
    // r17 coverage does implicitly through the gate: the final degree
    // aggregation plus the per-round semi-joins leave no nested-loop
    // residue in the last plan
    val core = graft.operators.KCore.runWeighted(e, 1.5)
    val corePlan = core.queryExecution.executedPlan.toString
    assert(!corePlan.contains("BroadcastNestedLoopJoin"), corePlan)
    assert(!corePlan.contains("CartesianProduct"), corePlan)
    Checkpoints.releaseAll(core)
  }

  test("MinHashAgg merge combines partial buffers slot-wise") {
    val b1 = MinHashAgg.reduce(MinHashAgg.zero, (42L, 19L))
    val b2 = MinHashAgg.reduce(MinHashAgg.zero, (7L, 3L))
    val merged = MinHashAgg.merge(b1.clone(), b2)
    MinHashParams.params.zipWithIndex.foreach { case ((a, b), j) =>
      val expect = math.min((a * 42L + b * 19L) % MinHashParams.P,
        (a * 7L + b * 3L) % MinHashParams.P)
      assert(merged(j) == expect)
    }
  }
}
