package graft

import graft.operators.{Hits, Salsa}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** FIXTURES.md §3 micro-graphs: closed-form HITS checks. */
class HitsSpec extends SparkSuite {

  /** G1: a→c, a→d, b→c, c→d. */
  private def g1 = graph(Seq(
    ("a", "c", 1.0), ("a", "d", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)))

  test("G1 one-iteration closed form (Gauss-Seidel ordering + L2 norm)") {
    val r = Hits.run(g1, numIter = 1)
    // un-normalized hubs from init 0.5: a=1.0, b=0.5, c=0.5;
    // auths from those NEW hubs: c=1.5, d=1.5; then L2-normalize both.
    assertApprox(scoresMap(r.hubs),
      Map("a" -> 0.816496580927726, "b" -> 0.408248290463863,
        "c" -> 0.408248290463863))
    assertApprox(scoresMap(r.auths),
      Map("c" -> 0.7071067811865475, "d" -> 0.7071067811865475))
  }

  test("an iteration runs three jobs: no job of its own for the norm") {
    val g = graph(Seq(("a", "c", 1.0), ("a", "d", 2.0), ("b", "c", 1.0),
      ("c", "d", 3.0), ("d", "a", 1.0), ("e", "a", 1.0)))
    def jobsOfRun(n: Int): Int = {
      var r: Hits.Result = null
      val jobs = jobsOf { r = Hits.run(g, numIter = n) }
      Checkpoints.releaseAll(r.hubs)
      Checkpoints.releaseAll(r.auths)
      jobs
    }
    // At the shuffle.partitions cap every exchange runs as a job of its
    // own (at width 1 adaptive execution may fold one into another).
    spark.conf.set(AdaptiveWidth.BytesPerTaskKey, "1b")
    try Seq(3, 8).foreach { n =>
      val (a, b) = (jobsOfRun(n), jobsOfRun(n + 1))
      // The two aggregate exchanges and the checkpoint. The norm,
      // tallied by the checkpoint's job, once cost two more: its
      // aggregate exchange and the broadcast of a cross join.
      assert(b - a == 3, s"$n iterations ran $a jobs, ${n + 1} ran $b")
    } finally spark.conf.unset(AdaptiveWidth.BytesPerTaskKey)
  }

  test("at width 1 an iteration runs one job: nothing is exchanged") {
    val g = graph(Seq(("a", "c", 1.0), ("a", "d", 2.0), ("b", "c", 1.0),
      ("c", "d", 3.0), ("d", "a", 1.0), ("e", "a", 1.0)))
    def jobsOfRun(run: => Seq[DataFrame]): Int = {
      var out = Seq.empty[DataFrame]
      val jobs = jobsOf { out = run }
      out.foreach(Checkpoints.releaseAll)
      jobs
    }
    val key = AdaptiveWidth.BytesPerTaskKey
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1t")
    try Seq(3, 8).foreach { n =>
      Seq[(String, Int => Seq[DataFrame])](
        "HITS" -> { i => val r = Hits.run(g, numIter = i); Seq(r.hubs, r.auths) },
        "SALSA" -> { i => val r = Salsa.run(g, numIter = i); Seq(r.hubs, r.auths) }
      ).foreach { case (kernel, run) =>
        val (a, b) = (jobsOfRun(run(n)), jobsOfRun(run(n + 1)))
        // The checkpoint's job: both aggregates and both joins read the
        // one-partition edge, node and vector checkpoints in place.
        assert(b - a == 1, s"$kernel: $n iterations ran $a jobs, " +
          s"${n + 1} ran $b")
      }
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the teleport kernels count no nodes on the driver: N is the loop's " +
      "tally") {
    val g = graph(Seq(("a", "c", 1.0), ("a", "d", 2.0), ("b", "c", 1.0),
      ("c", "d", 3.0), ("d", "a", 1.0), ("e", "a", 1.0)))
    def jobsOfRun(run: => Seq[DataFrame]): Int = {
      var out = Seq.empty[DataFrame]
      val jobs = jobsOf { out = run }
      out.foreach(Checkpoints.releaseAll)
      jobs
    }
    def hits(r: Hits.Result) = Seq(r.hubs, r.auths)
    def salsa(r: Salsa.Result) = Seq(r.hubs, r.auths)
    val (base, teleport) = (jobsOfRun(hits(Hits.run(g, numIter = 4))),
      jobsOfRun(hits(Hits.runTeleport(g, numIter = 4))))
    assert(teleport == base, s"HITS ran $base jobs, with teleport $teleport")
    val (sBase, sTeleport) = (jobsOfRun(salsa(Salsa.run(g, numIter = 4))),
      jobsOfRun(salsa(Salsa.runTeleport(g, numIter = 4))))
    assert(sTeleport == sBase,
      s"SALSA ran $sBase jobs, with teleport $sTeleport")
  }

  test("G1 dropout semantics: d never a hub, a/b never authorities") {
    val r = Hits.run(g1, numIter = 8)
    val hubs = scoresMap(r.hubs)
    val auths = scoresMap(r.auths)
    assert(!hubs.contains("d") && hubs.keySet == Set("a", "b", "c"))
    assert(auths.keySet == Set("c", "d"))
    assert(hubs.values.max == hubs("a")) // a points at both authorities
  }

  test("G1 post-normalization L2 norm is 1 for both vectors") {
    val r = Hits.run(g1, numIter = 8)
    Seq(r.hubs, r.auths).foreach { v =>
      val n2 = v.agg(sum(col("score") * col("score"))).head.getDouble(0)
      assert(math.abs(n2 - 1.0) < 1e-12)
    }
  }

  test("G5 weighted HITS keeps zero-weight keys with zero mass") {
    // G2 edges with weights + a zero-weight edge u2→v2.
    val g = graph(Seq(("u1", "v1", 2.0), ("u1", "v2", 1.0),
      ("u2", "v1", 1.0), ("u3", "v1", 4.0), ("u2", "v2", 0.0)))
    val r = Hits.runWeighted(g, numIter = 1)
    val auths = scoresMap(r.auths)
    assert(auths.contains("v2")) // zero-weight edge still yields the key
    val hubs = scoresMap(r.hubs)
    assert(hubs("u3") > hubs("u1") && hubs("u1") > hubs("u2"))
  }

  test("teleport adds (1-beta)/N only to aggregated nodes (note C)") {
    val r = Hits.runTeleport(g1, beta = 0.8, numIter = 1)
    // d has out-degree 0: absent from hubs even though teleport mass
    // would mathematically reach every node.
    assert(!scoresMap(r.hubs).contains("d"))
  }

  test("G3 topic-specific teleport boosts topic nodes") {
    val labels = Map("a" -> "gene", "b" -> "gene", "c" -> "drug",
      "d" -> "drug", "e" -> "other")
    val g = graph(Seq(("a", "c", 1.0), ("a", "d", 1.0), ("b", "c", 1.0),
      ("c", "d", 1.0), ("e", "a", 1.0)), labels)
    val base = Hits.run(g, 8)
    val topic = Hits.runTopicSpecific(g, "drug", 0.8, 8)
    // c is a drug node: its relative hub mass must grow vs base HITS.
    val (bh, th) = (scoresMap(base.hubs), scoresMap(topic.hubs))
    assert(th("c") / th("a") > bh("c") / bh("a"))
  }

  test("G3 topic-exclusive keeps only intra-topic edges (intent, note E)") {
    val labels = Map("a" -> "gene", "b" -> "gene", "c" -> "drug",
      "d" -> "drug", "e" -> "other")
    val g = graph(Seq(("a", "c", 1.0), ("a", "d", 1.0), ("b", "c", 1.0),
      ("c", "d", 1.0), ("e", "a", 1.0)), labels)
    val r = Hits.runTopicExclusive(g, "drug", numIter = 2)
    // induced drug subgraph is the single edge c→d
    assert(scoresMap(r.hubs).keySet == Set("c"))
    assert(scoresMap(r.auths).keySet == Set("d"))
  }

  test("G4 self-loop probe: both a→a and a→b survive (intent semantics)") {
    val g = graph(Seq(("a", "a", 1.0), ("a", "b", 1.0)),
      Map("a" -> "t", "b" -> "t"))
    val r = Hits.runTopicExclusive(g, "t", numIter = 1)
    assert(scoresMap(r.auths).keySet == Set("a", "b"))
  }

  test("G4b selfLoopsOnly replays the reference's literal note-E filter") {
    // Literal reference code (topic_exclusive_hits.py:49) semi-joins on
    // (src==id) & (dst==id): only topic-node self-loops can satisfy it.
    val g = graph(
      Seq(("a", "a", 1.0), ("a", "b", 1.0), ("b", "b", 1.0), ("c", "c", 1.0)),
      Map("a" -> "t", "b" -> "t", "c" -> "other"))
    val lit = operators.Subgraph.topicExclusive(g, "t", selfLoopsOnly = true)
    val litEdges = lit.edges.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(litEdges == Set(("a", "a"), ("b", "b"))) // a→b and c→c dropped
    // Intent mode on the same graph keeps the intra-topic a→b edge too.
    val intent = operators.Subgraph.topicExclusive(g, "t")
    val intentEdges = intent.edges.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(intentEdges == Set(("a", "a"), ("b", "b"), ("a", "b")))
    // Both modes expose the same (topic-filtered) node set.
    assert(lit.nodes.collect().map(_.getString(0)).toSet == Set("a", "b"))
    // And the literal kernel still runs end to end on what survives.
    val r = Hits.runTopicExclusive(g, "t", numIter = 1, selfLoopsOnly = true)
    assert(scoresMap(r.auths).keySet == Set("a", "b"))
  }

  test("G3 query-dependent neighborhood graph") {
    val labels = Map("a" -> "gene", "b" -> "gene", "c" -> "drug",
      "d" -> "drug", "e" -> "other")
    val g = graph(Seq(("a", "c", 1.0), ("a", "d", 1.0), ("b", "c", 1.0),
      ("c", "d", 1.0), ("e", "a", 1.0)), labels)
    // edges touching a drug node: all but e→a
    val r = Hits.runQueryDependent(g, "drug", numIter = 1)
    assert(scoresMap(r.hubs).keySet == Set("a", "b", "c"))
    assert(scoresMap(r.auths).keySet == Set("c", "d"))
  }

  test("runConverged stops early on a fast-converging graph and matches " +
      "the fixed-iteration kernel at the same depth") {
    val fp = Hits.runConverged(g1, tol = 1e-9, maxIter = 40)
    val (r, iters) = (fp.result, fp.iterations)
    assert(iters < 40) // G1 converges almost immediately
    assert(fp.converged, "early stop must report converged = true")
    val fixed = Hits.run(g1, numIter = iters)
    assertApprox(scoresMap(r.auths), scoresMap(fixed.auths), 1e-9)
  }

  test("runConverged on an empty graph converges immediately, no crash") {
    val fp = Hits.runConverged(graph(Seq.empty), maxIter = 5)
    assert(fp.result.hubs.count() == 0L && fp.result.auths.count() == 0L)
    // empty delta reads as 0 < tol on the first SCHEDULED check
    assert(fp.iterations <= 3 && fp.converged)
  }

  test("edge input order does not change scores (permutation invariance)") {
    val edges = Seq(("a", "c", 1.0), ("a", "d", 1.0), ("b", "c", 1.0),
      ("c", "d", 1.0))
    val r1 = Hits.run(graph(edges), 4)
    val r2 = Hits.run(graph(edges.reverse), 4)
    assertApprox(scoresMap(r1.hubs), scoresMap(r2.hubs), 1e-12)
  }
}
