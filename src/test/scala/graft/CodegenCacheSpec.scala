package graft

import graft.operators.{Hits, PageRank, Salsa}

/** Spark caches generated classes by (class loader, source). build.sbt
  * starts every forked JVM, this one included, with the three flags that
  * let a warm pass hit that cache: a cache larger than graft's working
  * set (`spark.sql.codegen.cache.maxEntries`), one executor class loader
  * for every cloned session (`spark.sql.artifact.isolation.enabled`), and
  * class names without the whole-stage codegen id
  * (`spark.sql.codegen.useIdInClassName`). This spec pins that a warm
  * pass reuses the classes an earlier pass compiled.
  *
  * Compiles are read from `Bench.codegenCounters`, which initializes
  * Spark's `CodeGenerator` object. That object sizes its cache from the
  * conf in effect when it loads, so each test runs a query before its
  * first count: loaded before any session exists, the cache would keep
  * Spark's default of 100 entries.
  */
class CodegenCacheSpec extends SparkSuite {

  /** The sf0.001 test tables, where the other data-backed specs read
    * them. */
  private val sfDir = sys.props("user.home") + "/testdata/sf0.001"

  /** Janino compiles while running `gates` once through the noop sink. */
  private def compilesOfPass(gates: String*): Long = {
    val before = Bench.codegenCounters()._1
    gates.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      Checkpoints.releaseAll(df)
    }
    Bench.codegenCounters()._1 - before
  }

  test("a second pass of hits_base + graph_kcore reuses compiled classes") {
    assume(new java.io.File(sfDir).isDirectory, s"no test tables in $sfDir")
    try {
      // Every pass plans against the materialized graph: its size
      // statistics pick the join strategies, so a first pass that
      // materialized it would plan (and compile) different bodies.
      val g = GraphIO.orderGraph(spark, sfDir)
      g.edges.count()
      g.nodes.count()
      val first = compilesOfPass("hits_base", "graph_kcore")
      val warm = Seq.fill(2)(compilesOfPass("hits_base", "graph_kcore"))
      assert(first > 0, "the first pass compiled nothing: nothing to reuse")
      // Two warm passes usually compile nothing. Without the flags each
      // one recompiles: 58 of 108 classes at the default 100-entry
      // cache, 5-11 under per-clone executor loaders, 0-14 while the
      // codegen id (which AQE assigns in stage-completion order) was in
      // the class name. 6 leaves room for one rare AQE plan variant of
      // the HITS normalize step (3 bodies, each under the driver's and
      // the executor's loader).
      assert(warm.sum <= 6, s"warm passes compiled ${warm.mkString(" + ")} " +
        s"classes (first: $first): a warm pass recompiles what the " +
        "first compiled")
    } finally GraphIO.evict(spark, sfDir, Seq("order"))
  }

  test("HITS and the k-core peel on a second graph with other weights " +
      "compile no class") {
    // One topology, two weightings: every HITS norm and every peel round's
    // strengths differ between the graphs. A value compiled into the
    // generated code (a `lit` norm) would make each iteration a new class.
    def weighted(w: Int => Double) = graph((0 until 80).map(i =>
      (s"n${i % 29}", s"n${(i * 7 + 3) % 29}", w(i))))
    val (a, b) = (weighted(i => 1.0 + i % 5), weighted(i => 0.5 + i % 7))
    def pass(g: Graph): Long = {
      val before = Bench.codegenCounters()._1
      val h = Hits.runWeighted(g, numIter = 8)
      val core = operators.KCore.runWeighted(g.edges, 4.0)
      Seq(h.hubs, h.auths, core).foreach { df =>
        assert(df.collect().nonEmpty)
        Checkpoints.releaseAll(df)
      }
      Bench.codegenCounters()._1 - before
    }
    val first = pass(a)
    val other = pass(b)
    assert(other == 0, s"the second graph compiled $other classes " +
      s"(the first: $first)")
  }

  test("HITS, SALSA and PageRank on a second graph with two more nodes " +
      "compile no class") {
    // Same edges, two more (isolated) nodes: N, and with it every
    // per-graph constant (1/√N, (1-β)/N, 1/N, (1-d)/N), differs between
    // the graphs. A constant compiled into the generated code (a `lit`)
    // would make each kernel's init and teleport steps new classes.
    val edges = (0 until 80).map(i =>
      (s"n${i % 29}", s"n${(i * 7 + 3) % 29}", 1.0 + i % 5))
    val (a, b) =
      (graph(edges), graph(edges, Map("x1" -> "none", "x2" -> "none")))
    def pass(g: Graph): Long = {
      val before = Bench.codegenCounters()._1
      val h = Hits.runConverged(g).result
      val t = Hits.runTeleport(g)
      val s = Salsa.run(g)
      Seq(h.hubs, h.auths, t.hubs, t.auths, s.hubs, s.auths, PageRank.run(g),
          PageRank.runConverged(g).result).foreach { df =>
        assert(df.collect().nonEmpty)
        Checkpoints.releaseAll(df)
      }
      Bench.codegenCounters()._1 - before
    }
    val first = pass(a)
    val other = pass(b)
    assert(other == 0, s"the graph with two more nodes compiled $other " +
      s"classes (the first: $first)")
  }

  test("warm graph_components passes do not recompile the star-forest " +
      "check") {
    assume(new java.io.File(sfDir).isDirectory, s"no test tables in $sfDir")
    try {
      val g = GraphIO.orderGraph(spark, sfDir)
      g.edges.count()
      g.nodes.count()
      compilesOfPass("graph_components")
      val warm = Seq.fill(2)(compilesOfPass("graph_components"))
      // A `limit(1).count()` probe names its counter field from a
      // JVM-wide sequence, so its bodies are new source on every run: the
      // check's two probes compiled 4 classes a pass, 8 over two passes.
      assert(warm.sum < 8, s"warm passes compiled ${warm.mkString(" + ")} " +
        "classes")
    } finally GraphIO.evict(spark, sfDir, Seq("order"))
  }

  test("a warm stream_restart_sessionize pass compiles at most one " +
      "class per micro-batch") {
    assume(new java.io.File(sfDir).isDirectory, s"no test tables in $sfDir")
    val gate = "stream_restart_sessionize"
    SparkEntry.queries(gate)(spark, sfDir).write.format("noop")
      .mode("overwrite").save()
    val warm = compilesOfPass(gate)
    val batches = new java.io.File(
      graft.streaming.Restart.workDir("sessionize", sfDir), "ckpt/commits")
      .list().count(_.forall(_.isDigit))
    assert(batches > 0, "the drain committed no micro-batch")
    // Spark bakes each batch's watermark into the generated eviction
    // predicate (`ts <= <watermark literal>`), so a batch that moves the
    // watermark compiles one new class; everything else is cached.
    assert(warm <= batches, s"warm pass compiled $warm classes over " +
      s"$batches micro-batches")
  }
}
