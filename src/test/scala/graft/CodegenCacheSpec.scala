package graft

/** Spark caches generated classes by (class loader, source), and in local
  * mode the driver and the executor compile under different loaders. The
  * default 100-entry cache is smaller than graft's working set, so each
  * pass evicted what the previous one compiled and recompiled it in
  * Janino. build.sbt sizes the cache (`spark.sql.codegen.cache.maxEntries`)
  * for every forked JVM, this one included; this spec pins that a
  * repeated pass reuses the classes its first run compiled.
  */
class CodegenCacheSpec extends SparkSuite {

  /** The sf0.001 test tables, where the other data-backed specs read
    * them. */
  private val sfDir = sys.props("user.home") + "/testdata/sf0.001"

  test("a second pass of hits_base + graph_kcore reuses compiled classes") {
    assume(new java.io.File(sfDir).isDirectory, s"no test tables in $sfDir")
    def compilesOfPass(): Long = {
      val before = Bench.codegenCounters()._1
      Seq("hits_base", "graph_kcore").foreach { q =>
        val df = SparkEntry.queries(q)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        Checkpoints.releaseAll(df)
      }
      Bench.codegenCounters()._1 - before
    }
    try {
      // Both passes plan against the materialized graph: its size
      // statistics pick the join strategies, so a first pass that
      // materialized it would plan (and compile) different bodies.
      val g = GraphIO.orderGraph(spark, sfDir)
      g.edges.count()
      g.nodes.count()
      val first = compilesOfPass()
      val second = compilesOfPass()
      assert(first > 0, "the first pass compiled nothing: nothing to reuse")
      // Not zero: Spark builds each persisted plan (the loop's two edge
      // copies per HITS run) under a clone of the session, whose jobs get
      // a fresh executor class loader and so compile their few bodies
      // again on every run (5-11 of ~105 here). A cache smaller than the
      // working set recompiles over half of the pass (58 of 108 at the
      // default 100 entries).
      assert(second <= first / 4,
        s"second pass compiled $second classes (first: $first): the " +
          "generated-class cache is smaller than the working set")
    } finally GraphIO.evict(spark, sfDir, Seq("order"))
  }
}
