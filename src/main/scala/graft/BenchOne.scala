package graft

/** Single-query profiling harness: times each named query twice (cold
  * including JIT/codegen, then warm) in isolation from the full bench —
  * the tool that separates "this operator is slow" from "this operator
  * ate a GC pause that belongs to the whole run". */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.defaultCpus, "graft-benchone")
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      // Same action and lifecycle as Bench: a noop write evaluates
      // every output column (count() would let Catalyst prune computed
      // columns), and the run's checkpoints are released afterwards so
      // the first pass's dead blocks can't distort the second's timing.
      def once(pass: String): Unit = {
        // Label every job of this query (guide §1.5) so event-log /
        // UI stages attribute to a (query, pass) instead of an
        // anonymous CompletableFuture call site.
        spark.sparkContext.setJobDescription(s"$name:$pass")
        val df = SparkEntry.queries(name)(spark, sfDir)
        try df.write.format("noop").mode("overwrite").save()
        finally {
          Checkpoints.releaseAll(df)
          spark.sparkContext.setJobDescription(null)
        }
      }
      val t0 = System.nanoTime()
      once("first")
      println(f"[benchone] $name first ${(System.nanoTime()-t0)/1e9}%.2f s")
      val t1 = System.nanoTime()
      once("second")
      println(f"[benchone] $name second ${(System.nanoTime()-t1)/1e9}%.2f s")
    }
    spark.stop()
  }
}
