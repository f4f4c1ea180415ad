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
      // Same sink and lifecycle as Bench; every job is labeled with
      // its (query, pass).
      def once(pass: String): Unit = SparkEntry.byName(name)
        .run(spark, sfDir, Some(s"$name:$pass"))(SparkEntry.Gate.noop)
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
