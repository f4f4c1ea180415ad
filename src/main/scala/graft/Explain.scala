package graft


/** Dump formatted physical plans for representative queries — the tool
  * used to keep the plans honest (pushdown reaching the parquet scan,
  * whole-stage codegen spans, no stray BroadcastNestedLoopJoin, edge
  * side not re-shuffled inside iterations).
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("hits_base", "salsa_simplified", "dedup_minhash_lsh",
        "ann_topk", "events_window", "search_bm25", "corpus_token_cms",
        "dedup_incremental", "layout_zorder")
    val spark = Sessions.local(Sessions.defaultCpus, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n=================== $name ===================")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
