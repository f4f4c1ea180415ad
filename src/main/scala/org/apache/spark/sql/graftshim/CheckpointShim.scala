package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Partitioning-preserving `localCheckpoint` (optimization guide §2.4 —
  * "remove shuffles outright").
  *
  * `Dataset.localCheckpoint` rebuilds the frame as a [[LogicalRDD]]
  * whose `outputPartitioning` it copies from
  * `queryExecution.executedPlan.outputPartitioning`. Under adaptive
  * execution that plan is an [[AdaptiveSparkPlanExec]], which does NOT
  * override `outputPartitioning` — so every checkpoint reports
  * `UnknownPartitioning(0)` even when the materialized rows are
  * perfectly hash-clustered (verified against the executed plans in the
  * r19 event logs: every per-iteration kernel checkpoint scan read
  * `UnknownPartitioning(0)` and every join against one paid a fresh
  * Exchange of the score vector). The iterative kernels checkpoint a
  * hash-partitioned aggregation output every iteration and immediately
  * join it against an edge table cached with the SAME clustering; the
  * lost partitioning cost one |V|-sized Exchange per iteration, in
  * every kernel, for the whole life of the repo.
  *
  * This shim replays `Dataset.checkpoint`'s body but reads the
  * partitioning from the ADAPTIVE FINAL plan and carries it into the
  * [[LogicalRDD]] explicitly (remapped onto the analyzed output
  * attributes; anything that isn't a plain hash partitioning falls back
  * to `UnknownPartitioning`, i.e. exactly the old behavior). It also
  * disables AQE partition coalescing FOR THE CHECKPOINTED QUERY ONLY
  * (restored in `finally`): the final shuffle before a checkpoint has
  * no downstream requirement inside its own plan — the consumer is the
  * NEXT query, which the optimizer cannot see — so AQE would otherwise
  * coalesce it (observed: `AQEShuffleRead coalesced` on the kernel agg
  * exchanges at sf0.1) and the materialized layout would genuinely no
  * longer be hash-routable. Both halves only claim what is physically
  * true: the declared partitioning is the executed final plan's.
  *
  * Lives under `org.apache.spark.sql` because `Dataset.ofRows` is
  * `private[sql]` — same access level Spark's own checkpoint uses; no
  * behavior is patched, only the partitioning metadata Spark drops.
  */
object CheckpointShim {

  private val CoalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"

  /** `df.localCheckpoint(eager)` with the executed plan's hash
    * partitioning preserved on the checkpointed frame. */
  def localCheckpoint(df: org.apache.spark.sql.DataFrame,
      eager: Boolean): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val spark = ds.sparkSession
    val prev = spark.conf.get(CoalesceKey, "true")
    val (rdd, part) =
      try {
        spark.conf.set(CoalesceKey, "false")
        val physical = ds.queryExecution.executedPlan
        // Every job below runs under the checkpointed query's one
        // execution id, like stock Dataset.checkpoint: the adaptive
        // stage jobs that finalPhysicalPlan drives as well as the
        // materializing count, so all of them attribute to this query
        // in the SQL tab, the event log and a listener's per-query
        // totals instead of to an anonymous call site.
        org.apache.spark.sql.execution.SQLExecution
          .withNewExecutionId(ds.queryExecution) {
            // finalPhysicalPlan forces the adaptive stages to execute
            // and returns the re-optimized plan whose
            // outputPartitioning is the one the materialized rows
            // actually have.
            val finalPlan = physical match {
              case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
              case p => p
            }
            // Same row copy as Dataset.checkpoint: the scan reuses row
            // buffers, so the persisted blocks must own their bytes.
            val rdd = finalPlan.execute().map(_.copy())
            rdd.localCheckpoint()
            if (eager) rdd.count()
            (rdd, remap(finalPlan.outputPartitioning,
              finalPlan.output, ds.queryExecution.analyzed.output))
          }
      } finally spark.conf.set(CoalesceKey, prev)
    // Statistics from the optimized plan, like LogicalRDD.fromDataset —
    // without them the planner sizes the checkpoint at
    // defaultSizeInBytes and never broadcasts it. Column-level stats
    // are rewritten onto the analyzed output attributes the way
    // fromDataset does (ADVICE r19): if the optimizer renamed exprIds,
    // unmapped keys would silently detach and degrade broadcast sizing.
    val stats = scala.util.Try {
      val s = ds.queryExecution.optimizedPlan.stats
      val rewrite = AttributeMap(
        ds.queryExecution.optimizedPlan.output
          .zip(ds.queryExecution.analyzed.output))
      s.copy(attributeStats = AttributeMap(s.attributeStats.flatMap {
        case (a, colStat) => rewrite.get(a).map(_ -> colStat)
      }))
    }.toOption
    val lr = LogicalRDD(ds.queryExecution.analyzed.output, rdd, part,
      Nil, false, None)(spark, stats, None)
    Dataset.ofRows(spark, lr)
  }

  /** The final plan's partitioning, rewritten onto the checkpoint's
    * output attributes. Only plain hash partitionings are claimed; a
    * collection (join output) contributes its first mappable hash
    * member — the `LogicalRDD.fromDataset` first-leaf rule. */
  private def remap(p: Partitioning, from: Seq[Attribute],
      to: Seq[Attribute]): Partitioning = {
    val m = AttributeMap(from.zip(to))
    def hash(h: HashPartitioning): Option[Partitioning] = {
      var ok = true
      val exprs = h.expressions.map(_.transform {
        case a: Attribute => m.get(a) match {
          case Some(b) => b
          case None => ok = false; a
        }
      })
      if (ok) Some(HashPartitioning(exprs, h.numPartitions)) else None
    }
    p match {
      case h: HashPartitioning => hash(h).getOrElse(UnknownPartitioning(0))
      case pc: PartitioningCollection =>
        pc.partitionings.iterator.collect { case h: HashPartitioning => h }
          .map(hash).collectFirst { case Some(x) => x }
          .getOrElse(UnknownPartitioning(0))
      case _ => UnknownPartitioning(0)
    }
  }
}
