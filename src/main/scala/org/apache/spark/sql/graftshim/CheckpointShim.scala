package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap,
  BindReferences, InterpretedMutableProjection, JoinedRow, LeafExpression,
  NamedExpression, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructField, StructType}

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
  * attributes; anything but a hash partitioning falls back to
  * `UnknownPartitioning`, Spark's own behavior, see [[remap]]). A
  * checkpoint of ONE partition claims a width-1 hash layout on each of
  * its columns, true of every row whatever the final plan reports, and
  * never `SinglePartition` ([[remap]] says why): at loop width 1 every
  * join and aggregate of a kernel iteration then reads its inputs in
  * place, and the iteration runs as one job. The
  * checkpointed query also runs with AQE partition coalescing OFF: the
  * final shuffle before a checkpoint has no downstream requirement
  * inside its own plan — the consumer is the NEXT query, which the
  * optimizer cannot see — so AQE would otherwise coalesce it
  * (observed: `AQEShuffleRead coalesced` on the kernel agg exchanges at
  * sf0.1) and the materialized layout would genuinely no longer be
  * hash-routable. No conf is set for that: a frame whose session
  * already has coalescing off (every keyed loop's: the kernels' and
  * components', [[graft.Fixpoint]]) is checkpointed there; any other is
  * planned on a scoped sibling of its session ([[graft.Sessions.scoped]]),
  * and the checkpoint comes back on the frame's own session. Both halves only
  * claim what is physically true: the declared partitioning is the
  * executed final plan's, or the one-partition layout of its rows.
  *
  * The job that materializes a checkpoint also returns its TALLY: the
  * values of aggregate columns over the checkpointed rows, folded while
  * the job computes them ([[materialize]]). An iterative operator that
  * needs one scalar of each generation (a norm, a drop count, a
  * checksum) gets it without a second job over the checkpoint.
  *
  * Lives under `org.apache.spark.sql` because `Dataset.ofRows` is
  * `private[sql]` — same access level Spark's own checkpoint uses; no
  * behavior is patched, only the partitioning metadata Spark drops.
  */
object CheckpointShim {

  /** `df.localCheckpoint()` with the executed plan's hash partitioning
    * preserved on the checkpointed frame, and the values of the
    * aggregate columns `tally` over its rows: one materializing job
    * ([[materialize]]) makes both. */
  def localCheckpoint(df: DataFrame, tally: Seq[Column]): (DataFrame, Row) = {
    val spark = df.asInstanceOf[Dataset[Row]].sparkSession
    val coalesce = SQLConf.COALESCE_PARTITIONS_ENABLED.key
    val ds = (if (spark.conf.get(coalesce).toBoolean)
      Rebind(df, graft.Sessions.scoped(spark, coalesce -> "false"))
    else df).asInstanceOf[Dataset[Row]]
    val physical = ds.queryExecution.executedPlan
    // Every job below runs under the checkpointed query's one execution
    // id, like stock Dataset.checkpoint: the adaptive stage jobs that
    // finalPhysicalPlan drives as well as the materializing job, so all
    // of them attribute to this query in the SQL tab, the event log and
    // a listener's per-query totals instead of to an anonymous call
    // site.
    val (rdd, part, values) = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(ds.queryExecution) {
        // finalPhysicalPlan forces the adaptive stages to execute and
        // returns the re-optimized plan whose outputPartitioning is the
        // one the materialized rows actually have.
        val finalPlan = physical match {
          case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
          case p => p
        }
        // Same row copy as Dataset.checkpoint: the scan reuses row
        // buffers, so the persisted blocks must own their bytes.
        val rdd = finalPlan.execute().map(_.copy())
        rdd.localCheckpoint()
        (rdd, remap(finalPlan.outputPartitioning, rdd.getNumPartitions,
          finalPlan.output, ds.queryExecution.analyzed),
          run(rdd, ds, tally))
      }
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
    (Dataset.ofRows(spark, lr), values)
  }

  /** Materializes `ck`, a lazily `localCheckpoint`ed frame, and returns
    * the values of the aggregate columns `tally` over its rows. */
  def materialize(ck: DataFrame, tally: Seq[Column]): Row =
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD => run(lr.rdd, ck.asInstanceOf[Dataset[Row]], tally)
      case other => throw new IllegalArgumentException(
        s"not a checkpoint: ${other.nodeName}")
    }

  /** The one job that materializes a checkpoint: it computes every
    * partition of `rdd` (rows laid out as `of`'s output), which stores
    * them, and folds `tally` over each partition's rows on the way.
    * The driver merges the partitions' buffers in partition-index order,
    * so the values are deterministic and, at one partition, bit-equal
    * to a separate `agg` over the checkpoint (`Dataset.observe` would
    * merge in task-completion order). Then, as after any job, Spark
    * marks the RDD checkpointed. The tasks see the session's SQL confs,
    * as a Dataset action's do. */
  private def run(rdd: RDD[InternalRow], of: Dataset[Row],
      tally: Seq[Column]): Row = {
    val t = new Tally(if (tally.isEmpty) Nil else
      of.agg(tally.head, tally.tail: _*).queryExecution.analyzed match {
        case a: Aggregate => a.aggregateExpressions
        case p => throw new IllegalStateException(
          s"a tally analyzes to an aggregate, not ${p.nodeName}")
      }, of.queryExecution.analyzed.output)
    t.result(org.apache.spark.sql.execution.SQLExecution
      .withSQLConfPropagated(of.sparkSession) {
        of.sparkSession.sparkContext.runJob(rdd, t.fold _)
      })
  }

  /** A value of `dataType` that the plan reads at run time instead of
    * inlining it: the kernel loop divides every iteration's vector by
    * that iteration's norm, and a `lit` would put each norm into the
    * generated source, so every iteration on every graph would compile a
    * new class. This expression's value rides the generated code's
    * references array; the source is the same for every value. */
  def scalar(value: Any, dataType: DataType): Column =
    ExpressionUtils.column(
      Scalar(CatalystTypeConverters.convertToCatalyst(value), dataType))

  /** The final plan's partitioning, rewritten onto the output attributes
    * of `analyzed`, the checkpointed plan. Only hash partitionings are
    * claimed; a collection (join output) contributes its first mappable
    * hash member — the `LogicalRDD.fromDataset` first-leaf rule.
    *
    * Rows in one partition (`parts == 1`) are hash-partitioned on every
    * column at width 1 (`pmod(hash, 1) = 0`), whatever the final plan
    * reports, so that is the claim: a `HashPartitioning(Seq(a), 1)` per
    * output column `a`. A join or aggregate on any key of such a
    * checkpoint then reads it in place, next to another width-1 hash
    * layout or another such checkpoint. `SinglePartition` stays out of
    * the claim: where both children of a join report it, the planner
    * keeps them only if both size estimates fit
    * `spark.sql.maxSinglePartitionBytes`, which a join product's never
    * does; a join of two checkpoints that claimed it next to their hash
    * members re-shuffled both sides. */
  private def remap(p: Partitioning, parts: Int, from: Seq[Attribute],
      analyzed: LogicalPlan): Partitioning = {
    val m = AttributeMap(from.zip(analyzed.output))
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
    if (parts == 1) analyzed.output.map(a => HashPartitioning(Seq(a), 1)) match {
      case Seq() => UnknownPartitioning(0)
      case Seq(h) => h
      case hs => PartitioningCollection(hs)
    } else p match {
      case h: HashPartitioning => hash(h).getOrElse(UnknownPartitioning(0))
      case pc: PartitioningCollection =>
        pc.partitionings.iterator.collect { case h: HashPartitioning => h }
          .map(hash).collectFirst { case Some(x) => x }
          .getOrElse(UnknownPartitioning(0))
      case _ => UnknownPartitioning(0)
    }
  }
}

/** Global aggregates folded over rows without a shuffle: each partition
  * folds its rows into aggregation buffers ([[fold]]), and [[result]]
  * merges the buffers in the order given. Interpreted, so it compiles
  * nothing. Only declarative aggregates (sum, count, min, max, ...),
  * without DISTINCT or FILTER, are supported.
  *
  * @param exprs the analyzed aggregate columns
  * @param input the attributes the rows are laid out as */
private final class Tally(exprs: Seq[NamedExpression], input: Seq[Attribute])
    extends Serializable {
  private val fns = exprs.flatMap(_.collect {
    case AggregateExpression(f: DeclarativeAggregate, Complete, false, None,
        _) => f
    case a: AggregateExpression => throw new IllegalArgumentException(
      s"a tally folds declarative aggregates only, not $a")
  })
  private val buffer = fns.flatMap(_.aggBufferAttributes)
  private val types = buffer.map(_.dataType)
  private val initial = fns.flatMap(_.initialValues)
  private val update = BindReferences.bindReferences(
    fns.flatMap(_.updateExpressions), buffer ++ input)
  private val merge = BindReferences.bindReferences(
    fns.flatMap(_.mergeExpressions),
    buffer ++ fns.flatMap(_.inputAggBufferAttributes))
  private val results = BindReferences.bindReferences(
    exprs.map(_.transform { case AggregateExpression(
        f: DeclarativeAggregate, _, _, _, _) => f.evaluateExpression }),
    buffer)
  private val schema = StructType(exprs.map(e =>
    StructField(e.name, e.dataType, e.nullable)))

  private def fresh(): SpecificInternalRow = {
    val b = new SpecificInternalRow(types)
    InterpretedMutableProjection.createProjection(initial).target(b)(
      InternalRow.empty)
    b
  }

  /** Folds `rows` (every row is read, so every row is computed) into
    * one partition's buffer. */
  def fold(rows: Iterator[InternalRow]): InternalRow = {
    val b = fresh()
    val step = InterpretedMutableProjection.createProjection(update).target(b)
    val joined = new JoinedRow
    while (rows.hasNext) step(joined(b, rows.next()))
    b
  }

  /** The tally's values, from the partitions' buffers merged in order. */
  def result(parts: Array[InternalRow]): Row = {
    val b = fresh()
    val step = InterpretedMutableProjection.createProjection(merge).target(b)
    val joined = new JoinedRow
    parts.foreach(p => step(joined(b, p)))
    val out = InterpretedMutableProjection.createProjection(results)
      .target(new SpecificInternalRow(schema.map(_.dataType)))(b)
    CatalystTypeConverters.createToScalaConverter(schema)(out)
      .asInstanceOf[Row]
  }
}

/** A run-time constant: not foldable, so the optimizer leaves it in the
  * plan, and generated code reads it through the references array
  * ([[CodegenFallback]]). Nullable whatever the value, so the generated
  * code does not depend on the value either. */
private case class Scalar(value: Any, dataType: DataType)
    extends LeafExpression with CodegenFallback {
  override def nullable: Boolean = true
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"scalar($value)"
}
