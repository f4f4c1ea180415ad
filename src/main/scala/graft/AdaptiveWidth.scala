package graft

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.DataFrame

/** Scale-adaptive partition width for kernel-shaped loops (optimization
  * guide §2.2/§2.4: "size partitions in the 100 MB-1 GB range rather
  * than a few MB" / "make partitioning scale-adaptive rather than a
  * constant tuned for either local mode or the cluster").
  *
  * The iterative kernels run every per-iteration stage at the width of
  * their co-partitioned caches, and checkpoints preserve that width
  * ([[Checkpoints.materializeKeyed]]). Each loop runs on a session of
  * its own whose `shuffle.partitions` is this width ([[Fixpoint]]; the
  * streaming drains likewise, [[graft.streaming.Drain]]), so the
  * caller's session keeps its conf; a keyed loop's session also has
  * AQE coalescing off, so there is a hash layout to preserve.
  * The width is not put into the plans as `repartition(k, key)`: under
  * a `groupBy` that moves the partial aggregate after the exchange, so
  * each HITS gather on the order graph would shuffle its ~120k edge
  * rows instead of ≤18.5k partial sums (sf0.01). Taking
  * that width verbatim from `spark.sql.shuffle.partitions` is right at
  * cluster scale but pathological when the loop's data is small: a
  * converged HITS run at sf0.1 executed ~50 stages of 32 tasks over a
  * few MB — pure scheduling overhead, measured SLOWER at 32 cores than
  * at 8 in the r19 driver scaling block. The fix is to derive the width
  * from the loop's dominant input: enough partitions to hold the cached
  * edge side at ~one AQE advisory partition each, capped at the
  * session's `shuffle.partitions` (at 100 TB the cap always wins, so
  * cluster behavior is unchanged), floored at 1.
  *
  * The estimate comes from the optimized plan's statistics — the same
  * numbers the planner's own broadcast/Bloom decisions trust. For the
  * persisted graphs it is the in-memory cache size (accurate once
  * materialized, conservative before); semi/anti-joined subgraph edges
  * inherit the left side's size (conservative: a wider width than
  * needed just moves behavior back toward today's).
  */
object AdaptiveWidth {

  private val ShufflePartitionsKey = "spark.sql.shuffle.partitions"

  /** Conf key: target bytes of the kernel's CACHED side per loop task.
    * Deliberately much smaller than the 64 MB+ shuffle advisory
    * (guide §2.2), which is tuned for one-shot shuffles: a kernel
    * re-probes its cached side every iteration, so a partition is
    * sized for tens of milliseconds of per-iteration probe work — an
    * order of magnitude above task-launch overhead, yet wide enough
    * that the loop parallelizes (measured at sf0.1: the 64 MB target
    * collapsed the 33 MB edge cache to width 1 and serialized every
    * iteration — hits_base 13.5 → 28 s; see OPTIMIZATION_r20.md). At
    * cluster scale the `shuffle.partitions` cap dominates long before
    * this knob matters. */
  val BytesPerTaskKey = "spark.graft.kernel.bytesPerTask"

  /** Loop width for a kernel whose big cached side is `df`:
    * `clamp(ceil(estimatedBytes / bytesPerTask), 1,
    * shuffle.partitions)`. */
  def of(df: DataFrame): Int = {
    val spark = df.sparkSession
    val cap = spark.conf.get(ShufflePartitionsKey).toInt
    val perTask = math.max(1L,
      JavaUtils.byteStringAsBytes(spark.conf.get(BytesPerTaskKey, "4m")))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val ideal = (bytes + perTask - 1) / perTask
    ideal.min(BigInt(cap)).max(BigInt(1)).toInt
  }
}
