package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.CheckpointShim
import org.apache.spark.storage.StorageLevel

/** Deterministic lifecycle for per-iteration plan checkpoints.
  *
  * Every iterative operator on [[Fixpoint]]'s one loop (the kernels;
  * components, label propagation and the peels) truncates its growing
  * logical plan by checkpointing the fresh vector or edge set each
  * iteration. Spark frees a checkpoint's storage blocks only
  * when the ContextCleaner notices the dead RDD reference — which
  * requires a driver GC to run first. Over a long multi-query run
  * (exactly what a 100 TB pipeline is) the superseded MEMORY_AND_DISK
  * blocks accumulate between GCs and heap health becomes a GC-timing
  * lottery; round 4's scoring harness died of it. The fix is
  * structural, not JVM flags: the loop tracks every checkpoint a round
  * makes and [[release]]s the previous generation's blocks as soon as
  * the next one is materialized, so the live block set per operator
  * stays two generations regardless of run length.
  *
  * [[materialize]] also carries the fault-tolerance knob for real
  * clusters: `localCheckpoint` stores blocks on the executors and is NOT
  * executor-loss-safe — on a 1000-executor cluster one lost executor
  * kills a 16-iteration run. Setting `spark.graft.checkpoint.reliable=
  * true` (with `spark.graft.checkpoint.dir` pointing at shared storage,
  * e.g. HDFS) switches every kernel loop to reliable `checkpoint`, which
  * survives executor loss at the cost of writing each iteration's
  * |V|-sized vector to the checkpoint dir (and recomputing it once for
  * the write — the standard reliable-checkpoint trade).
  *
  * A materializing call can also TALLY its frame ([[Tallied]]):
  * aggregate columns over the checkpointed rows, computed by the
  * checkpoint's own job. The iterative operators read each generation's
  * scalar this way (the kernels' norms, the peels' drop and edge counts,
  * the components' checksums), so that scalar costs no job of its own.
  */
object Checkpoints {

  /** Conf key: "true" switches kernel loops to reliable checkpoints. */
  val ReliableKey = "spark.graft.checkpoint.reliable"
  /** Conf key: checkpoint directory for the reliable mode (shared
    * storage on a real cluster). */
  val DirKey = "spark.graft.checkpoint.dir"

  /** A materialized frame and its tally: the values of the aggregate
    * columns asked for, over the frame's rows, in the order asked. */
  final case class Tallied(df: DataFrame, tally: Row)

  /** Eagerly materialize `df` with truncated lineage: `localCheckpoint`
    * by default, reliable `checkpoint` when [[ReliableKey]] is set. */
  def materialize(df: DataFrame): DataFrame =
    materialize(df, eager = true)

  /** [[materialize]], also returning the values of the aggregate columns
    * `tally` (declarative aggregates: `sum`, `count`, `max`, ...) over
    * the materialized rows. A local checkpoint computes them in its own
    * materializing job, folding each partition's rows as the job stores
    * them and merging the partitions in index order: no second job, and
    * the values are deterministic (bit-equal to a separate `agg` over
    * the checkpoint at one partition). A reliable checkpoint writes its
    * files first and then runs `tally` as a separate aggregate over
    * them. An empty frame tallies to the aggregates' empty values
    * (`count` 0, `sum` and `max` NULL). */
  def materialize(df: DataFrame, tally: Seq[Column]): Tallied =
    if (reliable(df.sparkSession)) {
      val ck = materialize(df, eager = true)
      Tallied(ck, if (tally.isEmpty) Row.empty
        else ck.agg(tally.head, tally.tail: _*).head())
    } else {
      val ck = df.localCheckpoint(eager = false)
      Tallied(ck, CheckpointShim.materialize(ck, tally))
    }

  /** [[materialize]] with the caller choosing the materializing action:
    * `eager = false` returns the lazily-checkpointed frame, and the
    * caller MUST immediately run a FULL-SCAN action on it (a global
    * aggregate — never `limit`/`head`, which compute only some
    * partitions). That action computes every partition and thereby
    * persists the checkpoint. Where the action is an aggregate over the
    * checkpoint alone, a tally ([[materialize]]) is one job fewer. */
  def materialize(df: DataFrame, eager: Boolean): DataFrame =
    if (reliable(df.sparkSession)) {
      useCheckpointDir(df.sparkSession)
      df.checkpoint(eager = eager)
    } else df.localCheckpoint(eager = eager)

  private def reliable(spark: SparkSession): Boolean =
    spark.conf.get(ReliableKey, "false").toBoolean

  /** Points the context's reliable checkpoints at [[DirKey]]'s directory
    * (Spark writes them to a fresh subdirectory of it), also when an
    * earlier checkpoint used another one; without the key, at a default
    * directory unless the context already has one. */
  private def useCheckpointDir(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    spark.conf.getOption(DirKey) match {
      case Some(dir) =>
        val p = new org.apache.hadoop.fs.Path(dir)
        val q = p.getFileSystem(sc.hadoopConfiguration).makeQualified(p)
        if (!sc.getCheckpointDir.exists(
            c => new org.apache.hadoop.fs.Path(c).getParent == q))
          sc.setCheckpointDir(dir)
      case None => if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(sys.props("java.io.tmpdir") + "/graft-checkpoints")
    }
  }

  /** [[materialize]] for KERNEL-SHAPED loops — a |V|-sized keyed vector
    * that the next iteration immediately re-joins on its hash key
    * against a co-clustered cached side. Stock `localCheckpoint` drops
    * the hash partitioning under AQE (`AdaptiveSparkPlanExec` reports
    * `UnknownPartitioning`), which cost every such loop one |V|-sized
    * Exchange per iteration; this path preserves it — and plans the
    * checkpointed query with AQE partition coalescing off, so there IS
    * a hash layout to preserve (guide §2.4). A keyed loop's session has
    * coalescing off already ([[Fixpoint]]); for a frame on any other
    * session the query is planned on a scoped sibling session, and no
    * session's conf is changed (see
    * [[org.apache.spark.sql.graftshim.CheckpointShim]]). A checkpoint of
    * ONE partition claims a width-1 hash layout on every column, so a
    * width-1 kernel loop reads its edge checkpoint clustered on `dst` and
    * on `src` at once, and joins its node and vector checkpoints on any
    * key, without an exchange ([[Fixpoint]]).
    *
    * NOT the default: for checkpoints whose consumers re-key anyway
    * (the structural peels re-aggregate degrees from scratch and
    * semi-join on alternating keys; the wedge pipelines union both
    * endpoint orientations), the preserved partitioning buys nothing
    * while the coalesce-off runs every tiny late-round stage at full
    * `shuffle.partitions` width — measured 4× slower on the k-truss
    * peel at sf0.1, which is why the structural round loop keeps
    * coalescing on. Keyed checkpoints are for vectors consumed BY KEY.
    * Falls back to [[materialize]] under the reliable-checkpoint conf
    * (cluster fault-tolerance mode — partitioning preservation is an
    * optimization, not a contract). */
  def materializeKeyed(df: DataFrame): DataFrame = materializeKeyed(df, Nil).df

  /** [[materializeKeyed]] with a tally, as [[materialize]]'s. */
  def materializeKeyed(df: DataFrame, tally: Seq[Column]): Tallied =
    if (reliable(df.sparkSession)) materialize(df, tally)
    else {
      val (ck, values) = CheckpointShim.localCheckpoint(df, tally)
      Tallied(ck, values)
    }

  /** Eagerly release the storage behind a [[materialize]]d (or
    * `localCheckpoint`ed) DataFrame. Callers guarantee the plan is never
    * consumed again — its lineage is truncated, so the data is
    * unrecoverable after this. Local checkpoints free their storage
    * blocks; reliable checkpoints also delete their files (the
    * ContextCleaner's `cleanCheckpoints` path is GC-timing-dependent and
    * off by default — the same lottery this object exists to end, on the
    * storage axis). No-op for non-checkpoint plans. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => releaseRdd(df.sparkSession, lr.rdd)
      case _ => ()
    }

  /** [[release]] for a CONSUMED query result whose checkpoints sit below
    * other operators (sort, project, join…): walks the analyzed plan and
    * releases every checkpoint leaf. A long multi-query run (bench,
    * verify, a 100 TB pipeline driver) calls this after each query's
    * sink completes, so final per-query score vectors don't accumulate
    * as dead blocks between driver GCs. A checkpoint the plan reads more
    * than once (a self-union) is released once. */
  def releaseAll(df: DataFrame): Unit =
    leaves(df).distinctBy(_.id).foreach(releaseRdd(df.sparkSession, _))

  /** Whether `result` reads the checkpoint `df` (false when `df` is not a
    * checkpoint). */
  private[graft] def reads(result: DataFrame)(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => leaves(result).exists(_.id == lr.rdd.id)
      case _ => false
    }

  private def leaves(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Idempotent: an RDD already at `StorageLevel.NONE` is not unpersisted
    * again, so a second release sends no second asynchronous `RemoveRdd`
    * racing the first for the same blocks. */
  private def releaseRdd(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    if (rdd.getStorageLevel != StorageLevel.NONE) rdd.unpersist(blocking = false)
    rdd.getCheckpointFile.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try fs.delete(p, true)
      catch { case _: java.io.IOException => () } // best-effort reclaim
    }
  }
}
