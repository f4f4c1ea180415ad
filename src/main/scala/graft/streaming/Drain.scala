package graft.streaming

import graft.{AdaptiveWidth, GraphIO, Sessions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one way graft drains a stream: every streaming gate, the
  * `ingest_curate` verb and [[Restart.twoPhaseDrain]] run their
  * `AvailableNow` queries here.
  *
  * A drain runs on a session of its own ([[session]]): the caller's
  * runtime conf plus three drain settings, so the caller's session is
  * never mutated and two threads can drain off one session at once.
  *
  *  - Width. A stateful micro-batch commits one state-store instance
  *    (an HDFS-backed delta/snapshot, or a whole RocksDB instance) per
  *    shuffle partition, so a drain over a few MB spent its wall on 32
  *    near-empty store commits per batch (r20 event log: 2-stage/33-task
  *    jobs over ~0.35 MB of shuffle each). `spark.sql.shuffle.partitions`
  *    is [[AdaptiveWidth.of]] the batch corpus the stream reads, capped
  *    at the caller's value, so at 100 TB the cap wins. Results are
  *    width-independent: aggregation state is merge-commutative per key,
  *    and the per-key fold/session operators group by key before folding.
  *  - `nanosAsLong`. A TIMESTAMP(NANOS) events file reads as epoch-nanos
  *    BIGINT ([[GraphIO.eventsStream]]); the setting changes nothing
  *    else, and a stream must be analyzed on the session that runs it.
  *  - The RocksDB state store, exactly when the built plan holds a
  *    `transformWithState` ([[useStateStoreFor]]): Spark rejects the
  *    HDFS-backed default for that operator.
  *
  * A drain's build function must use the session it is given for
  * graft's temp functions (`call_function` resolves a name in the
  * frame's own session). The caller's streaming listeners are attached
  * to the drain session too, so they see its queries.
  */
object Drain {

  private val StateStoreKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** One query of a drain: its output mode (`append` or `complete`),
    * the streaming frame it builds on the drain session, and whether it
    * must run as ONE data micro-batch. A watermark advance between
    * batches would drop cross-batch pairs or keys, and a per-batch sort
    * is not a global one, so a gate whose batch oracle leans on one
    * batch asserts it: the parquet source admits every file at once
    * today (no maxFilesPerTrigger), and a source change fails loudly
    * instead of corrupting the gate. */
  final case class Leg(mode: String, build: SparkSession => DataFrame,
      singleBatch: Boolean = false)

  /** Drains one query into a memory sink; its rows, as a frame on
    * `spark`. `sizedBy` is the batch corpus the stream reads. */
  def apply(spark: SparkSession, sizedBy: DataFrame, mode: String,
      singleBatch: Boolean = false)(build: SparkSession => DataFrame)
      : DataFrame =
    concurrently(spark, sizedBy, Leg(mode, build, singleBatch)).head

  /** Drains `legs` on one drain session, all started before any is
    * awaited; each leg's rows, as a frame on `spark`. Post-drain work is
    * planned on the caller's session and conf, as if the rows had
    * never left it. */
  def concurrently(spark: SparkSession, sizedBy: DataFrame,
      legs: Leg*): Seq[DataFrame] = {
    val ds = session(spark, sizedBy)
    val frames = legs.map(_.build(ds))
    frames.foreach(useStateStoreFor(ds, _))
    val queries = frames.zip(legs).zipWithIndex.map { case ((df, leg), i) =>
      df.writeStream.outputMode(leg.mode).format("memory")
        .queryName(s"drain_$i").trigger(Trigger.AvailableNow()).start()
    }
    try queries.foreach(_.awaitTermination())
    finally queries.foreach(_.stop())
    legs.zip(queries).filter(_._1.singleBatch).foreach { case (_, q) =>
      requireSingleBatch(q) }
    queries.map { q =>
      val sink = ds.table(q.name)
      spark.createDataFrame(sink.collectAsList(), sink.schema)
    }
  }

  /** The session a drain over `sizedBy`'s corpus runs on. */
  private[streaming] def session(spark: SparkSession,
      sizedBy: DataFrame): SparkSession = {
    val ds = Sessions.scoped(spark,
      "spark.sql.shuffle.partitions" -> AdaptiveWidth.of(sizedBy).toString,
      GraphIO.NanosAsLongKey -> "true")
    spark.streams.listListeners().foreach(ds.streams.addListener)
    ds
  }

  /** Sets the RocksDB state store on the drain session `ds` when `df`
    * holds a `transformWithState`. Spark reads the provider when a query
    * starts (and a restarted query from its checkpoint). */
  private[streaming] def useStateStoreFor(ds: SparkSession,
      df: DataFrame): Unit =
    if (df.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState]))
      ds.conf.set(StateStoreKey, RocksDb)

  private def requireSingleBatch(q: StreamingQuery): Unit = {
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches == 1,
      s"expected ONE data micro-batch on the AvailableNow drain " +
        s"(cross-batch watermark eviction would corrupt the result); " +
        s"saw $dataBatches")
  }
}
