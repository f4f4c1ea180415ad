package graft

import graft.streaming.{Drain, EventPipelines, Restart, Tws}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** [[Drain]] runs every streaming query on a session of its own, so a
  * drain leaves the caller's conf exactly as it found it, and two
  * threads can drain off one session at different widths. */
class DrainSpec extends SparkSuite {

  private val S = 1000000000L // seconds → nanos
  private val T0 = 1600000000L * S
  private val Width = "spark.sql.shuffle.partitions"

  /** Four click events: user 1 at +0 and +1000 s, user 2 at +2600 s and
    * +5000 s (the last pushes the watermark past both users' first
    * sessions). */
  private def events: DataFrame = {
    import spark.implicits._
    Seq((1L, 1L, T0, "click", 1.25), (2L, 1L, T0 + 1000L * S, "click", 2.50),
      (3L, 2L, T0 + 2600L * S, "click", 4.00),
      (4L, 2L, T0 + 5000L * S, "click", 8.00))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
  }

  private def eventsDir(): String = {
    val dir = Files.createTempDirectory("graft-drain").toString
    events.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def stream(ds: SparkSession, dir: String): DataFrame =
    ds.readStream.schema(ds.read.parquet(dir).schema).parquet(dir)

  /** `body`'s result, asserting the caller's conf did not change. */
  private def confUnchanged[T](body: => T): T = {
    val before = spark.conf.getAll
    val out = body
    assert(spark.conf.getAll == before)
    out
  }

  test("a memory drain leaves the caller's conf unchanged, and the " +
      "caller's streaming listeners see its query") {
    val dir = eventsDir()
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val counts = try confUnchanged(
      Drain(spark, spark.read.parquet(dir), "complete") { ds =>
        stream(ds, dir).groupBy(col("user_id")).count()
      }) finally spark.streams.removeListener(listener)
    assert(counts.sparkSession eq spark)
    assert(counts.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (2L, 2L)))
    assert(started.get() == 1)
  }

  test("a transformWithState drain gets the RocksDB state store on its " +
      "own session; the caller's conf is unchanged") {
    val dir = eventsDir()
    val sessions = confUnchanged(
      Drain(spark, spark.read.parquet(dir), "append") { ds =>
        Tws.sessionizeStreamTws(ds, stream(ds, dir),
          watermarkDelay = "0 seconds").toDF()
      }).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // user 2's +5000 s event closes its +2600 s session (gap 2400 s >
    // 1800 s) and moves the watermark past user 1's +2800 s deadline,
    // so the timer flushes user 1; user 2's last session stays open
    assert(sessions.toSet == Set((1L, 2L, 1000L * S), (2L, 1L, 0L)))
  }

  test("twoPhaseDrain's betweenPhases flips the drain session, not the " +
      "caller's") {
    var flipped: SparkSession = null
    val totals = confUnchanged(Restart.twoPhaseDrain(spark, events,
      "spec-drain-flip", "spec",
      src => EventPipelines.runningTotalsStream(spark, src).toDF(),
      slicesPerPhase = 1,
      betweenPhases = { ds => flipped = ds; ds.conf.set(Width, "7") }))
    assert(flipped != null && (flipped ne spark))
    assert(flipped.conf.get(Width) == "7")
    assert(totals.collect().map(r => (r.getLong(1), r.getLong(2))).toMap ==
      Map(1L -> 125L, 2L -> 375L, 3L -> 400L, 4L -> 1200L))
  }

  test("two drains of different widths, started from two threads on one " +
      "session, both return their rows at their own width") {
    val dir = eventsDir()
    // range stats are exact before any job: 8 bytes a row, so 10 rows
    // derive width 1 and 100M rows the session's cap of 4
    val sizes = Seq(spark.range(10).toDF(), spark.range(100000000L).toDF())
    val both = new CyclicBarrier(2)
    val widths = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = sizes.zipWithIndex.map { case (sizedBy, i) =>
        Future(Drain(spark, sizedBy, "complete") { ds =>
          widths.put(i, ds.conf.get(Width))
          both.await(60, TimeUnit.SECONDS) // both drains are in flight
          stream(ds, dir).groupBy(col("user_id"))
            .agg(sum(col("event_id")).as("ids"))
        }.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      }
      runs.foreach(r => assert(Await.result(r, 120.seconds) ==
        Set((1L, 3L), (2L, 7L))))
    } finally pool.shutdown()
    assert(widths.get(0) == "1" && widths.get(1) == "4", widths)
    assert(spark.conf.get(Width) == "4")
  }
}
