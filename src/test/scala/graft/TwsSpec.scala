package graft

import graft.streaming.{Drain, EventPipelines, Tws}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The transformWithState sessionizer: same semantics as the
  * flatMapGroupsWithState twin — boundary strictness, cross-batch
  * state carry, timer-driven idle flush — on the RocksDB state store
  * (the only provider the operator supports). */
class TwsSpec extends SparkSuite {

  private val MsNs = 1000000L

  /** The TWS sessionizer drained over the parquet files in `dir`; the
    * drain sets the RocksDB state store itself. */
  private def drain(dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    Drain(spark, spark.read.parquet(dir), "append") { ds =>
      val base = ds.readStream.schema(ds.read.parquet(dir).schema)
      Tws.sessionizeStreamTws(ds, maxFilesPerTrigger
          .fold(base)(n => base.option("maxFilesPerTrigger", n))
          .parquet(dir), watermarkDelay = "0 seconds").toDF()
    }

  test("boundary: deadline == watermark does NOT flush (strict <), " +
    "deadline < watermark does — same invariant as the fMGWS twin") {
    import spark.implicits._
    val gapMs = 30L * 60 * 1000
    val b = 1700000000000L // ms, ms-aligned
    val T = b + 10 * gapMs
    val rows = Seq(
      (9L, T * MsNs, 90L), // watermark holder: deadline > wm, open
      (1L, (T - gapMs) * MsNs, 10L), // deadline == wm exactly -> open
      (2L, (T - gapMs - 1) * MsNs, 20L)) // deadline < wm -> flush
    val dir = Files.createTempDirectory("graft-tws-bnd").toFile
    dir.deleteOnExit()
    rows.toDF("user_id", "ts", "event_id")
      .coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
    val flushed = drain(dir.getAbsolutePath).select("user_id")
      .collect().map(_.getLong(0)).toSet
    assert(flushed == Set(2L),
      s"expected only user 2 flushed, got $flushed")
  }

  test("multi-batch admission: state carries across batches, timers " +
    "flush idle users on watermark advance; equals the fMGWS twin") {
    import spark.implicits._
    val m = 60L * 1000L * MsNs // one minute in ns
    val b = 1700000000L * 1000000000L
    // batch 1 (early file): user 1 events at 0,1 min; user 2 at 0 min
    val f1 = Seq((1L, b, 10L), (1L, b + m, 11L), (2L, b, 20L))
    // batch 2 (late file): user 1 extends at 2 min (crosses the batch
    // boundary -> must merge via restored state); user 3 at 120 min
    // pushes the watermark far past users 1/2's deadlines
    val f2 = Seq((1L, b + 2 * m, 12L), (3L, b + 120 * m, 30L))
    val dir = Files.createTempDirectory("graft-tws-mb").toFile
    dir.deleteOnExit()
    val p = dir.getAbsolutePath
    def parts(): Set[java.io.File] =
      Option(new java.io.File(p).listFiles()).get.toSeq
        .filter(f => f.isFile && f.getName.startsWith("part-")).toSet
    // FileStreamSource admits oldest-mtime first, so write order must
    // be pinned by EXPLICIT per-write-group mtimes. (The r15 version
    // fed both writes' files to orderPartFileMtimes, which sorts by
    // NAME — but each coalesce(1) write emits part-00000-<uuid>, so
    // cross-write name order is uuid-random: ~1 in 2 runs admitted f2
    // first, its 120-min event advanced the watermark, f1's rows were
    // dropped as late, and the test failed. That was the full-suite
    // flake; name order is only meaningful WITHIN one write job.)
    f1.toDF("user_id", "ts", "event_id")
      .coalesce(1).write.mode("overwrite").parquet(p)
    val f1Parts = parts()
    f2.toDF("user_id", "ts", "event_id")
      .coalesce(1).write.mode("append").parquet(p)
    val f2Parts = parts() -- f1Parts
    val t0 = System.currentTimeMillis() - 600000
    f1Parts.foreach(f => require(f.setLastModified(t0)))
    f2Parts.foreach(f => require(f.setLastModified(t0 + 2000)))

    val got = drain(p, maxFilesPerTrigger = Some(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // user 1: ONE 3-event session (0..2 min) — state merged across
    // batches; user 2: idle 1-event session flushed by the timer;
    // user 3 holds the watermark, stays open
    assert(got == Set((1L, 3L, 2 * m), (2L, 1L, 0L)), got.toString)

    // the fMGWS twin over the identical admission emits the same rows
    val schema = spark.read.parquet(p).schema
    spark.catalog.dropTempView("graft_tws_mb_fmgws")
    val q = EventPipelines.sessionizeStream(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(p), watermarkDelay = "0 seconds")
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("graft_tws_mb_fmgws")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val fm = spark.sql("SELECT * FROM graft_tws_mb_fmgws").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fm == got, s"fMGWS $fm != TWS $got")
  }

  test("flake repro (r15): admitting the late file FIRST drops the " +
    "early file's rows as late — the exact failure the uuid-random " +
    "cross-write name order produced ~1 in 2 full-suite runs") {
    import spark.implicits._
    val m = 60L * 1000L * MsNs
    val b = 1700000000L * 1000000000L
    val f1 = Seq((1L, b, 10L), (1L, b + m, 11L), (2L, b, 20L))
    val f2 = Seq((1L, b + 2 * m, 12L), (3L, b + 120 * m, 30L))
    val dir = Files.createTempDirectory("graft-tws-repro").toFile
    dir.deleteOnExit()
    val p = dir.getAbsolutePath
    def parts(): Set[java.io.File] =
      Option(new java.io.File(p).listFiles()).get.toSeq
        .filter(f => f.isFile && f.getName.startsWith("part-")).toSet
    f1.toDF("user_id", "ts", "event_id")
      .coalesce(1).write.mode("overwrite").parquet(p)
    val f1Parts = parts()
    f2.toDF("user_id", "ts", "event_id")
      .coalesce(1).write.mode("append").parquet(p)
    val f2Parts = parts() -- f1Parts
    // REVERSED mtimes: f2 (late events) admitted before f1
    val t0 = System.currentTimeMillis() - 600000
    f2Parts.foreach(f => require(f.setLastModified(t0)))
    f1Parts.foreach(f => require(f.setLastModified(t0 + 2000)))
    val got = drain(p, maxFilesPerTrigger = Some(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // f2's 120-min event advances the watermark before f1 is read, so
    // every f1 row is late-dropped: user 2 never appears and user 1's
    // 3-event merged session is impossible
    assert(!got.exists(_._1 == 2L), s"user 2 should be late-dropped: $got")
    assert(!got.contains((1L, 3L, 2 * m)),
      s"merged session impossible under reversed admission: $got")
  }
}
