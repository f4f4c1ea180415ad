package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted,
  StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** What the listeners saw between two [[Trace.take]] calls. */
final case class Events(
    stages: Seq[StageInfo],
    jobs: Int,
    rddBlocks: Seq[(Int, Long)], // (rdd id, stored bytes) of each block write
    planningMs: Seq[Long],
    progress: Seq[StreamingQueryProgress],
    queriesStarted: Seq[java.util.UUID])

/** The traced run's instruments, all attached from outside the program:
  * a `SparkListener` (stages, jobs, block writes), a
  * `QueryExecutionListener` (planning phases of every executed action)
  * and a `StreamingQueryListener` (micro-batch progress). They can be
  * detached, so one run can time passes with and without them. */
final class Trace(spark: SparkSession) {
  private val stages = new ConcurrentLinkedQueue[StageInfo]()
  private val jobs = new AtomicInteger()
  private val blocks = new ConcurrentLinkedQueue[(Int, Long)]()
  private val planning = new ConcurrentLinkedQueue[java.lang.Long]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val started = new ConcurrentLinkedQueue[java.util.UUID]()
  // SQL execution id -> (call stack, root execution id), and stage id ->
  // SQL execution id: stages that adaptive execution submits from its
  // own threads carry no program frames, their execution's start does
  private val execs = new ConcurrentHashMap[Long, (String, Long)]()
  private val stageExec = new ConcurrentHashMap[Int, Long]()
  private var attached = false

  private val sparkListener = new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => e.stageIds.foreach(stageExec.put(_, id.toLong)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        execs.put(x.executionId,
          (x.details, x.rootExecutionId.getOrElse(x.executionId)))
      case _ => ()
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case RDDBlockId(rddId, _) if info.storageLevel.isValid =>
          blocks.add((rddId, info.memSize + info.diskSize))
        case _ => ()
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planning.add(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = started.add(e.id)
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** (owning layer, driven by a checkpoint) of a stage, read from the
    * call stack (innermost program frame first) of the stage, else of
    * its SQL execution, else of that execution's root. The owner is the
    * innermost operator, pipeline or streaming frame: `Checkpoints`,
    * `Fixpoint` and `AdaptiveWidth` frames pass the stage on to the
    * operator that called them. "other" when no such frame exists. */
  def owner(stage: StageInfo): (String, Boolean) = {
    def layers(details: String) = details.split("\n").toSeq.flatMap(Trace.layerOf)
    val exec = Option(stageExec.get(stage.stageId)).flatMap(id => Option(execs.get(id)))
    val root = exec.flatMap(e => Option(execs.get(e._2)))
    val ls = (Seq(stage.details) ++ exec.map(_._1) ++ root.map(_._1))
      .map(layers).find(_.nonEmpty).getOrElse(Nil)
    val own = ls.find(l => l != "checkpoints" && l != "loop")
      .orElse(ls.headOption.map(_ => "operators")).getOrElse("other")
    (own, ls.contains("checkpoints"))
  }

  /** Everything delivered since the previous call, after the listener bus
    * has delivered every event posted so far. */
  def take(): Events = {
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
    def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toVector
    Events(drain(stages), jobs.getAndSet(0), drain(blocks),
      drain(planning).map(_.longValue), drain(progress), drain(started))
  }
}

object Trace {

  /** Layer of a call-stack frame, by the package of its class. */
  def layerOf(frame: String): Option[String] = {
    val cls = frame.takeWhile(_ != '(')
    if (cls.startsWith("graft.operators.")) Some("operators")
    else if (cls.startsWith("graft.pipelines.") ||
      cls.startsWith("graft.functions.")) Some("pipelines")
    else if (cls.startsWith("graft.streaming.")) Some("streaming")
    else if (cls.startsWith("graft.Checkpoints")) Some("checkpoints")
    else if (cls.startsWith("graft.Fixpoint") ||
      cls.startsWith("graft.AdaptiveWidth")) Some("loop")
    else if (cls.startsWith("graft.") || cls.startsWith("perfbench."))
      Some("other")
    else None
  }

  /** Splits the wall of the span [startMs, endMs] into the layers that
    * own the stages running at each instant (the latest-submitted stage
    * wins where stages overlap) and the time no stage covers
    * ("driver_gap"). The parts sum to the span wall. Also returns the
    * share covered by checkpoint-driven stages. */
  def selfTimes(stages: Seq[StageInfo], startMs: Long, endMs: Long,
      owner: StageInfo => (String, Boolean)): (Map[String, Double], Double) = {
    val iv = stages.flatMap { s =>
      for (a <- s.submissionTime; b <- s.completionTime
           if b > startMs && a < endMs)
      yield (math.max(a, startMs), math.min(b, endMs), owner(s))
    }
    val cuts = (iv.flatMap(i => Seq(i._1, i._2)) ++ Seq(startMs, endMs))
      .distinct.sorted
    val acc = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    var ckpt = 0.0
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val len = (b - a) / 1000.0
      val active = iv.filter(i => i._1 <= a && i._2 >= b)
      if (active.isEmpty) acc("driver_gap") += len
      else {
        val (layer, viaCkpt) = active.maxBy(_._1)._3
        acc(layer) += len
        if (viaCkpt) ckpt += len
      }
    }
    (acc.toMap, ckpt)
  }

  /** Per-rule totals of the session-extension rules, from Catalyst's
    * process-wide rule metering: name -> (ns, runs, effective runs). */
  def graftRuleMeter(): Map[String, (Long, Long, Long)] = {
    val Line = """^\s*(graft\.\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
      .split("\n").toSeq.collect {
        case Line(name, _, total, effRuns, runs) =>
          name -> ((total.toLong, runs.toLong, effRuns.toLong))
      }.toMap
  }

  /** Stream progress summary of one op. */
  def streamStats(p: Seq[StreamingQueryProgress],
      started: Seq[java.util.UUID]): Map[String, Double] = {
    def dur(x: StreamingQueryProgress, k: String): Double =
      Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val resumed = started.drop(1).headOption
      .flatMap(id => p.filter(_.id == id).sortBy(_.batchId).headOption)
    Map(
      "stream.batches" -> p.size.toDouble,
      "stream.state_commit_ms" ->
        p.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble)).sum,
      "stream.state_instances" -> (p.map(_.stateOperators
        .map(_.numStateStoreInstances.toDouble).sum) :+ 0.0).max,
      "stream.wal_commit_ms" ->
        p.map(x => dur(x, "walCommit") + dur(x, "commitOffsets")).sum,
      "stream.resume_first_batch_s" ->
        resumed.map(dur(_, "triggerExecution") / 1000.0).getOrElse(0.0))
  }

  def blocksLeftOfCheckpoints(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .filter(_.callSite.contains("Checkpoints.scala"))
      .map(_.numCachedPartitions.toDouble).sum

  def checkpointRddIds(stages: Seq[StageInfo]): Set[Int] =
    stages.flatMap(_.rddInfos)
      .filter(_.callSite.contains("Checkpoints.scala")).map(_.id).toSet
}
