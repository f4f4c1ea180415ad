package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{AdaptiveWidth, Checkpoints, GraphIO, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark run in one JVM: set-up, a cold pass over the workload's
  * ops, one output pass, then a fixed number of warm passes. Ops are the
  * program's own gate functions (`SparkEntry.queries`), called one after
  * another by one client on one session. Writes `result.json`, the
  * output pass's parquet outputs and their oracle SQL into `--out`.
  *
  * Usage: Harness --workload W --data DIR --out DIR --trace 0|1 */
object Harness {

  /** A workload op: its metric name, the gate it calls and the layer it
    * belongs to. Stages owned by no operator, pipeline or streaming frame
    * count there: the ones the op's sink runs (the gate's frame is lazy,
    * so its last stages run inside the sink's write), the ones of its
    * gate glue and input reads, and the ones whose call stacks show no
    * program frame, such as adaptive execution submits from its own
    * threads. */
  final case class Op(metric: String, gate: String, layer: String)

  val Workloads: Map[String, Seq[Op]] = Map(
    "graph_kernels" -> Seq(
      Op("hits", "hits_base", "operators"),
      Op("kcore", "graph_kcore", "operators")),
    "curate_stream" -> Seq(
      Op("curate", "pipeline_curate", "pipelines"),
      Op("bm25", "search_bm25", "pipelines"),
      Op("restart_sessionize", "stream_restart_sessionize", "streaming")))

  /** The program's input load for a workload, as the gates call it. */
  private def load(workload: String, s: SparkSession, dir: String): Unit =
    workload match {
      case "graph_kernels" => GraphIO.orderGraph(s, dir)
      case _ =>
        GraphIO.documents(s, dir)
        GraphIO.events(s, dir)
    }

  /** Set-ups per run; `setup_s` is their median. The first one in a fresh
    * JVM costs far more than the rest, so there are enough of them for the
    * median to sit among the others rather than be the slowest of them. */
  val Setups = 5

  /** Noop-sink warm passes of an untraced run; `warm_s` and `warm_cpu_s`
    * are medians over them. A fixed count, so that they are the same
    * statistic whatever the program's speed. Two, so that a run with its
    * cold pass and its output pass stays under a minute; over ten runs a
    * third pass did not narrow the spread of the warm figures. */
  val WarmPasses = 2

  /** Task slots: at most 2. At the benchmark's scale the kernel loop and
    * the drain run one task per stage, so more slots would sit idle, and
    * the driver thread, the JIT compiler and the GC keep the other cores
    * of a 4-core host instead of queueing behind task threads. */
  val MaxThreads = 2

  /** Session settings of the program's own bench main (`graft.Bench`). */
  private def session(threads: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", localDir)
      .getOrCreate()

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  private def gcTotals(): (Double, Double) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum / 1000.0,
      beans.map(_.getCollectionCount).sum.toDouble)
  }
  private def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  /** Untimed: what a pass left on the heap. Forced full GCs until the
    * heap stops shrinking: each one hands cleared references to the
    * ContextCleaner, whose asynchronous block and shuffle removal the
    * next one reclaims. */
  private def retainedHeapMb(): Double = {
    System.gc()
    var heap = heapMb()
    var shrinking = true
    var rounds = 1
    while (shrinking && rounds < 6) {
      Thread.sleep(250)
      System.gc()
      val h = heapMb()
      shrinking = heap - h > 1.0
      heap = h
      rounds += 1
    }
    heap
  }
  /** CPU seconds of every thread of this JVM so far: task threads, the
    * driver thread, JIT compiler and GC. A hypervisor that hands the
    * cores to other guests for a while stretches a pass's wall, not
    * this. */
  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9
  private def loadavg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  private def dirBytes(p: java.io.File): Long =
    if (!p.exists) 0L
    else if (p.isFile) p.length
    else Option(p.listFiles).toSeq.flatten.map(dirBytes).sum

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val workload = a("workload")
    val data = a("data")
    val out = a("out")
    val traced = a("trace") == "1"
    val threads = math.min(MaxThreads, Runtime.getRuntime.availableProcessors)
    val ops = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val localDir = Paths.get("spark-local").toAbsolutePath.toString
    val loadStart = loadavg()

    // ---- set-up: session start + the program's input load, Setups times ----
    var spark: SparkSession = null
    val setupTimes = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = now()
      spark = session(threads, localDir)
      load(workload, spark, data)
      val t = secs(t0, now())
      if (i == 1) spark.sparkContext.setLogLevel("ERROR")
      t
    }
    val s = spark
    val trace = if (traced) Some(new Trace(s)) else None

    // ---- per-layer state of the traced run ----
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def graph = GraphIO.orderGraph(s, data)
    val isGraph = workload == "graph_kernels"
    if (traced) {
      layer("width.loop_cold") =
        if (isGraph) AdaptiveWidth.of(graph.edges).toDouble
        else AdaptiveWidth.of(GraphIO.events(s, data)).toDouble
    }

    var attempted = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    /** One op span: the gate call, its sink and its checkpoint release;
      * wall in seconds, bounds in epoch ms (the stage clock). */
    final case class Span(op: Op, wall: Double, startMs: Long, endMs: Long,
        streamBytes: Long)
    def runOp(op: Op, sinkPath: Option[String]): Span = {
      attempted += 1
      s.sparkContext.setJobDescription(s"perfbench ${op.metric}")
      val m0 = System.currentTimeMillis()
      val t0 = now()
      var df: DataFrame = null
      try {
        df = SparkEntry.queries(op.gate)(s, data)
        sinkPath match {
          case None => df.write.format("noop").mode("overwrite").save()
          case Some(p) => df.write.mode("overwrite").parquet(p)
        }
      } catch { case e: Throwable =>
        failures += s"${op.gate}: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] ${op.gate} failed: $e")
      } finally {
        if (df != null) Checkpoints.releaseAll(df)
        s.sparkContext.setJobDescription(null)
      }
      val t1 = now()
      val m1 = System.currentTimeMillis()
      val streamBytes =
        if (traced && op.gate.startsWith("stream_"))
          dirBytes(new java.io.File("target/graft-restart"))
        else 0L
      Span(op, secs(t0, t1), m0, m1, streamBytes)
    }

    final case class Pass(wall: Double, cpu: Double, spans: Seq[Span],
        perLayer: Map[String, Double], heap: Double)

    val eventsBytes = dirBytes(new java.io.File(s"$data/events.parquet"))

    def pass(sinkDir: Option[String], instrumented: Boolean,
        measureHeap: Boolean = true): Pass = {
      trace.foreach(t => if (instrumented) t.attach() else t.detach())
      trace.foreach(_.take())
      val rules0 =
        if (instrumented) Trace.graftRuleMeter()
        else Map.empty[String, (Long, Long, Long)]
      val (gc0, gcn0) = gcTotals()
      val pl = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      val tasks = scala.collection.mutable.ArrayBuffer.empty[Double]
      val cpu0 = processCpuS()
      val t0 = now()
      val spans = ops.map { op =>
        val sp = runOp(op, sinkDir.map(d => s"$d/${op.gate}"))
        if (instrumented) trace.foreach { t =>
          val ev = t.take()
          val (self, ckpt) = Trace.selfTimes(ev.stages, sp.startMs, sp.endMs,
            st => t.owner(st) match {
              case (l @ ("operators" | "pipelines" | "streaming"), c) => (l, c)
              case (_, c) => (op.layer, c)
            })
          self.foreach { case (k, v) =>
            pl(if (k == "driver_gap") "spark.driver_gap_s" else s"self.${k}_s") += v
          }
          pl("ckpt.stage_s") += ckpt
          pl("trace.span_s") += (sp.endMs - sp.startMs) / 1000.0
          pl("spark.jobs") += ev.jobs
          pl("spark.stages") += ev.stages.size
          pl("spark.tasks") += ev.stages.map(_.numTasks).sum
          tasks ++= ev.stages.map(_.numTasks.toDouble)
          val tm = ev.stages.map(_.taskMetrics).filter(_ != null)
          pl("spark.exec_run_s") += tm.map(_.executorRunTime).sum / 1000.0
          pl("spark.exec_cpu_s") += tm.map(_.executorCpuTime).sum / 1e9
          pl("spark.shuffle_read_mb") +=
            tm.map(_.shuffleReadMetrics.totalBytesRead).sum / 1048576.0
          pl("spark.shuffle_write_mb") +=
            tm.map(_.shuffleWriteMetrics.bytesWritten).sum / 1048576.0
          pl("spark.spill_mb") += tm.map(m =>
            m.memoryBytesSpilled + m.diskBytesSpilled).sum / 1048576.0
          val ckptIds = Trace.checkpointRddIds(ev.stages)
          val written = ev.rddBlocks.filter(b => ckptIds(b._1))
          pl("ckpt.blocks_written") += written.size
          pl("ckpt.mb_written") += written.map(_._2).sum / 1048576.0
          pl("plans.planning_ms") += ev.planningMs.sum
          Trace.streamStats(ev.progress, ev.queriesStarted).foreach {
            case (k, v) =>
              if (k == "stream.state_instances") pl(k) = math.max(pl(k), v)
              else pl(k) += v
          }
          if (sp.streamBytes > 0 && eventsBytes > 0)
            pl("stream.bytes_written_per_input_byte") +=
              sp.streamBytes.toDouble / eventsBytes
        }
        sp
      }
      val wall = secs(t0, now())
      val cpu = processCpuS() - cpu0
      val (gc1, gcn1) = gcTotals()
      if (instrumented) {
        pl("jvm.gc_s") = gc1 - gc0
        pl("jvm.gc_count") = gcn1 - gcn0
        pl("width.tasks_per_stage_p50") = median(tasks.toSeq)
        val rules1 = Trace.graftRuleMeter()
        val d = rules1.map { case (k, (ns, runs, eff)) =>
          val (ns0, runs0, eff0) = rules0.getOrElse(k, (0L, 0L, 0L))
          (ns - ns0, runs - runs0, eff - eff0)
        }
        pl("plans.graft_rule_ms") = d.map(_._1).sum / 1e6
        val runs = d.map(_._2).sum
        pl("plans.graft_rule_effective") =
          if (runs == 0) 0.0 else d.map(_._3).sum.toDouble / runs
      }
      val heap = if (measureHeap) retainedHeapMb() else 0.0
      if (instrumented) {
        trace.foreach(_.take())
        pl("ckpt.blocks_left") = Trace.blocksLeftOfCheckpoints(s)
      }
      Pass(wall, cpu, spans, pl.toMap, heap)
    }

    // ---- cold pass (nothing materialized beforehand) ----
    val cold = pass(None, instrumented = traced, measureHeap = false)

    if (traced && isGraph) {
      layer("width.loop_warm") = AdaptiveWidth.of(graph.edges).toDouble
      layer("graphio.cached_mb") = (graph.edges.queryExecution.optimizedPlan
        .stats.sizeInBytes + graph.nodes.queryExecution.optimizedPlan.stats
        .sizeInBytes).toDouble / 1048576.0
    } else if (traced) {
      layer("width.loop_warm") = AdaptiveWidth.of(GraphIO.events(s, data)).toDouble
      layer("graphio.cached_mb") = 0.0
    }

    // ---- output pass: parquet sink, for the output check; in no metric.
    // It is also the warm-up: the first pass after the cold one still runs
    // markedly slower than the later ones while the JIT compiles, so no
    // warm figure includes it ----
    pass(Some(s"$out/outputs"), instrumented = false, measureHeap = false)

    // ---- warm passes: noop sink. An untraced run makes WarmPasses of
    // them. A traced run makes four: bare, instrumented, instrumented,
    // bare, so that a steady drift over them cancels out of
    // trace_overhead. ----
    val order =
      if (traced) Seq(false, true, true, false)
      else Seq.fill(WarmPasses)(false)
    val warm = order.map(instrumented => (pass(None, instrumented), instrumented))
    val loadEnd = loadavg()

    // graph build cost: a traced graph run materializes the persisted
    // graph once more from scratch, after everything else was measured
    if (traced && isGraph) {
      GraphIO.evictAll(s)
      val t0 = now()
      val g = graph
      g.edges.count()
      g.nodes.count()
      layer("graphio.build_s") = secs(t0, now())
    } else if (traced) layer("graphio.build_s") = 0.0

    val oracles = ops.map(op => op.gate -> SparkEntry.oracleSql(op.gate))
    s.stop()

    // ---- result ----
    val warmWalls = warm.map(_._1.wall)
    val warmCpus = warm.map(_._1.cpu)
    def opMedian(passes: Seq[Pass], op: Op): Double =
      median(passes.flatMap(_.spans.filter(_.op == op).map(_.wall)))
    val opWarm = ops.map(op => op.metric -> opMedian(warm.map(_._1), op))
    if (traced) {
      val inst = warm.filter(_._2).map(_._1)
      val bare = warm.filterNot(_._2).map(_._1)
      val keys = inst.flatMap(_.perLayer.keys).distinct
      keys.foreach(k => layer(k) = median(inst.map(_.perLayer.getOrElse(k, 0.0))))
      opWarm.foreach { case (m, v) => layer(s"op.$m.s") = v }
      layer("trace_overhead") =
        median(inst.map(_.wall)) / median(bare.map(_.wall))
    }
    val result = Map(
      "workload" -> workload,
      "setup_s" -> median(setupTimes),
      "setup_each_s" -> setupTimes,
      "cold_s" -> cold.wall,
      "cold_cpu_s" -> cold.cpu,
      "warm_s" -> median(warmWalls),
      "warm_each_s" -> warmWalls,
      "warm_cpu_s" -> median(warmCpus),
      "warm_cpu_each_s" -> warmCpus,
      "retained_heap_mb" -> warm.map(_._1.heap).max,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "cold_op_s" -> ops.map(op => op.metric ->
        cold.spans.find(_.op == op).map(_.wall).getOrElse(0.0)).toMap,
      "warm_op_s" -> opWarm.toMap,
      "per_layer" -> layer.toMap,
      "oracle_sql" -> oracles.toMap,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "threads" -> threads,
        "shuffle_partitions" -> threads,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark" -> org.apache.spark.SPARK_VERSION,
        "jdk" -> System.getProperty("java.runtime.version"),
        "loadavg_start" -> loadStart,
        "loadavg_end" -> loadEnd))
    Files.writeString(Paths.get(s"$out/result.json"),
      Serialization.write(result)(DefaultFormats))
  }
}
