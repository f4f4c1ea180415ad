package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one session conf graft ships: every main and the test fixture
  * build their session here, so the tests run on the conf the mains
  * use. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else the host's core count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session (`SPARK_MASTER` overrides the master) with
    * one shuffle partition per core. */
  def local(cpus: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Deterministic events.ts NTZ→instant conversion (GraphIO.events)
      // regardless of host zone.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Superseded iteration checkpoints are released eagerly by the
      // kernels themselves ([[Checkpoints]]), so the periodic-GC drain is
      // belt-and-braces for anything else the ContextCleaner tracks, not
      // load-bearing heap hygiene.
      .config("spark.cleaner.periodicGC.interval", "5min")
      // Headroom so a transient stall (host hiccup, one long GC) degrades
      // one query's number instead of tripping the in-process executor's
      // heartbeat kill switch and taking the whole JVM down.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    // Both checkpoint paths localCheckpoint a `.map(_.copy())` RDD, and
    // unpersisting one logs a WARN that its lineage is truncated — one
    // benign line per release, half of a Verify log. Set after
    // getOrCreate: Spark installs its default log4j2 profile on first
    // use, which would reset an earlier level; a later setLogLevel only
    // moves the root logger.
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }

  /** A session of its own for code that needs a different conf: a
    * `newSession` (same SparkContext and cached data, its own conf, temp
    * views and temp functions) carrying every conf `parent` sets at
    * runtime, then `conf` on top. `parent` is never mutated, so two
    * threads can scope different values off one session. Entries the
    * new session already holds with the same value (those it inherits
    * from the SparkContext, static ones included) are left alone. */
  def scoped(parent: SparkSession, conf: (String, String)*): SparkSession = {
    val s = parent.newSession()
    (parent.conf.getAll.toSeq ++ conf).foreach { case (k, v) =>
      if (!s.conf.getOption(k).contains(v)) s.conf.set(k, v)
    }
    s
  }
}
