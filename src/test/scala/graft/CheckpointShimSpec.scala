package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  PartitioningCollection}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The partitioning-preserving localCheckpoint
  * ([[org.apache.spark.sql.graftshim.CheckpointShim]], behind
  * [[Checkpoints.materializeKeyed]] — the kernel loops' score-vector
  * checkpoints): same rows as stock
  * `localCheckpoint`, but the checkpointed frame keeps the executed
  * plan's hash partitioning, so the iterative kernels' per-iteration
  * score join no longer re-exchanges the |V|-sized vector (r19
  * optimization — guide §2.4). Every checkpoint can also tally its rows
  * in the job that materializes it; the tally specs pin that the values
  * are a separate aggregate's. */
class CheckpointShimSpec extends SparkSuite {

  private def np = spark.conf.get("spark.sql.shuffle.partitions").toInt

  test("materialize preserves the aggregation's hash partitioning " +
      "and keeps the rows") {
    import spark.implicits._
    val df = (1 to 100).map(i => (s"id${i % 7}", i.toDouble))
      .toDF("id", "score")
    // `want` from a SEPARATE plan instance: executing the same Dataset
    // beforehand would memoize an executedPlan whose final shuffle AQE
    // already coalesced — the shim can only preserve the partitioning
    // of plans it executes itself.
    val want = df.groupBy("id").agg(sum("score").as("score"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val ck = Checkpoints.materializeKeyed(
      df.groupBy("id").agg(sum("score").as("score")))
    val lr = ck.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l
    }.getOrElse(fail("materialize must produce a LogicalRDD"))
    lr.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == np)
        assert(h.expressions.map(_.references.head.name) == Seq("id"))
      case other => fail(s"expected HashPartitioning, got $other")
    }
    val got = ck.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got == want)
    Checkpoints.release(ck)
  }

  test("a repartition(1, key) checkpoint keeps a hash layout on the key") {
    // Such a repartition plans a single partition. Claimed bare, it makes
    // the planner shuffle the edge cache of the kernel loop's first join
    // at width 1; a hash layout on the key is co-partitioned with it.
    val ck = Checkpoints.materializeKeyed(spark.range(20).toDF("id")
      .repartition(1, col("id")))
    ck.queryExecution.analyzed match {
      case l: LogicalRDD => assert(l.outputPartitioning match {
        case h: HashPartitioning => h.numPartitions == 1 &&
          h.expressions.map(_.references.head.name) == Seq("id")
        case _ => false
      }, s"got ${l.outputPartitioning}")
      case other => fail(s"not a checkpoint: ${other.nodeName}")
    }
    assert(ck.count() == 20)
    Checkpoints.release(ck)
  }

  test("one-partition checkpoints claim a hash layout on every column, and " +
      "a kernel iteration over them plans no exchange") {
    import spark.implicits._
    val edges = Checkpoints.materializeKeyed((1 to 60)
      .map(i => (s"n${i % 11}", s"n${(i * 7) % 11}", (i % 3).toDouble))
      .toDF("src", "dst", "w").coalesce(1))
    val v = Checkpoints.materializeKeyed((0 until 11)
      .map(i => (s"n$i", 1.0 / (i + 1))).toDF("id", "score").coalesce(1))
    try {
      Seq(edges -> Seq("src", "dst", "w"), v -> Seq("id", "score")).foreach {
        case (ck, cols) =>
          val claimed = ck.queryExecution.analyzed match {
            case l: LogicalRDD => l.outputPartitioning match {
              case pc: PartitioningCollection => pc.partitionings
              case p => Seq(p)
            }
            case other => fail(s"not a checkpoint: ${other.nodeName}")
          }
          assert(claimed.map {
            case h: HashPartitioning if h.numPartitions == 1 =>
              h.expressions.map(_.references.head.name)
            case p => fail(s"not a width-1 hash layout: $p")
          } == cols.map(Seq(_)))
      }
      // HITS's two gathers: hubs from the vector over `dst`, then
      // authorities from those hubs over `src`, on the same edges.
      def gather(key: String, by: String)(x: DataFrame) = {
        val x0 = x.hint("SHUFFLE_HASH")
        edges.join(x0, edges(key) === x0("id"))
          .groupBy(edges(by).as("id")).agg(sum(col("w") * col("score"))
            .as("score"))
      }
      val auths = gather("src", "dst")(gather("dst", "src")(v))
      val finalPlan = auths.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
      assert(finalPlan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"expected an exchange-free iteration, got:\n$finalPlan")
      assert(auths.count() > 0)
    } finally Seq(edges, v).foreach(Checkpoints.release)
  }

  test("a co-keyed join against the checkpoint plans no exchange on " +
      "the checkpoint side") {
    import spark.implicits._
    val df = (1 to 200).map(i => (s"id${i % 13}", i.toDouble))
      .toDF("id", "score")
    val ck = Checkpoints.materializeKeyed(
      df.groupBy("id").agg(sum("score").as("score")))
    val edges = (1 to 50).map(i => (s"id${i % 13}", s"id${(i + 1) % 13}"))
      .toDF("dst", "src").repartition(np, col("dst")).persist()
    try {
      val joined = edges.join(ck.hint("SHUFFLE_HASH"),
        edges("dst") === ck("id"))
      // AQE final plan: both sides arrive hash-clustered on the join
      // key at np partitions — EnsureRequirements must not insert a
      // ShuffleExchange anywhere (the pre-r19 behavior re-exchanged
      // the checkpoint side every iteration). Collect physical nodes
      // (a cached relation's historical plan text is not part of the
      // operator tree, so string-matching would false-positive on it).
      val finalPlan = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
      assert(finalPlan.collect {
        case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec => e
      }.isEmpty, s"expected an exchange-free join, got:\n$finalPlan")
      assert(finalPlan.collect {
        case j: org.apache.spark.sql.execution.joins
            .ShuffledHashJoinExec => j
      }.nonEmpty)
      // and the result set is the plain join's
      assert(joined.count() ==
        edges.join(df.groupBy("id").agg(sum("score").as("score")),
          edges("dst") === col("id")).count())
    } finally {
      edges.unpersist(false)
      Checkpoints.release(ck)
    }
  }

  test("non-hash-partitioned results fall back to unknown partitioning " +
      "with identical rows (old behavior)") {
    import spark.implicits._
    val df = (1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .orderBy(desc("k")) // range-partitioned root — NOT claimable as hash
    val ck = Checkpoints.materializeKeyed(df)
    val lr = ck.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l
    }.get
    assert(!lr.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(ck.orderBy(desc("k")).as[(Long, String)].collect().toSeq ==
      (1 to 20).map(i => (i.toLong, s"v$i")).sortBy(-_._1))
    Checkpoints.release(ck)
  }

  /** Longs and doubles whose double sums depend on the summation order. */
  private def frame(width: Int) = {
    import spark.implicits._
    (1 to 400).map(i => (i.toLong % 37, i * 1234567L,
        math.sin(i) * math.pow(10, i % 9 - 4)))
      .toDF("id", "k", "x").repartition(width, col("id"))
  }

  private val tally = Seq(count(lit(1)), sum(col("k")), max(col("k")),
    coalesce(sum(col("k")), lit(0L)), sum(col("x")),
    sqrt(sum(col("x") * col("x"))), max(col("x")))

  /** The tally against a separate `agg` over the returned checkpoint:
    * longs exactly, doubles bit for bit when `bitEqual`, else within
    * 1e-12 of the magnitude. Also checks the checkpoint kept the rows. */
  private def assertTally(t: Checkpoints.Tallied, rows: Long,
      bitEqual: Boolean): Unit = {
    assert(t.df.count() == rows)
    val want = t.df.agg(tally.head, tally.tail: _*).head()
    assert(t.tally.length == tally.size)
    t.tally.toSeq.zip(want.toSeq).zipWithIndex.foreach {
      case ((got: Double, w: Double), i) if bitEqual =>
        assert(java.lang.Double.doubleToRawLongBits(got) ==
          java.lang.Double.doubleToRawLongBits(w), s"column $i: $got vs $w")
      case ((got: Double, w: Double), i) =>
        assert(math.abs(got - w) <= 1e-12 * math.max(1.0, math.abs(w)),
          s"column $i: $got vs $w")
      case ((got, w), i) => assert(got == w, s"column $i: $got vs $w")
    }
  }

  private def eachCheckpoint(body: (String,
      (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.Column]) =>
        Checkpoints.Tallied) => Unit): Unit = {
    body("local", Checkpoints.materialize(_, _))
    body("keyed", Checkpoints.materializeKeyed(_, _))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tally-spec").toString
    spark.conf.set(Checkpoints.ReliableKey, "true")
    spark.conf.set(Checkpoints.DirKey, dir)
    try body("reliable", Checkpoints.materialize(_, _))
    finally {
      spark.conf.unset(Checkpoints.ReliableKey)
      spark.conf.unset(Checkpoints.DirKey)
    }
  }

  test("a tally equals a separate aggregate over its checkpoint: bit-equal " +
      "at width 1, longs exact and doubles within 1e-12 at width 4") {
    eachCheckpoint { (kind, materialize) =>
      withClue(s"$kind checkpoint: ") {
        val one = materialize(frame(1), tally)
        assert(one.df.rdd.getNumPartitions == 1)
        assertTally(one, 400, bitEqual = true)
        Checkpoints.release(one.df)
        val four = materialize(frame(4), tally)
        assert(four.df.rdd.getNumPartitions == 4)
        assertTally(four, 400, bitEqual = false)
        Checkpoints.release(four.df)
      }
    }
  }

  test("an empty frame tallies to the aggregates' empty values") {
    eachCheckpoint { (kind, materialize) =>
      withClue(s"$kind checkpoint: ") {
        val t = materialize(frame(4).where(col("k") < 0), tally)
        assertTally(t, 0, bitEqual = true)
        assert(t.tally.getLong(0) == 0L && t.tally.isNullAt(1) &&
          t.tally.getLong(3) == 0L && t.tally.isNullAt(4))
        Checkpoints.release(t.df)
      }
    }
  }

  test("materializing with a tally runs one job, like without") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "x")
    val plain = jobsOf(Checkpoints.release(Checkpoints.materialize(df)))
    val tallied = jobsOf(Checkpoints.release(
      Checkpoints.materialize(df, tally.take(1)).df))
    assert(plain == 1 && tallied == 1, s"$plain vs $tallied jobs")
  }
}
