package graft

import graft.Checkpoints.Tallied
import graft.operators.Normalize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{CheckpointShim, Rebind}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DoubleType

/** Outcome of a fixed-point kernel run ([[operators.Hits.runConverged]],
  * [[operators.Salsa.runConverged]],
  * [[operators.PageRank.runConverged]]): the final vector(s), the
  * iteration count actually executed, and an EXPLICIT convergence
  * verdict — `converged = true` iff a scheduled delta check observed
  * max|Δscore| < tol before the loop exhausted `maxIter`.
  *
  * `converged = false` means the loop was CAPPED: the vectors are the
  * best available refinement, not a certified fixed point. Callers
  * must not have to infer that from `iterations == maxIter` — that
  * test is ambiguous when the true fixed point lands exactly on the
  * cap iteration (the check there can still certify convergence), so
  * the flag is carried explicitly and the `*_converged` gates assert
  * it as a marker row alongside `n_iter`.
  */
case class Fixpoint[A](result: A, iterations: Int, converged: Boolean)

/** The iteration loops. The structural operators run on [[rounds]]; the
  * rest of this doc is the one loop of the link-analysis kernels (HITS,
  * SALSA, PageRank): a superstep of equi-join + hash aggregate over a
  * persisted edge set, repeated on a fixed or a converged schedule.
  * The kernels supply only what differs — edge annotation,
  * contribution expression, norm, teleport — as a [[Program]]; the
  * loop owns the execution discipline they share:
  *
  *  - Width: one scale-adaptive loop width ([[width]]), or
  *    a bucketed layout's bucket count.
  *  - Edge copies: the kernel's edge projection hash-clustered on `dst`
  *    and on `src` at that width ([[Edges]]) — repartitioned once per
  *    run, or read from the bucketed tables with no shuffle at all —
  *    dropped, with every cache and checkpoint the program made, when
  *    the loop ends. At width 1 they are one copy: a one-partition
  *    checkpoint of the projection, made without a shuffle, claims a
  *    layout on both keys ([[drive]]).
  *  - Nodes and `N`: the node frame (its `id` alone unless a node
  *    predicate reads more) is checkpointed once per run,
  *    hash-partitioned on `id` at the loop width, and that job tallies
  *    `N` ([[Edges]]). Inits, teleport columns and topic flags are
  *    projections of it; per-graph constants (`1/√N`, `(1-β)/N`) enter
  *    the plans as run-time values ([[constant]]): no driver count, no
  *    class compiled per graph.
  *  - The loop session: the loop plans on a session of its own
  *    ([[Sessions.scoped]], one per run) whose `shuffle.partitions` is
  *    the loop width, so every aggregation exchange plans at that width
  *    and every per-iteration join reads both sides co-partitioned. AQE
  *    partition coalescing is off on it: every shuffle of the loop
  *    feeds a keyed checkpoint, whose layout must stay hash-routable.
  *    The edges and nodes are rebound onto it from their analyzed plans
  *    (a join runs on its left input's session), and the results are
  *    rebound onto the caller's session, so later queries plan under the
  *    caller's conf, which the loop never changes.
  *  - Checkpoints: each iteration's carried vector is truncated with
  *    [[Checkpoints.materializeKeyed]] (one eager job, hash layout
  *    preserved for the next join); superseded checkpoints are
  *    released eagerly, so live storage stays O(|V|) however long the
  *    run (see [[Checkpoints]]); the final side vector is
  *    materialized before the edge caches drop.
  *  - Norms: every vector is checkpointed raw, and the checkpoint's
  *    own job tallies the program's norm; the normalized vector is the
  *    checkpoint divided by that value ([[operators.Normalize.divide]]),
  *    a projection that keeps its hash layout. A HITS iteration so runs
  *    three jobs above width 1 (its two aggregate exchanges and the
  *    checkpoint), none for the norm; at width 1 it runs one, the
  *    checkpoint's, and shuffles nothing: the edge, node and vector
  *    checkpoints all claim a hash layout on each of their columns
  *    ([[Checkpoints.materializeKeyed]]).
  *  - Schedule: a fixed count, or delta checks on the
  *    `firstCheck, firstCheck+checkEvery, ...` schedule — the delta is
  *    a second |V|-sized job, so checking every iteration would double
  *    the loop's job count for detection < `checkEvery` iterations
  *    earlier; the loop may overrun the true fixed point by that many
  *    no-op refinements and reports the iterations actually executed.
  */
object Fixpoint {

  /** `tol = None`: exactly `maxIter` iterations. `Some(tol)`: stop at the
    * first scheduled check whose max |Δscore| against the vector it
    * replaced (the init, at iteration 1) is below `tol`. */
  private[graft] final case class Schedule(maxIter: Int,
      tol: Option[Double] = None, checkEvery: Int = 1, firstCheck: Int = 1) {
    require(maxIter >= 1, s"need at least one iteration, got $maxIter")
    require(checkEvery >= 1 && firstCheck >= 1,
      s"need positive check schedule, got every=$checkEvery first=$firstCheck")
    def checks(it: Int): Boolean =
      tol.nonEmpty && it >= firstCheck && (it - firstCheck) % checkEvery == 0
  }

  /** The kernel's edge projection, hash-clustered on `dst` / `src` at the
    * loop width, and the graph's nodes, all on the loop session. Above
    * width 1 the edge copies are plans, not caches: a program caches the
    * copies it re-reads every iteration ([[cached]]), `byDst` first —
    * `bySrc` derives from it, so a cached `byDst` runs an upstream
    * subgraph derivation once. At width 1 both are the same one-partition
    * checkpoint ([[drive]]). `nodes` is the loop's node checkpoint,
    * hash-partitioned on `id`; its job tallied `n` nodes, `counts(i)` of
    * them satisfying the run's `counted(i)` ([[run]]). */
  private[graft] final case class Edges(byDst: DataFrame, bySrc: DataFrame,
      nodes: DataFrame, n: Long, counts: Seq[Long]) {
    /** `edges` (`byDst` or `bySrc`) kept for re-reading every iteration:
      * cached, except the width-1 edge checkpoint, which is stored
      * already — a cache of it would be a second, columnar copy. */
    def cached(edges: DataFrame): DataFrame =
      if (byDst eq bySrc) edges else edges.persist()
  }

  /** One kernel's iteration. `side` (HITS/SALSA hubs) maps the carried
    * vector to the side vector and `step` maps that (or, without a
    * side, the carried vector) to the next carried vector, both
    * un-normalized. `norm` is the aggregate over a vector's `score`s
    * that each score is divided by ([[operators.Normalize.L2]],
    * [[operators.Normalize.L1]]); None carries vectors as computed.
    * `owned` are the program's own caches and checkpoints, dropped when
    * the loop ends. */
  private[graft] final case class Program[A](init: DataFrame,
      side: Option[DataFrame => DataFrame], step: DataFrame => DataFrame,
      norm: Option[Column], result: (DataFrame, DataFrame) => A,
      owned: Seq[DataFrame])

  /** The loop width for a kernel over these edges: data-proportional at
    * gate scale, the session's `shuffle.partitions` at cluster scale.
    * Derived from the `(src, dst, w)` projection every kernel shuffles;
    * the bucketed-layout writer sizes its bucket count with it, so the
    * handoff layout IS the consumer kernels' loop width. */
  private[graft] def width(edges: DataFrame): Int =
    AdaptiveWidth.of(edges.select(col("src"), col("dst"),
      col("weight").cast("double").as("w")))

  /** Join the `(id, score)` vector `v` to `edges` on `key` and sum
    * `contrib` per opposite endpoint. SHUFFLE_HASH scoped to this join
    * (not a session-wide planner flag): the |V|-sized score side is the
    * build side, re-aggregated fresh each iteration, so sorting it for a
    * sort-merge join every round is pure waste. */
  private[graft] def gather(edges: DataFrame, key: String, contrib: Column)(
      v: DataFrame): DataFrame = {
    val v0 = v.hint("SHUFFLE_HASH")
    edges.join(v0, edges(key) === v0("id"))
      .groupBy(edges(if (key == "src") "dst" else "src").as("id"))
      .agg(sum(contrib).as("score"))
  }

  /** Runs `program` over `g`, its edges projected to `cols`; `counted`
    * are node predicates whose counts the node checkpoint tallies
    * ([[Edges]]`.counts`). */
  private[graft] def run[A](g: Graph, cols: Seq[Column], schedule: Schedule,
      counted: Seq[Column] = Nil)(program: Edges => Program[A]): Fixpoint[A] = {
    val np = width(g.edges)
    val edges = g.edges.select(cols: _*)
    // At width 1 the loop coalesces the projection itself ([[drive]]).
    val byDst = if (np == 1) edges else edges.repartition(np, col("dst"))
    drive(byDst, byDst.repartition(np, col("src")), g.nodes, np, counted,
      schedule, program)
  }

  /** Runs `program` over a [[GraphIO.writeBucketedGraph]] layout: the
    * edge tables come back from the catalog already hash-clustered on
    * each join key, so the run plans ZERO edge-side Exchange — provided
    * the loop width IS the bucket count, which the loop pins (any
    * layout then stays exchange-free, and the writer is free to size
    * buckets data-proportionally). A cache of a bucketed copy reports
    * the bucketed scan's partitioning. */
  private[graft] def runBucketed[A](spark: SparkSession, prefix: String,
      cols: Seq[Column], schedule: Schedule)(
      program: Edges => Program[A]): Fixpoint[A] = {
    val buckets = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(s"${prefix}_edges_by_dst"))
      .bucketSpec.map(_.numBuckets)
    require(buckets.nonEmpty,
      s"bucketed layout '$prefix' has no bucket spec; rewrite it with " +
        "GraphIO.writeBucketedGraph to keep the kernel's " +
        "zero-edge-Exchange plan")
    def table(key: String): DataFrame =
      spark.table(s"${prefix}_edges_by_$key").select(cols: _*)
    drive(table("dst"), table("src"), spark.table(s"${prefix}_nodes"),
      buckets.get, Nil, schedule, program)
  }

  /** Runs `program` on the loop session: the edges' session at the loop
    * `width`, with AQE coalescing off. The node checkpoint is made there
    * first (its `id` alone when no `counted` predicate reads more), and
    * dropped with the edge copies when the loop ends.
    *
    * At width 1 the two edge copies are one checkpoint: `byDst`
    * coalesced to one partition, which shuffles nothing, and `bySrc` is
    * not read. A one-partition checkpoint claims a hash layout on every
    * column ([[CheckpointShim]]), so it is clustered on `dst` and on
    * `src` at once; the node checkpoint is coalesced the same way. Every
    * join and aggregate of an iteration then reads its inputs in place,
    * and the iteration runs as one job: its checkpoint's. */
  private def drive[A](byDst: DataFrame, bySrc: DataFrame, nodes: DataFrame,
      width: Int, counted: Seq[Column], schedule: Schedule,
      program: Edges => Program[A]): Fixpoint[A] = {
    val caller = bySrc.sparkSession
    val s = session(caller, width,
      SQLConf.COALESCE_PARTITIONS_ENABLED.key -> "false")
    val (dst, src) = if (width == 1) {
      val one = Checkpoints.materializeKeyed(Rebind(byDst, s).coalesce(1))
      (one, one)
    } else (Rebind(byDst, s), Rebind(bySrc, s))
    val node = if (counted.isEmpty) Rebind(nodes, s).select(col("id"))
      else Rebind(nodes, s)
    val ids = Checkpoints.materializeKeyed(
      if (width == 1) node.coalesce(1) else node.repartition(width, col("id")),
      count(lit(1)) +: counted.map(p => count(when(p, true))))
    val counts = Seq.tabulate(ids.tally.length)(ids.tally.getLong)
    val e = Edges(dst, src, ids.df, counts.head, counts.tail)
    try {
      val p = program(e)
      try iterate(p, schedule, Rebind(_, caller))
      finally p.owned.foreach(drop)
    } finally {
      // The loop runs eager actions, so exceptions mid-loop are real;
      // results live on their own checkpoints, so the caches and the
      // node checkpoint can go (non-blocking) without recompute risk.
      Seq(e.byDst, e.bySrc, e.nodes).foreach(drop)
    }
  }

  /** A per-graph constant of a kernel plan as a run-time value, as the
    * norms are: a `lit` would compile each graph's value into a class. */
  private[graft] def constant(v: Double): Column =
    CheckpointShim.scalar(v, DoubleType)

  /** A loop's session: `caller`'s conf at the loop `width`, and `conf`. */
  private def session(caller: SparkSession, width: Int,
      conf: (String, String)*): SparkSession =
    Sessions.scoped(caller,
      (SQLConf.SHUFFLE_PARTITIONS.key -> width.toString) +: conf: _*)

  /** `back` rebinds the result frames onto the caller's session. */
  private def iterate[A](p: Program[A], s: Schedule,
      back: DataFrame => DataFrame): Fixpoint[A] = {
    // Checkpoints `v` and returns it with its normalized view: the norm
    // is tallied by the checkpoint's own job, and the view divides the
    // checkpoint by it (no second pass over the vector).
    def checkpoint(v: DataFrame): (DataFrame, DataFrame) = p.norm match {
      case None =>
        val ck = Checkpoints.materializeKeyed(v)
        (ck, ck)
      case Some(norm) =>
        val t = Checkpoints.materializeKeyed(v, Seq(norm))
        (t.df, Normalize.divide(t))
    }
    val fixed = s.tol.isEmpty
    // Only a converged run's side vector stays lazy past its iteration
    // (the last iteration is unknown in advance); it reads the previous
    // checkpoint, which is then held one iteration longer.
    val lazySide = !fixed && p.side.nonEmpty
    var carried = p.init
    var side: Option[DataFrame] = None    // the last side vector, raw
    var sideOut: Option[DataFrame] = None // normalized, once checkpointed
    var ck: DataFrame = null   // checkpoint behind `carried`
    var held: DataFrame = null // superseded, still read by the lazy side
    var it = 0
    var done = false
    while (it < s.maxIter && !done) {
      it += 1
      // A fixed run's final side vector is checkpointed where it is
      // computed: the step below consumes the checkpoint instead of
      // re-running the side aggregate (no extra job), and intermediate
      // side vectors stay lazy subtrees of the step's checkpoint job.
      side = p.side.map(f => f(carried))
      val sideCk = if (fixed && it == s.maxIter) side.map(checkpoint) else None
      val (raw, cur) =
        checkpoint(p.step(sideCk.map(_._1).orElse(side).getOrElse(carried)))
      if (s.checks(it)) done = maxDelta(cur, carried) < s.tol.get
      val stale = if (lazySide) held else ck
      if (lazySide) held = ck
      if (stale != null) Checkpoints.release(stale)
      ck = raw
      carried = cur
      sideOut = sideCk.map(_._2)
    }
    // Materialize the lazy side before the edge caches drop; the
    // checkpoint it read is unreachable after that.
    val out = sideOut.orElse(side.map(v => checkpoint(v)._2))
    if (held != null) Checkpoints.release(held)
    Fixpoint(p.result(out.map(back).orNull, back(carried)), it, done)
  }

  /** A structural round plan's view of the loop: the loop [[width]], the
    * loop's `input` (its `widthOf`) and any other frame made outside the
    * loop ([[on]]) on the loop session, and the operator's choice of
    * checkpoint for each frame it makes, which the loop tracks to
    * release. */
  private[graft] final class Rounds private[Fixpoint] (widthOf: DataFrame) {
    val width: Int = AdaptiveWidth.of(widthOf)
    private val session = Fixpoint.session(widthOf.sparkSession, width)
    /** `widthOf` on the loop session. */
    val input: DataFrame = on(widthOf)
    /** `df` on the loop session: the rounds read only frames on it. */
    def on(df: DataFrame): DataFrame = Rebind(df, session)
    private[Fixpoint] var made = Vector.empty[DataFrame]
    def materialize(df: DataFrame): DataFrame =
      track(Checkpoints.materialize(df))
    def materialize(df: DataFrame, tally: Seq[Column]): Tallied =
      track(Checkpoints.materialize(df, tally))
    def materializeKeyed(df: DataFrame, tally: Seq[Column]): Tallied =
      track(Checkpoints.materializeKeyed(df, tally))
    private def track(df: DataFrame): DataFrame = { made :+= df; df }
    private def track(t: Tallied): Tallied = { made :+= t.df; t }
  }

  /** The one round loop of the structural operators (components, label
    * propagation, the k-core and k-truss peels). `start` makes the first
    * generation `S`; each `round` makes the next (`Right`) or returns the
    * result (`Left`), so the round plan holds the stop test. The loop
    * owns the rest:
    *  - width: [[AdaptiveWidth.of]] on `widthOf`, the frame the rounds
    *    re-read, handed to them as [[Rounds.width]];
    *  - the loop session: every round plans on one session of its own
    *    ([[Sessions.scoped]]) whose `shuffle.partitions` is that width.
    *    AQE coalescing stays on there: the peels' stock checkpoints need
    *    it (see [[Checkpoints.materializeKeyed]]). `start` reads
    *    `widthOf` as [[Rounds.input]] and rebinds any other frame made
    *    outside the loop with [[Rounds.on]]; the result comes back on
    *    the caller's session, whose conf the loop never changes;
    *  - the cap: a round that still makes a generation after `maxRounds`
    *    such rounds fails loudly, since a SQL oracle that unrolls the same
    *    bound would see a partial result;
    *  - storage: after `start` and after each round, every frame the loop
    *    holds (`widthOf`, the carried ones, the ones the round made) that
    *    the new generation does not carry is dropped — checkpoint
    *    released, cache unpersisted — so at most two generations are ever
    *    stored; at the end, every one whose checkpoint the result does not
    *    read; on failure, all.
    * Returns the result and the number of rounds run, the last included.
    */
  private[graft] def rounds[S](widthOf: DataFrame, maxRounds: Int,
      what: String)(carried: S => Seq[DataFrame])(start: Rounds => S)(
      round: (Rounds, S) => Either[DataFrame, S]): (DataFrame, Int) = {
    val r = new Rounds(widthOf)
    var live = Seq(r.input)
    def keep(read: DataFrame => Boolean): Unit = {
      (live ++ r.made).filterNot(read).foreach(drop)
      r.made = Vector.empty
    }
    def carry(s: S): S = {
      val next = carried(s)
      keep(f => next.exists(_ eq f))
      live = next
      s
    }
    try {
      @annotation.tailrec
      def loop(s: S, n: Int): (DataFrame, Int) = round(r, s) match {
        case Left(result) =>
          keep(Checkpoints.reads(result))
          (Rebind(result, widthOf.sparkSession), n)
        case Right(next) =>
          require(n <= maxRounds,
            s"$what did not converge within $maxRounds rounds (raise the " +
              "round cap; a SQL oracle that unrolls the same bound would " +
              "see a partial result)")
          loop(carry(next), n + 1)
      }
      loop(carry(start(r)), 1)
    } catch {
      case t: Throwable =>
        keep(_ => false)
        throw t
    }
  }

  /** Frees what the loop owns of `df`: its cache and its checkpoint. */
  private def drop(df: DataFrame): Unit = {
    df.unpersist(false)
    Checkpoints.release(df)
  }

  /** Max |Δscore| between two `(id, score)` vectors; a node missing on
    * one side counts as 0 there. Both sides are hash-partitioned on id
    * (or the init), so the full-outer join is co-partitioned, and
    * SHUFFLE_HASH skips re-sorting both vectors (full-outer shuffled
    * hash joins are supported since Spark 3.1). */
  private def maxDelta(cur: DataFrame, prev: DataFrame): Double =
    cur.as("c")
      .join(prev.as("p").hint("SHUFFLE_HASH"), col("c.id") === col("p.id"),
        "full_outer")
      .select(abs(coalesce(col("c.score"), lit(0.0)) -
        coalesce(col("p.score"), lit(0.0))).as("d"))
      // coalesce: an empty vector pair (degenerate empty graph) has
      // max-delta NULL, which must read as converged, not NPE.
      .agg(coalesce(max(col("d")), lit(0.0))).head.getDouble(0)
}
