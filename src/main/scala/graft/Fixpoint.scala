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

/** The one iteration loop ([[rounds]]). Every iterative operator is a
  * round plan on it: the link-analysis kernels (HITS, SALSA, PageRank)
  * as the superstep of [[run]], and the structural operators
  * (components, label propagation, the k-core and k-truss peels). A
  * plan's `start` makes the first generation and each `round` makes the
  * next or returns the result; the loop owns what they share:
  *
  *  - Width and session: every round plans on a session of its own
  *    ([[Sessions.scoped]], one per run) whose `shuffle.partitions` is
  *    the loop width, so every aggregation exchange plans at that width
  *    and every per-round join reads both sides co-partitioned. The
  *    loop's input and any other frame made outside it are rebound onto
  *    that session from their analyzed plans (a join runs on its left
  *    input's session), and the result is rebound onto the caller's
  *    session, whose conf the loop never changes. A keyed loop (the
  *    kernels, min-label components) has AQE partition coalescing off
  *    on its session: its checkpoints are keyed
  *    ([[Checkpoints.materializeKeyed]]), and their layout must stay
  *    hash-routable. The peels, label propagation and the star engine
  *    keep coalescing on: their stock checkpoints' consumers re-key
  *    anyway, and coalescing keeps their late, tiny rounds cheap.
  *  - Storage: a round plan stores frames only through the loop
  *    ([[Rounds]]). After `start` and after each round, every frame the
  *    loop holds that the new generation does not carry is dropped —
  *    cache unpersisted, checkpoint released — so at most two
  *    generations are ever stored, however long the run (see
  *    [[Checkpoints]]); the generation a round reads stays stored for
  *    the whole round. At the end every frame the result does not read
  *    is dropped; on failure, all of them.
  *  - The cap: a round that still makes a generation after `maxRounds`
  *    such rounds fails loudly, since a SQL oracle that unrolls the same
  *    bound would see a partial result.
  *
  * The kernel superstep repeats an equi-join + hash aggregate over the
  * kernel's edges on a fixed or a converged [[Schedule]]. The kernels
  * supply only what differs — edge annotation, contribution expression,
  * norm, teleport — as a [[Program]]:
  *
  *  - Width: [[width]] of the kernel's edge projection, or a bucketed
  *    layout's bucket count; the loop is keyed.
  *  - `start` makes the edge copies, the node checkpoint and the
  *    program, which all live until the run ends. The edge copies are
  *    the projection hash-clustered on `dst` and on `src` ([[Edges]]),
  *    repartitioned once per run or read from the bucketed tables with
  *    no shuffle at all; at width 1 they are one one-partition
  *    checkpoint, made without a shuffle, that claims a layout on both
  *    keys. The node checkpoint (its `id` alone unless a node predicate
  *    reads more) is hash-partitioned on `id` and its job tallies `N`.
  *    Inits, teleport columns and topic flags are projections of it;
  *    per-graph constants (`1/√N`, `(1-β)/N`) enter the plans as
  *    run-time values ([[constant]]): no driver count, no class
  *    compiled per graph. The program's caches are made through the
  *    loop ([[Edges.cached]]).
  *  - A round is one iteration: the side vector, then the step's
  *    checkpoint ([[Checkpoints.materializeKeyed]], hash layout kept for
  *    the next join), whose own job tallies the program's norm; the
  *    normalized vector is the checkpoint divided by that value
  *    ([[operators.Normalize.divide]]), a projection that keeps its hash
  *    layout. A HITS iteration so runs three jobs above width 1 (its two
  *    aggregate exchanges and the checkpoint), none for the norm; at
  *    width 1 it runs one, the checkpoint's, and shuffles nothing: the
  *    edge, node and vector checkpoints all claim a hash layout on each
  *    of their columns.
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
    * checkpoint. `nodes` is the loop's node checkpoint, hash-partitioned
    * on `id`; its job tallied `n` nodes, `counts(i)` of them satisfying
    * the run's `counted(i)` ([[run]]). */
  private[graft] final case class Edges(byDst: DataFrame, bySrc: DataFrame,
      nodes: DataFrame, n: Long, counts: Seq[Long])(loop: Rounds) {
    /** `df` kept for re-reading every iteration: cached through the loop,
      * which drops the cache when the run ends. The width-1 edge
      * checkpoint is stored already — a cache of it would be a second,
      * columnar copy. */
    def cached(df: DataFrame): DataFrame =
      if ((df eq byDst) && (df eq bySrc)) df else loop.cache(df)
  }

  /** One kernel's iteration. `side` (HITS/SALSA hubs) maps the carried
    * vector to the side vector and `step` maps that (or, without a
    * side, the carried vector) to the next carried vector, both
    * un-normalized. `norm` is the aggregate over a vector's `score`s
    * that each score is divided by ([[operators.Normalize.L2]],
    * [[operators.Normalize.L1]]); None carries vectors as computed. */
  private[graft] final case class Program[A](init: DataFrame,
      side: Option[DataFrame => DataFrame], step: DataFrame => DataFrame,
      norm: Option[Column], result: (DataFrame, DataFrame) => A)

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
    // At width 1 the superstep coalesces the projection itself.
    val byDst = if (np == 1) edges else edges.repartition(np, col("dst"))
    superstep(byDst, byDst.repartition(np, col("src")), g.nodes, np, counted,
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
    superstep(table("dst"), table("src"), spark.table(s"${prefix}_nodes"),
      buckets.get, Nil, schedule, program)
  }

  /** A per-graph constant of a kernel plan as a run-time value, as the
    * norms are: a `lit` would compile each graph's value into a class. */
  private[graft] def constant(v: Double): Column =
    CheckpointShim.scalar(v, DoubleType)

  /** A kernel generation: the program, what `start` stored for the whole
    * run (the edge copies, the node checkpoint, the program's caches),
    * and the vector carried after `it` iterations with the checkpoint
    * behind it (none for the init). */
  private final case class Step[A](p: Program[A], stored: Seq[DataFrame],
      v: DataFrame, ck: Option[DataFrame], it: Int)

  /** Runs `program` as a round plan on a keyed loop at `width` whose input
    * is `byDst`. At width 1 the two edge copies are one checkpoint:
    * `byDst` coalesced to one partition, which shuffles nothing, and
    * `bySrc` is not read. A one-partition checkpoint claims a hash layout
    * on every column ([[CheckpointShim]]), so it is clustered on `dst`
    * and on `src` at once; the node checkpoint is coalesced the same way.
    * Every join and aggregate of an iteration then reads its inputs in
    * place, and the iteration runs as one job: its checkpoint's. */
  private def superstep[A](byDst: DataFrame, bySrc: DataFrame,
      nodes: DataFrame, width: Int, counted: Seq[Column], s: Schedule,
      program: Edges => Program[A]): Fixpoint[A] =
    rounds[Step[A], Fixpoint[A]](new Rounds(byDst, width, keyed = true),
        s.maxIter, "kernel")(k => k.stored ++ k.ck) { r =>
      val (dst, src) = if (width == 1) {
        val one = r.materializeKeyed(r.input.coalesce(1), Nil).df
        (one, one)
      } else (r.input, r.on(bySrc))
      val node = if (counted.isEmpty) r.on(nodes).select(col("id"))
        else r.on(nodes)
      val ids = r.materializeKeyed(
        if (width == 1) node.coalesce(1) else node.repartition(width, col("id")),
        count(lit(1)) +: counted.map(p => count(when(p, true))))
      val counts = Seq.tabulate(ids.tally.length)(ids.tally.getLong)
      val p = program(Edges(dst, src, ids.df, counts.head, counts.tail)(r))
      Step(p, r.made, p.init, None, 0)
    } { (r, k) =>
      val p = k.p
      val it = k.it + 1
      val last = it == s.maxIter
      // Checkpoints `v` and returns it with its normalized view: the norm
      // is tallied by the checkpoint's own job, and the view divides the
      // checkpoint by it (no second pass over the vector).
      def checkpoint(v: DataFrame): (DataFrame, DataFrame) = p.norm match {
        case None =>
          val ck = r.materializeKeyed(v, Nil).df
          (ck, ck)
        case Some(norm) =>
          val t = r.materializeKeyed(v, Seq(norm))
          (t.df, Normalize.divide(t))
      }
      // A fixed run's final side vector is checkpointed where it is
      // computed: the step below consumes the checkpoint instead of
      // re-running the side aggregate (no extra job), and intermediate
      // side vectors stay lazy subtrees of the step's checkpoint job.
      val side = p.side.map(f => f(k.v))
      val sideCk = if (s.tol.isEmpty && last) side.map(checkpoint) else None
      val (ck, v) =
        checkpoint(p.step(sideCk.map(_._1).orElse(side).getOrElse(k.v)))
      val done = s.checks(it) && maxDelta(v, k.v) < s.tol.get
      if (!done && !last) Right(k.copy(v = v, ck = Some(ck), it = it))
      else {
        // A converged run learns only now that this iteration is its
        // last: its side vector is checkpointed here, while the
        // generation it reads is still stored.
        val out = sideCk.map(_._2).orElse(side.map(checkpoint(_)._2))
        Left(Fixpoint(p.result(out.map(r.back).orNull, r.back(v)), it, done) ->
          (out.toSeq :+ v))
      }
    }._1

  /** A round plan's view of the loop: the loop [[width]], the loop's
    * `input` and any other frame made outside the loop ([[on]]) on the
    * loop session, and the frames the plan stores — cached or
    * checkpointed — each of which the loop tracks to release. A `keyed`
    * loop's session has AQE partition coalescing off. */
  private[graft] final class Rounds private[Fixpoint] (of: DataFrame,
      val width: Int, keyed: Boolean) {
    private val session = Sessions.scoped(of.sparkSession,
      (SQLConf.SHUFFLE_PARTITIONS.key -> width.toString) +:
        (if (keyed) Seq(SQLConf.COALESCE_PARTITIONS_ENABLED.key -> "false")
        else Nil): _*)
    /** The loop's input on the loop session; the loop owns it. */
    val input: DataFrame = on(of)
    /** `df` on the loop session: the rounds read only frames on it. */
    def on(df: DataFrame): DataFrame = Rebind(df, session)
    /** `df` on the caller's session: a result. */
    private[Fixpoint] def back(df: DataFrame): DataFrame =
      Rebind(df, of.sparkSession)
    private[Fixpoint] var made = Vector.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = track(df.persist())
    def materialize(df: DataFrame): DataFrame =
      track(Checkpoints.materialize(df))
    def materialize(df: DataFrame, tally: Seq[Column]): Tallied =
      track(Checkpoints.materialize(df, tally))
    def materializeKeyed(df: DataFrame, tally: Seq[Column]): Tallied =
      track(Checkpoints.materializeKeyed(df, tally))
    private def track(df: DataFrame): DataFrame = { made :+= df; df }
    private def track(t: Tallied): Tallied = { made :+= t.df; t }
  }

  /** [[rounds]] for a structural operator: the width is
    * [[AdaptiveWidth.of]] `widthOf`, the frame the rounds re-read,
    * which they get as [[Rounds.input]]; a round returns the result as
    * `Left`. Components' min-label rounds run `keyed`; the peels, label
    * propagation and the star engine do not. */
  private[graft] def rounds[S](widthOf: DataFrame, maxRounds: Int,
      what: String, keyed: Boolean = false)(carried: S => Seq[DataFrame])(
      start: Rounds => S)(
      round: (Rounds, S) => Either[DataFrame, S]): (DataFrame, Int) =
    rounds[S, DataFrame](new Rounds(widthOf, AdaptiveWidth.of(widthOf), keyed),
        maxRounds, what)(carried)(start) { (r, s) =>
      round(r, s).left.map(df => r.back(df) -> Seq(df))
    }

  /** The loop. `start` makes the first generation `S`; each `round` makes
    * the next (`Right`) or returns the result with the frames it reads
    * (`Left`). `carried` lists the frames a generation reads: after
    * `start` and after each round every frame the loop holds (its
    * input, the carried ones, the ones the round made) that the new
    * generation does not carry is dropped; at the end, every one whose
    * checkpoint the result does not read; on failure, all. Returns the
    * result and the number of rounds run, the last included. */
  private def rounds[S, R](r: Rounds, maxRounds: Int, what: String)(
      carried: S => Seq[DataFrame])(start: Rounds => S)(
      round: (Rounds, S) => Either[(R, Seq[DataFrame]), S]): (R, Int) = {
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
      def loop(s: S, n: Int): (R, Int) = round(r, s) match {
        case Left((result, reads)) =>
          keep(f => reads.exists(Checkpoints.reads(_)(f)))
          (result, n)
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
