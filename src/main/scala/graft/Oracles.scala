package graft

import graft.functions.{GraftHash, TextFunctions => TF}

/** DuckDB oracle-SQL generators for every gate of the
  * `SparkEntry.gates` registry (each gate's `oracle` calls one).
  *
  * The iterative kernels are unrolled into CTE chains (8 iterations by
  * default), generated programmatically — SURVEY.md §5.2(2). Floating-
  * point columns are `round`ed to a fixed number of decimals on BOTH
  * sides (Spark result and oracle SQL) so cross-engine summation-order
  * differences (~1e-14 relative) cannot flip the driver's hash compare;
  * integer-valued columns (degrees, hashes, fingerprints, pair ids) are
  * emitted exactly.
  *
  * Numeric parity rules used throughout (see each kernel's scaladoc for
  * the reference semantics): double literals are written `x::DOUBLE` so
  * DuckDB does not fall into DECIMAL arithmetic; norms use `score*score`
  * (never `pow`); divisions keep the reference's int->double promotion.
  */
object Oracles {

  /** Directed order graph, must match [[GraphIO.orderGraph]] exactly.
    * `w2`/`w3` select the lineitem weight columns — the default pair is
    * [[GraphIO.orderGraph]], the (l_quantity, l_discount) pair is
    * [[GraphIO.orderGraphAltWeights]]. */
  def edgesCteWith(w2: String, w3: String): String =
    s"""edges AS MATERIALIZED (
      |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |         'o' || CAST(o_orderkey AS VARCHAR) AS dst,
      |         o_totalprice AS w
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o' || CAST(l_orderkey AS VARCHAR),
      |         'p' || CAST(l_partkey AS VARCHAR),
      |         $w2
      |  FROM lineitem
      |  UNION ALL
      |  SELECT src, dst, w FROM (
      |    SELECT 'p' || CAST(l_partkey AS VARCHAR) AS src,
      |           'p' || CAST(LEAD(l_partkey) OVER (PARTITION BY l_orderkey ORDER BY l_partkey, l_quantity) AS VARCHAR) AS dst,
      |           $w3 AS w
      |    FROM lineitem) t
      |  WHERE dst IS NOT NULL
      |)""".stripMargin

  val edgesCte: String = edgesCteWith("l_extendedprice", "l_quantity")

  val nodesCte: String =
    """nodes AS MATERIALIZED (
      |  SELECT id,
      |         CASE WHEN substr(id, 1, 1) = 'c' THEN 'customer'
      |              WHEN substr(id, 1, 1) = 'o' THEN 'order'
      |              ELSE 'part' END AS label
      |  FROM (SELECT src AS id FROM edges UNION SELECT dst FROM edges) u
      |)""".stripMargin

  private def graphCtes: String = s"$edgesCte,\n$nodesCte"

  /** Cardinalities of the bucketed-layout tables written by
    * `graph_bucketed_write` (two edge copies + the node table of the
    * derived order graph). */
  def bucketedWrite: String =
    s"""WITH $edgesCte,
       |$nodesCte
       |SELECT 'edges_by_dst' AS bucket_table, COUNT(*)::BIGINT AS n_rows FROM edges
       |UNION ALL SELECT 'edges_by_src', COUNT(*)::BIGINT FROM edges
       |UNION ALL SELECT 'nodes', COUNT(*)::BIGINT FROM nodes
       |ORDER BY bucket_table""".stripMargin

  /** Skewed bipartite event graph, must match [[GraphIO.eventGraph]]. */
  val eventGraphCtes: String =
    """edges AS MATERIALIZED (
      |  SELECT 'u' || CAST(user_id AS VARCHAR) AS src,
      |         'e' || event_type AS dst, value AS w FROM events
      |),
      |nodes AS MATERIALIZED (
      |  SELECT id, CASE WHEN substr(id, 1, 1) = 'u' THEN 'user'
      |                  ELSE 'event' END AS label
      |  FROM (SELECT src AS id FROM edges UNION SELECT dst FROM edges) u
      |)""".stripMargin

  /** Post-aggregation transform of one iteration (teleport variants). */
  sealed trait Post
  case object NoPost extends Post
  /** `beta*s + (1-beta)/denom` for every aggregated node. */
  final case class TeleportAll(beta: Double, denomSql: String) extends Post
  /** flag=0 -> `beta*s`; flag=1 -> `beta*s + (1-beta)/denom`. */
  final case class TeleportTopic(beta: Double, denomSql: String) extends Post

  private def betaSql(beta: Double) = s"$beta::DOUBLE"

  /** Escape a caller-supplied string for inclusion in a single-quoted
    * SQL literal (standard SQL doubles the quote; DuckDB's default
    * string literals do not process backslash escapes, so `\` in regex
    * patterns passes through untouched). Every `'$x'` interpolation of
    * a non-constant below must go through this. */
  private def sq(s: String): String = s.replace("'", "''")

  private def postWrap(raw: String, post: Post): String = post match {
    case NoPost => s"SELECT id, score FROM $raw"
    case TeleportAll(b, d) =>
      s"SELECT id, ${betaSql(b)} * score + ((1::DOUBLE - ${betaSql(b)}) / $d) AS score FROM $raw"
    case TeleportTopic(b, d) =>
      s"SELECT r.id, CASE WHEN f.flag = 0 THEN ${betaSql(b)} * r.score " +
        s"ELSE ${betaSql(b)} * r.score + ((1::DOUBLE - ${betaSql(b)}) / $d) END AS score " +
        s"FROM $raw r JOIN flags f ON r.id = f.id"
  }

  /** Topic-subgraph CTEs shared by the exclusive / query-dependent kernels. */
  private def exclusiveCtes(topic: String): String =
    s"""tnodes AS MATERIALIZED (SELECT id FROM nodes WHERE label = '${sq(topic)}'),
       |xedges AS MATERIALIZED (
       |  SELECT e.* FROM edges e
       |  WHERE EXISTS (SELECT 1 FROM tnodes t WHERE t.id = e.src)
       |    AND EXISTS (SELECT 1 FROM tnodes t WHERE t.id = e.dst)
       |)""".stripMargin

  private def queryDepCtes(topic: String): String =
    s"""tnodes AS MATERIALIZED (SELECT id FROM nodes WHERE label = '${sq(topic)}'),
       |qedges AS MATERIALIZED (
       |  SELECT e.* FROM edges e
       |  WHERE EXISTS (SELECT 1 FROM tnodes t WHERE t.id = e.src)
       |     OR EXISTS (SELECT 1 FROM tnodes t WHERE t.id = e.dst)
       |),
       |qnodes AS MATERIALIZED (
       |  SELECT n.id FROM nodes n
       |  WHERE EXISTS (SELECT 1 FROM qedges e WHERE e.src = n.id OR e.dst = n.id)
       |)""".stripMargin

  private def topicCtes(topic: String): String =
    s"""flags AS MATERIALIZED (SELECT id, CASE WHEN label = '${sq(topic)}' THEN 1 ELSE 0 END AS flag FROM nodes),
       |tnv AS MATERIALIZED (SELECT COUNT(*) AS n FROM flags WHERE flag = 1)""".stripMargin

  /** HITS family (K1-K6). `edgesRel`/`initRel` select the (sub)graph.
    * `extraSelects` are appended as UNION ALL legs before the final
    * ORDER BY (used by the convergence oracle's iteration-count row). */
  def hits(weighted: Boolean = false, post: Post = NoPost,
      extraCtes: Seq[String] = Nil, edgesRel: String = "edges",
      initRel: String = "nodes", numIter: Int = 8, digits: Int = 6,
      graph: String = null, extraSelects: Seq[String] = Nil,
      tailSql: String = null): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${if (graph == null) graphCtes else graph}"
    extraCtes.foreach(c => sb ++= s",\n$c")
    sb ++= s",\nnv AS MATERIALIZED (SELECT COUNT(*) AS n FROM $initRel)"
    sb ++= s",\ns0 AS MATERIALIZED (SELECT id, 1::DOUBLE / sqrt((SELECT n FROM nv)) AS score FROM $initRel)"
    val hc = if (weighted) "e.w * a.score" else "a.score"
    val ac = if (weighted) "e.w * h.score" else "h.score"
    for (i <- 1 to numIter) {
      val prevA = if (i == 1) "s0" else s"a${i - 1}"
      sb ++= s",\nhu${i}r AS MATERIALIZED (SELECT e.src AS id, SUM($hc) AS score FROM $edgesRel e " +
        s"JOIN $prevA a ON e.dst = a.id GROUP BY e.src)"
      sb ++= s",\nhu$i AS MATERIALIZED (${postWrap(s"hu${i}r", post)})"
      sb ++= s",\nau${i}r AS MATERIALIZED (SELECT e.dst AS id, SUM($ac) AS score FROM $edgesRel e " +
        s"JOIN hu$i h ON e.src = h.id GROUP BY e.dst)"
      sb ++= s",\nau$i AS MATERIALIZED (${postWrap(s"au${i}r", post)})"
      sb ++= s",\nh$i AS MATERIALIZED (SELECT id, score / (SELECT sqrt(SUM(score*score)) FROM hu$i) AS score FROM hu$i)"
      sb ++= s",\na$i AS MATERIALIZED (SELECT id, score / (SELECT sqrt(SUM(score*score)) FROM au$i) AS score FROM au$i)"
    }
    if (tailSql != null) sb ++= s"\n$tailSql"
    else {
      sb ++= s"\nSELECT 'auth' AS kind, id, round(score, $digits) AS score FROM a$numIter"
      sb ++= s"\nUNION ALL SELECT 'hub' AS kind, id, round(score, $digits) AS score FROM h$numIter"
      extraSelects.foreach(q => sb ++= s"\nUNION ALL $q")
      sb ++= "\nORDER BY kind, id"
    }
    sb.toString
  }

  def hitsBase: String = hits()

  /** Convergence-run oracle: the fixed-point loop of
    * [[graft.operators.Hits.runConverged]] is determinized by unrolling
    * to the iteration count the gate corpus converges at (N=12 for
    * /root/testdata/sf0.01 at tol 1e-6, verified with a 20% delta margin
    * below the tolerance — see VERDICT r1 item 1), plus a
    * ('iter','n_iter',N) assertion row: if the kernel stops at any other
    * count, the hash compare fails. Valid for the sf0.01 gate corpus.
    * A second ('iter','converged',0|1) row asserts the kernel's OWN
    * convergence verdict ([[graft.Fixpoint.converged]]) — sf-dependent
    * non-convergence (a maxIter-capped run) is then a visible gate
    * value, not something inferred from the count. */
  def hitsConverged(numIter: Int, converged: Boolean = true): String =
    hits(numIter = numIter, extraSelects = Seq(
      s"SELECT 'iter' AS kind, 'n_iter' AS id, $numIter::DOUBLE AS score",
      s"SELECT 'iter' AS kind, 'converged' AS id, " +
        s"${if (converged) 1 else 0}::DOUBLE AS score"))
  def hitsWeighted: String = hits(weighted = true)
  /** Second weighted run, alternative weight columns (mirror of
    * [[GraphIO.orderGraphAltWeights]] — the reference's tf-idf
    * `weightCol` variant, `src/weighted_hits.py:30-31`). */
  def hitsWeightedAlt: String = hits(weighted = true,
    graph = s"${edgesCteWith("l_quantity", "l_discount")},\n$nodesCte")
  def hitsTeleport(beta: Double = 0.8): String =
    hits(post = TeleportAll(beta, "(SELECT n FROM nv)"))
  def hitsTopic(topic: String, beta: Double = 0.8): String =
    hits(post = TeleportTopic(beta, "(SELECT n FROM tnv)"),
      extraCtes = Seq(topicCtes(topic)))
  def hitsTopicExclusive(topic: String): String =
    hits(extraCtes = Seq(exclusiveCtes(topic)), edgesRel = "xedges",
      initRel = "tnodes")
  def hitsQueryDependent(topic: String): String =
    hits(extraCtes = Seq(queryDepCtes(topic)), edgesRel = "qedges",
      initRel = "qnodes")

  /** Iterative SALSA (K8/K10/K11). `initSql` overrides the uniform init;
    * `extraSelects` are appended as UNION ALL legs before the final
    * ORDER BY (used by the convergence oracle's iteration-count row). */
  def salsaIterative(post: Post = NoPost, extraCtes: Seq[String] = Nil,
      initSql: Option[String] = None, numIter: Int = 8,
      digits: Int = 9, extraSelects: Seq[String] = Nil): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $graphCtes"
    extraCtes.foreach(c => sb ++= s",\n$c")
    sb ++= ",\nnv AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)"
    sb ++= ",\nodeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)"
    sb ++= ",\nideg AS MATERIALIZED (SELECT dst, COUNT(*) AS deg FROM edges GROUP BY dst)"
    sb ++= ",\ns0 AS MATERIALIZED (" + initSql.getOrElse(
      "SELECT id, 1::DOUBLE / sqrt((SELECT n FROM nv)) AS score FROM nodes") + ")"
    for (i <- 1 to numIter) {
      val prevA = if (i == 1) "s0" else s"a${i - 1}"
      sb ++= s",\nhu${i}r AS MATERIALIZED (SELECT e.src AS id, SUM(a.score / d.deg) AS score FROM edges e " +
        s"JOIN ideg d ON d.dst = e.dst JOIN $prevA a ON a.id = e.dst GROUP BY e.src)"
      sb ++= s",\nhu$i AS MATERIALIZED (${postWrap(s"hu${i}r", post)})"
      sb ++= s",\nau${i}r AS MATERIALIZED (SELECT e.dst AS id, SUM(h.score / d.deg) AS score FROM edges e " +
        s"JOIN odeg d ON d.src = e.src JOIN hu$i h ON h.id = e.src GROUP BY e.dst)"
      sb ++= s",\nau$i AS MATERIALIZED (${postWrap(s"au${i}r", post)})"
      sb ++= s",\nh$i AS MATERIALIZED (SELECT id, score / (SELECT SUM(score) FROM hu$i) AS score FROM hu$i)"
      sb ++= s",\na$i AS MATERIALIZED (SELECT id, score / (SELECT SUM(score) FROM au$i) AS score FROM au$i)"
    }
    sb ++= s"\nSELECT 'auth' AS kind, id, round(score, $digits) AS score FROM a$numIter"
    sb ++= s"\nUNION ALL SELECT 'hub' AS kind, id, round(score, $digits) AS score FROM h$numIter"
    extraSelects.foreach(sel => sb ++= s"\nUNION ALL $sel")
    sb ++= "\nORDER BY kind, id"
    sb.toString
  }

  def salsaIterativeBase: String = salsaIterative()

  /** Convergence-run oracle for [[graft.operators.Salsa.runConverged]],
    * determinized exactly like [[hitsConverged]]: unrolled to the
    * iteration count the gate corpus converges at, plus a
    * ('iter','n_iter',N) assertion row that fails the hash compare if
    * the kernel stops at any other count, and an
    * ('iter','converged',0|1) row asserting the kernel's own
    * [[graft.Fixpoint.converged]] verdict (see [[hitsConverged]]). */
  def salsaConverged(numIter: Int, converged: Boolean = true): String =
    salsaIterative(numIter = numIter, extraSelects = Seq(
      s"SELECT 'iter' AS kind, 'n_iter' AS id, $numIter::DOUBLE AS score",
      s"SELECT 'iter' AS kind, 'converged' AS id, " +
        s"${if (converged) 1 else 0}::DOUBLE AS score"))
  def salsaTeleport(beta: Double = 0.8): String =
    salsaIterative(post = TeleportAll(beta, "(2 * (SELECT n FROM nv))"))
  def salsaTopic(topic: String, beta: Double = 0.8): String =
    salsaIterative(
      post = TeleportTopic(beta, "(2 * (SELECT n FROM tnv))"),
      extraCtes = Seq(topicCtes(topic)),
      initSql = Some("SELECT id, CASE WHEN flag = 0 THEN 0::DOUBLE " +
        "ELSE 1::DOUBLE / (2 * (SELECT n FROM tnv)) END AS score FROM flags"))

  /** PageRank (kernel-family extension; mirror of
    * [[graft.operators.PageRank.run]]). All arithmetic forced to DOUBLE
    * (`1::DOUBLE - d::DOUBLE`) so both engines run the same IEEE ops —
    * DuckDB would otherwise evaluate `1 - 0.85` in exact DECIMAL and
    * produce a different double than Scala's `1.0 - 0.85`. */
  def pageRank(damping: Double = 0.85, numIter: Int = 8,
      digits: Int = 9, extraSelects: Seq[String] = Nil): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $graphCtes"
    sb ++= ",\nnv AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)"
    sb ++= ",\nodeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)"
    sb ++= ",\np0 AS MATERIALIZED (SELECT id, 1::DOUBLE / (SELECT n FROM nv) AS score FROM nodes)"
    for (i <- 1 to numIter) {
      val prev = if (i == 1) "p0" else s"p${i - 1}"
      sb ++= s",\nc$i AS MATERIALIZED (SELECT e.dst AS id, SUM(p.score / d.deg) AS mass FROM edges e " +
        s"JOIN odeg d ON d.src = e.src JOIN $prev p ON p.id = e.src GROUP BY e.dst)"
      sb ++= s",\np$i AS MATERIALIZED (SELECT n.id, " +
        s"(1::DOUBLE - $damping::DOUBLE) / (SELECT n FROM nv) + " +
        s"$damping::DOUBLE * COALESCE(c.mass, 0::DOUBLE) AS score " +
        s"FROM nodes n LEFT JOIN c$i c ON c.id = n.id)"
    }
    sb ++= s"\nSELECT id, round(score, $digits) AS score FROM p$numIter"
    extraSelects.foreach(sel => sb ++= s"\nUNION ALL $sel")
    sb ++= "\nORDER BY id"
    sb.toString
  }

  /** Personalized-PageRank oracle (mirror of
    * [[graft.operators.PageRank.runPersonalized]]): teleport uniform
    * over the topic-labeled seed nodes, p₀ = the teleport vector,
    * `(1-d)·t` as the same two-step IEEE product the Spark side
    * computes (NOT pre-folded into one literal — the uniform kernel's
    * `(1-d)/n` rounds differently). */
  def pageRankPersonalized(topic: String, damping: Double = 0.85,
      numIter: Int = 8, digits: Int = 9): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $graphCtes"
    sb ++= s",\nns AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes WHERE label = '$topic')"
    sb ++= ",\ntele AS MATERIALIZED (SELECT id, CASE WHEN label = " +
      s"'$topic' THEN 1::DOUBLE / (SELECT n FROM ns) ELSE 0::DOUBLE END AS t FROM nodes)"
    sb ++= ",\nodeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)"
    sb ++= ",\np0 AS MATERIALIZED (SELECT id, t AS score FROM tele)"
    for (i <- 1 to numIter) {
      val prev = if (i == 1) "p0" else s"p${i - 1}"
      sb ++= s",\nc$i AS MATERIALIZED (SELECT e.dst AS id, SUM(p.score / d.deg) AS mass FROM edges e " +
        s"JOIN odeg d ON d.src = e.src JOIN $prev p ON p.id = e.src GROUP BY e.dst)"
      sb ++= s",\np$i AS MATERIALIZED (SELECT n.id, " +
        s"(1::DOUBLE - $damping::DOUBLE) * n.t + " +
        s"$damping::DOUBLE * COALESCE(c.mass, 0::DOUBLE) AS score " +
        s"FROM tele n LEFT JOIN c$i c ON c.id = n.id)"
    }
    sb ++= s"\nSELECT id, round(score, $digits) AS score FROM p$numIter"
    sb ++= "\nORDER BY id"
    sb.toString
  }

  /** Convergence-run oracle for
    * [[graft.operators.PageRank.runConverged]], determinized exactly
    * like [[hitsConverged]]/[[salsaConverged]]: unrolled to the
    * iteration count the gate corpus converges at, plus ('n_iter', N)
    * and ('converged', 0|1) assertion rows — the latter checks the
    * kernel's own [[graft.Fixpoint.converged]] verdict. */
  def pageRankConverged(numIter: Int, converged: Boolean = true): String =
    pageRank(numIter = numIter, extraSelects = Seq(
      s"SELECT 'n_iter' AS id, $numIter::DOUBLE AS score",
      s"SELECT 'converged' AS id, ${if (converged) 1 else 0}::DOUBLE AS score"))

  /** Simplified SALSA (K7/K9/K12): degree mass, L1. */
  def salsaSimplified(weighted: Boolean = false, extraCtes: Seq[String] = Nil,
      edgesRel: String = "edges", digits: Int = 9,
      graph: String = null): String = {
    val m = if (weighted) "SUM(w)" else "CAST(COUNT(*) AS DOUBLE)"
    val ctes = (Seq(if (graph == null) graphCtes else graph) ++ extraCtes).mkString(",\n")
    s"""WITH $ctes,
       |od AS MATERIALIZED (SELECT src AS id, $m AS m FROM $edgesRel GROUP BY src),
       |idg AS MATERIALIZED (SELECT dst AS id, $m AS m FROM $edgesRel GROUP BY dst)
       |SELECT 'auth' AS kind, id, round(m / (SELECT SUM(m) FROM idg), $digits) AS score FROM idg
       |UNION ALL SELECT 'hub' AS kind, id, round(m / (SELECT SUM(m) FROM od), $digits) AS score FROM od
       |ORDER BY kind, id""".stripMargin
  }

  def salsaSimplifiedBase: String = salsaSimplified()
  def salsaWeighted: String = salsaSimplified(weighted = true)
  def salsaQueryDependent(topic: String): String =
    salsaSimplified(extraCtes = Seq(queryDepCtes(topic)), edgesRel = "qedges")

  /** Event-graph kernels: skewed in-degree coverage. */
  def hitsEventBase: String = hits(graph = eventGraphCtes)
  def salsaEventWeighted: String =
    salsaSimplified(weighted = true, graph = eventGraphCtes)

  /** Gap-based sessionization — exact integer output (no FP at all). */
  def sessionize(gapUs: Long = 30L * 60 * 1000000L): String =
    s"""WITH f AS MATERIALIZED (
       |  SELECT user_id, epoch_us(ts) AS e, event_id,
       |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
       |              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > $gapUs THEN 1
       |              ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
       |g AS MATERIALIZED (
       |  SELECT user_id, e, event_id,
       |         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY e, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
       |  FROM f)
       |SELECT user_id, sess, COUNT(*) AS n_events, MAX(e) - MIN(e) AS dur_us
       |FROM g GROUP BY user_id, sess ORDER BY user_id, sess""".stripMargin

  /** Mirror of the `stream_window` gate: the hourly tumbling window in
    * epoch-second buckets (Spark's `window(ts, "1 hour")` is
    * epoch-hour aligned in the UTC session zone) without the
    * `n_users` distinct count the streaming agg can't maintain. */
  def streamWindow: String =
    s"""SELECT CAST(epoch_us(ts) // 3600000000 * 3600 AS BIGINT) AS hour_ts,
       |       event_type, count(*) AS n, round(SUM(value), 6) AS total
       |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin

  /** Oracle for the `stream_two_drains` concurrency gate: the
    * [[streamWindow]] and [[eventsRunningTotals]] batch semantics,
    * reshaped into the gate's tagged `(drain, key, n, v)` union — any
    * cross-drain interference in either concurrent query diverges from
    * this row set. */
  def streamTwoDrains(maxUser: Long = 20): String =
    s"""WITH w AS (
       |  SELECT 'window' AS drain,
       |    CAST(epoch_us(ts) // 3600000000 * 3600 AS BIGINT)::VARCHAR
       |      || '|' || event_type AS key,
       |    count(*) AS n, round(SUM(value), 6) AS v
       |  FROM events GROUP BY 1, 2),
       |t AS (
       |  SELECT 'totals' AS drain,
       |    user_id::VARCHAR || '|' || event_id::VARCHAR AS key,
       |    CAST(round(SUM(value) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      * 100.0::DOUBLE) AS BIGINT) AS n,
       |    0.0::DOUBLE AS v
       |  FROM events WHERE user_id < $maxUser)
       |SELECT * FROM w UNION ALL SELECT * FROM t
       |ORDER BY drain, key""".stripMargin

  /** Mirror of the `stream_sessionize` gate: the [[sessionize]] batch
    * sessions restricted to what a finite AvailableNow drain of the
    * explicit-state sessionizer
    * ([[graft.streaming.EventPipelines.sessionizeStream]], watermark
    * delay 0) actually emits — every session CLOSED by a later event
    * (all but each user's last), plus each user's last session iff the
    * event-time timeout fired for it: Spark fires a state timeout when
    * the watermark advances STRICTLY beyond the registered deadline
    * (`last + gap`, ms resolution), and the final watermark of a
    * delay-0 drain is the global max event time — so the one session
    * that can never flush is a last session whose `last + gap` reaches
    * past the corpus' max timestamp (empirically pinned at sf0.001:
    * 946 batch sessions → 945 streamed; the unflushed one belongs to
    * the max-ts holder). */
  def streamSessionize(gapUs: Long = 30L * 60 * 1000000L): String =
    s"""WITH f AS MATERIALIZED (
       |  SELECT user_id, epoch_us(ts) AS e, event_id,
       |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
       |              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > $gapUs THEN 1
       |              ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
       |g AS MATERIALIZED (
       |  SELECT user_id, e, event_id,
       |         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY e, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
       |  FROM f),
       |sess AS MATERIALIZED (
       |  SELECT user_id, sess, COUNT(*) AS n_events,
       |         MAX(e) - MIN(e) AS dur_us, MAX(e) AS last_e
       |  FROM g GROUP BY user_id, sess),
       |lastsess AS (SELECT user_id, MAX(sess) AS last_sess
       |             FROM sess GROUP BY user_id),
       |wm AS (SELECT MAX(e) // 1000 AS wm_ms FROM f)
       |SELECT user_id, n_events, dur_us
       |FROM sess JOIN lastsess USING (user_id) CROSS JOIN wm
       |WHERE sess < last_sess OR (last_e // 1000 + ${gapUs / 1000}) < wm_ms
       |ORDER BY user_id, n_events, dur_us""".stripMargin

  // ------------------- utility operators -------------------

  def topicsList: String =
    s"WITH $graphCtes\nSELECT label FROM nodes GROUP BY label ORDER BY label"

  def degrees: String =
    s"""WITH $graphCtes
       |SELECT 'out' AS kind, src AS id, COUNT(*) AS degree FROM edges GROUP BY src
       |UNION ALL SELECT 'in' AS kind, dst AS id, COUNT(*) AS degree FROM edges GROUP BY dst
       |ORDER BY kind, id""".stripMargin

  /** Per-node triangle counts + local clustering coefficient, twin of
    * [[graft.operators.Triangles.perNode]]. The oracle enumerates each
    * triangle once at its id-lowest corner (Spark orients by (degree,
    * id) instead — a pure performance choice; the triangle SET is
    * order-independent). `2t/(d(d-1))` is exact-integer double
    * division on both engines, so round-9 values match bitwise. */
  def triangles(graph: String = edgesCte): String =
    s"""WITH $graph,
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst
       |),
       |deg AS MATERIALIZED (
       |  SELECT id, COUNT(*) AS deg
       |  FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und) u
       |  GROUP BY id
       |),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM und e1
       |  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
       |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
       |),
       |cnt AS (
       |  SELECT id, COUNT(*) AS t
       |  FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
       |        UNION ALL SELECT z FROM tri) r
       |  GROUP BY id
       |)
       |SELECT d.id, COALESCE(c.t, 0)::BIGINT AS triangles,
       |       round(CASE WHEN d.deg >= 2
       |         THEN (2 * COALESCE(c.t, 0))::DOUBLE / (d.deg * (d.deg - 1))::DOUBLE
       |         ELSE 0.0::DOUBLE END, 9) AS clustering
       |FROM deg d LEFT JOIN cnt c ON c.id = d.id
       |ORDER BY d.id""".stripMargin

  /** DOULION approximate triangle count, twin of
    * [[graft.operators.Triangles.approxCount]]: the identical
    * hash-gated edge sample (graft_hash coin — same subgraph on both
    * engines), triangles counted once each via the a<b ordered
    * three-way self-join, scaled by (1000/p)³. `pPermille <= 0`
    * replays the CORPUS-DERIVED rate
    * ([[graft.operators.Triangles.autoPPermille]]): p = max(1,
    * 1000 >> s) where s counts the exact-integer thresholds
    * `baseEdges·8^i` the undirected edge count has passed — unrolled
    * as `count(*)` comparisons, the `tableActivation` discipline, so
    * one static SQL string replays the derivation at every scale.
    * The (1000.0/p)·(1000.0/p)·(1000.0/p) scale factor mirrors the
    * Scala `scale*scale*scale` association exactly. */
  def trianglesApprox(pPermille: Int = 0,
      baseEdges: Long = 16384): String = {
    val coin = GraftHash.duckdbSql("a || '|' || b || '|trisample'")
    val pSql =
      if (pPermille > 0) pPermille.toString
      else {
        // 1000 >> 10 already underflows to the 1-permille floor, so
        // ten unrolled thresholds cover every corpus size
        val steps = (0 until 10).map(i =>
          s"(CASE WHEN (SELECT COUNT(*) FROM und) > " +
            s"${baseEdges << (3 * i)} THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"greatest(1, 1000 // (1 << ($steps)))"
      }
    s"""WITH $edgesCte,
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst
       |),
       |pp AS MATERIALIZED (SELECT CAST($pSql AS INTEGER) AS p),
       |samp AS MATERIALIZED (
       |  SELECT a, b FROM und WHERE $coin % 1000 < (SELECT p FROM pp)
       |),
       |t AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS sampled_triangles
       |  FROM samp e1
       |  JOIN samp e2 ON e2.a = e1.a AND e2.b > e1.b
       |  JOIN samp e3 ON e3.a = e1.b AND e3.b = e2.b
       |)
       |SELECT (SELECT p FROM pp) AS p_permille,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS sampled_edges,
       |       sampled_triangles,
       |       round(sampled_triangles::DOUBLE
       |             * ((1000.0::DOUBLE / (SELECT p FROM pp))
       |                * (1000.0::DOUBLE / (SELECT p FROM pp))
       |                * (1000.0::DOUBLE / (SELECT p FROM pp))),
       |             6) AS triangles_est
       |FROM t""".stripMargin
  }

  /** Connected components of the undirected projection, twin of
    * [[graft.operators.ConnectedComponents.componentsOn]] (and of the
    * weighted-threshold [[graft.operators.ConnectedComponents
    * .componentsWeightedOn]] when `minStrength > 0`). The engine runs
    * large-star/small-star to a star forest (convergence asserted
    * loudly); the CONVERGED labels are algorithm-independent — the
    * minimum node id of each component — so the twin may use any
    * correct formulation. A recursive reachability closure (the
    * [[dedupClusters]] CTE) is quadratic in component size and the
    * order graph is one GIANT component, so instead this unrolls
    * `rounds` min-label rounds, each a neighbor-min hop (label reach
    * +1) composed with a pointer jump `c ← c(c)` (reach compounds),
    * the Shiloach–Vishkin hybrid: convergence in O(log n) rounds —
    * measured ≤7 at sf0.1 on the full projection, ≤5 thresholded;
    * 16 unrolled rounds is a wide margin, and an insufficient unroll
    * surfaces as a hash mismatch, never silently. Node universe =
    * nodes with at least one (qualifying) edge, matching `runStar`'s
    * nodes-in-some-pair contract. */
  def graphComponents(minStrength: Double = 0.0, rounds: Int = 16,
      graph: String = edgesCte): String = {
    val tau = math.round(minStrength * 1e6)
    val base =
      if (tau > 0)
        s"""base AS MATERIALIZED (
           |  SELECT a, b FROM (
           |    SELECT least(src, dst) AS a, greatest(src, dst) AS b,
           |           SUM(CAST(round(w * 1000000.0::DOUBLE) AS BIGINT)) AS wt
           |    FROM edges WHERE src <> dst GROUP BY 1, 2)
           |  WHERE wt >= $tau
           |)""".stripMargin
      else
        s"""base AS MATERIALIZED (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM edges WHERE src <> dst
           |)""".stripMargin
    val sb = new StringBuilder
    sb ++= s"WITH $graph,\n$base,\n"
    sb ++=
      """sym AS MATERIALIZED (
        |  SELECT a AS x, b AS y FROM base
        |  UNION ALL SELECT b, a FROM base),
        |l0 AS MATERIALIZED (
        |  SELECT x AS id, least(x, MIN(y)) AS c FROM sym GROUP BY x)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++= s""",
         |h$i AS MATERIALIZED (
         |  SELECT u.id, least(u.c, coalesce(m.nc, u.c)) AS c
         |  FROM l${i - 1} u LEFT JOIN (
         |    SELECT s.x AS id, MIN(l.c) AS nc
         |    FROM sym s JOIN l${i - 1} l ON l.id = s.y GROUP BY s.x) m
         |  USING (id)),
         |l$i AS MATERIALIZED (
         |  SELECT a.id, least(a.c, b.c) AS c
         |  FROM h$i a JOIN l${i - 1} b ON b.id = a.c)""".stripMargin
    }
    sb ++= s"""
       |SELECT l.id, l.c AS component, s.n AS n_members
       |FROM l$rounds l JOIN (
       |  SELECT c, COUNT(*) AS n FROM l$rounds GROUP BY c) s ON s.c = l.c
       |ORDER BY l.id""".stripMargin
    sb.toString
  }

  /** k-truss, twin of [[graft.operators.KTruss.run]]: the support peel
    * unrolled `rounds` deep, the [[kCore]] contract — peeling is
    * monotone, so rounds past the fixed point are identities and a
    * generous static unroll equals the engine's fixed point exactly
    * (the operator fails loudly if ITS `maxRounds` is hit
    * unconverged). Each round enumerates the current subgraph's
    * triangles once via the a<b ordered three-way self-join (the
    * triangle SET is orientation-independent — Spark orients by
    * (degree, id) purely for wedge-width bounds), credits the three
    * id-canonical edges, and keeps edges with support ≥ k-2. The
    * final round's support table was computed over the fixed-point
    * edge set, so it carries the output's `support` column verbatim —
    * the same bookkeeping the engine's convergence branch uses.
    * Measured convergence: ≤13 shrinking rounds at k=4 across
    * sf0.001/0.01/0.1; 24 is the same margin [[kCore]] ships. */
  def kTruss(k: Int = 4, rounds: Int = 24,
      graph: String = edgesCte): String = {
    val minSup = k - 2
    val sb = new StringBuilder
    sb ++= s"WITH $graph,\n"
    sb ++=
      """e0 AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges WHERE src <> dst
        |)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++= s""",
         |t$i AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e${i - 1} e1
         |  JOIN e${i - 1} e2 ON e2.a = e1.a AND e2.b > e1.b
         |  JOIN e${i - 1} e3 ON e3.a = e1.b AND e3.b = e2.b),
         |s$i AS MATERIALIZED (
         |  SELECT a, b, COUNT(*) AS support FROM (
         |    SELECT x AS a, y AS b FROM t$i
         |    UNION ALL SELECT x, z FROM t$i
         |    UNION ALL SELECT y, z FROM t$i) u
         |  GROUP BY a, b),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN s$i s USING (a, b) WHERE s.support >= $minSup)""".stripMargin
    }
    sb ++= s"""
       |SELECT e.a, e.b, s.support
       |FROM e$rounds e JOIN s$rounds s USING (a, b)
       |ORDER BY e.a, e.b""".stripMargin
    sb.toString
  }

  /** Weighted triangle strength, twin of
    * [[graft.operators.Triangles.perNodeWeighted]]: the weighted
    * projection sums each endpoint pair's directed-edge weights in
    * MICRO-UNIT INTEGERS (the clusterReport discipline — integer sums
    * are addend-order-free, so the cross-engine surface stays exact
    * until one final division), triangles enumerated once each via the
    * a<b ordered three-way self-join (same set as Spark's
    * degree-oriented enumeration — triangle identity is the node
    * set), per-node count + strength aggregated from the exploded
    * corners. */
  def trianglesWeighted(digits: Int = 6): String =
    s"""WITH $edgesCte,
       |undw AS MATERIALIZED (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |         SUM(CAST(round(w * 1000000.0::DOUBLE) AS BIGINT)) AS wt
       |  FROM edges WHERE src <> dst GROUP BY 1, 2
       |),
       |deg AS MATERIALIZED (
       |  SELECT id, COUNT(*) AS deg
       |  FROM (SELECT a AS id FROM undw UNION ALL SELECT b FROM undw) u
       |  GROUP BY id
       |),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z,
       |         e1.wt + e2.wt + e3.wt AS twt
       |  FROM undw e1
       |  JOIN undw e2 ON e2.a = e1.a AND e2.b > e1.b
       |  JOIN undw e3 ON e3.a = e1.b AND e3.b = e2.b
       |),
       |cnt AS (
       |  SELECT id, COUNT(*) AS t, SUM(twt) AS s
       |  FROM (SELECT x AS id, twt FROM tri UNION ALL SELECT y, twt FROM tri
       |        UNION ALL SELECT z, twt FROM tri) r
       |  GROUP BY id
       |)
       |SELECT d.id, COALESCE(c.t, 0)::BIGINT AS triangles,
       |       round(COALESCE(c.s, 0)::DOUBLE / 1000000.0::DOUBLE, $digits)
       |         AS strength
       |FROM deg d LEFT JOIN cnt c ON c.id = d.id
       |ORDER BY d.id""".stripMargin

  /** Weighted k-core, twin of [[graft.operators.KCore.runWeighted]]:
    * the [[kCore]] unroll with the COUNT aggregate swapped for the
    * micro-unit integer strength SUM and the threshold in micro-units
    * — monotone peel, so extra unrolled rounds past the fixed point
    * are identities. */
  def kCoreWeighted(minStrength: Double = 300000.0,
      rounds: Int = 24): String = {
    val kMicro = math.round(minStrength * 1e6)
    val steps = (1 to rounds).map { i =>
      s"""keep$i AS MATERIALIZED (
         |  SELECT id FROM (
         |    SELECT id, SUM(wt) AS wd
         |    FROM (SELECT a AS id, wt FROM e${i - 1}
         |          UNION ALL SELECT b, wt FROM e${i - 1}) u
         |    GROUP BY id) d
         |  WHERE wd >= $kMicro
         |),
         |e$i AS MATERIALIZED (
         |  SELECT a, b, wt FROM e${i - 1}
         |  WHERE a IN (SELECT id FROM keep$i)
         |    AND b IN (SELECT id FROM keep$i)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |e0 AS MATERIALIZED (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |         SUM(CAST(round(w * 1000000.0::DOUBLE) AS BIGINT)) AS wt
       |  FROM edges WHERE src <> dst GROUP BY 1, 2
       |),
       |$steps
       |SELECT id,
       |       round(SUM(wt)::DOUBLE / 1000000.0::DOUBLE, 6) AS core_strength
       |FROM (SELECT a AS id, wt FROM e$rounds
       |      UNION ALL SELECT b, wt FROM e$rounds) u
       |GROUP BY id
       |ORDER BY id""".stripMargin
  }

  /** Top-k link-prediction candidates, twin of
    * [[graft.operators.LinkPredict.topCandidates]]: common-neighbor
    * count + Adamic-Adar through centers of degree ≤ `maxCenterDegree`,
    * non-adjacent pairs only, (count desc, rounded score desc, ids)
    * ordering. `1/ln(dc)` terms are bit-identical across engines;
    * the sum is rounded to `digits` like the kernel score gates. */
  def linkPredict(k: Int = 20, maxCenterDegree: Long = 64,
      digits: Int = 6, graph: String = edgesCte): String =
    s"""WITH $graph,
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst
       |),
       |deg AS MATERIALIZED (
       |  SELECT id, COUNT(*) AS deg
       |  FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und) u
       |  GROUP BY id
       |),
       |adj AS MATERIALIZED (
       |  SELECT t.c, t.n, d.deg AS dc
       |  FROM (SELECT a AS c, b AS n FROM und
       |        UNION ALL SELECT b AS c, a AS n FROM und) t
       |  JOIN deg d ON d.id = t.c
       |  WHERE d.deg <= $maxCenterDegree
       |),
       |scored AS (
       |  SELECT a1.n AS src, a2.n AS dst, COUNT(*) AS common_neighbors,
       |         SUM(1.0::DOUBLE / ln(a1.dc::DOUBLE)) AS aa
       |  FROM adj a1 JOIN adj a2 ON a2.c = a1.c AND a2.n > a1.n
       |  GROUP BY a1.n, a2.n
       |)
       |SELECT s.src, s.dst, s.common_neighbors,
       |       round(s.aa, $digits) AS adamic_adar
       |FROM scored s
       |WHERE NOT EXISTS (SELECT 1 FROM und
       |                  WHERE und.a = s.src AND und.b = s.dst)
       |ORDER BY s.common_neighbors DESC, round(s.aa, $digits) DESC,
       |         s.src, s.dst
       |LIMIT $k""".stripMargin

  /** Weighted link prediction, twin of
    * [[graft.operators.LinkPredict.topCandidatesWeighted]]: bottleneck
    * common strength (micro-unit integer Σ min(wt, wt') — the exact
    * primary ranking key) and the weighted Adamic–Adar discount
    * Σ 1/ln(1 + strength(c)) through centers of UNWEIGHTED degree ≤
    * `maxCenterDegree`, non-adjacent pairs only, (strength desc,
    * rounded score desc, ids) ordering — the [[linkPredict]] parity
    * shape with the weighted evidence columns. */
  def linkPredictWeighted(k: Int = 20, maxCenterDegree: Long = 64,
      digits: Int = 6, graph: String = edgesCte): String =
    s"""WITH $graph,
       |undw AS MATERIALIZED (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |         SUM(CAST(round(w * 1000000.0::DOUBLE) AS BIGINT)) AS wt
       |  FROM edges WHERE src <> dst GROUP BY 1, 2
       |),
       |deg AS MATERIALIZED (
       |  SELECT id, COUNT(*) AS deg
       |  FROM (SELECT a AS id FROM undw UNION ALL SELECT b FROM undw) u
       |  GROUP BY id
       |),
       |wdeg AS MATERIALIZED (
       |  SELECT id, SUM(wt) AS wd
       |  FROM (SELECT a AS id, wt FROM undw
       |        UNION ALL SELECT b, wt FROM undw) u
       |  GROUP BY id
       |),
       |adj AS MATERIALIZED (
       |  SELECT t.c, t.n, t.wt, w.wd AS wc
       |  FROM (SELECT a AS c, b AS n, wt FROM undw
       |        UNION ALL SELECT b AS c, a AS n, wt FROM undw) t
       |  JOIN deg d ON d.id = t.c
       |  JOIN wdeg w ON w.id = t.c
       |  WHERE d.deg <= $maxCenterDegree
       |),
       |scored AS (
       |  SELECT a1.n AS src, a2.n AS dst, COUNT(*) AS common_neighbors,
       |         SUM(least(a1.wt, a2.wt)) AS cs_micro,
       |         SUM(1.0::DOUBLE / ln(1.0::DOUBLE
       |           + CAST(a1.wc AS DOUBLE) / 1000000.0::DOUBLE)) AS waa
       |  FROM adj a1 JOIN adj a2 ON a2.c = a1.c AND a2.n > a1.n
       |  GROUP BY a1.n, a2.n
       |)
       |SELECT src, dst, common_neighbors,
       |       round(CAST(cs_micro AS DOUBLE) / 1000000.0::DOUBLE, $digits)
       |         AS common_strength,
       |       round(waa, $digits) AS adamic_adar_weighted
       |FROM scored s
       |WHERE NOT EXISTS (SELECT 1 FROM undw
       |                  WHERE undw.a = s.src AND undw.b = s.dst)
       |ORDER BY cs_micro DESC, round(waa, $digits) DESC, src, dst
       |LIMIT $k""".stripMargin

  /** Semi-supervised label propagation, twin of
    * [[graft.operators.LabelProp.run]] as wired by the
    * `graph_label_prop` gate: hash-gated seeds (graft_hash % 100 <
    * `seedPct`) carrying the node's own label, `iters` synchronous
    * rounds unrolled as CTEs, clamped seeds, (count desc, label asc)
    * deterministic majority. All counts are exact integers — no
    * floating point anywhere in the parity surface. */
  def labelProp(iters: Int = 4, seedPct: Int = 30,
      weighted: Boolean = false,
      graph: String = s"$edgesCte,\n$nodesCte"): String = {
    // weighted: each neighbor's vote is its undirected edge strength
    // (micro-unit integer — [[trianglesWeighted]]'s projection) instead
    // of 1; same unroll, the aggregate swaps COUNT for SUM(wt)
    val voteAgg = if (weighted) "SUM(e.wt)" else "COUNT(*)"
    val rounds = (1 to iters).map { i =>
      s"""votes$i AS (
         |  SELECT e.id, l.label, $voteAgg AS c
         |  FROM sym e JOIN lab${i - 1} l ON l.id = e.src
         |  WHERE l.label IS NOT NULL GROUP BY e.id, l.label
         |),
         |best$i AS (
         |  SELECT id, label AS vote FROM (
         |    SELECT id, label,
         |           ROW_NUMBER() OVER (PARTITION BY id
         |                              ORDER BY c DESC, label) AS rn
         |    FROM votes$i) t
         |  WHERE rn = 1
         |),
         |lab$i AS MATERIALIZED (
         |  SELECT l.id, COALESCE(l.label, b.vote) AS label
         |  FROM lab${i - 1} l LEFT JOIN best$i b ON b.id = l.id
         |)""".stripMargin
    }.mkString(",\n")
    val undCte = if (!weighted)
      s"""und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b,
         |         1::BIGINT AS wt
         |  FROM edges WHERE src <> dst
         |)""".stripMargin
    else
      s"""und AS MATERIALIZED (
         |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         |         SUM(CAST(round(w * 1000000.0::DOUBLE) AS BIGINT)) AS wt
         |  FROM edges WHERE src <> dst GROUP BY 1, 2
         |)""".stripMargin
    s"""WITH $graph,
       |$undCte,
       |sym AS MATERIALIZED (
       |  SELECT a AS src, b AS id, wt FROM und
       |  UNION ALL SELECT b AS src, a AS id, wt FROM und
       |),
       |lab0 AS MATERIALIZED (
       |  -- LEFT join (ADVICE r17): the operator keeps every edge
       |  -- endpoint and emits it 'unlabeled' when the node table has
       |  -- no row for it; an INNER join only matched because the gate's
       |  -- nodes CTE is itself edge-derived, and would silently drop
       |  -- such a node on a real node table, masquerading as an engine
       |  -- row-count bug
       |  SELECT u.id,
       |         CASE WHEN ${GraftHash.duckdbSql("u.id")} % 100 < $seedPct
       |              THEN n.label END AS label
       |  FROM (SELECT DISTINCT id FROM sym) u
       |  LEFT JOIN nodes n ON n.id = u.id
       |),
       |$rounds
       |SELECT id, COALESCE(label, 'unlabeled') AS label FROM lab$iters
       |ORDER BY id""".stripMargin
  }

  /** k-core membership + within-core degree, twin of
    * [[graft.operators.KCore.run]]. Peeling is monotone, so the oracle
    * unrolls `rounds` fixed iterations (extra rounds past the fixed
    * point are identities) — exact equality with Spark's fixpoint loop
    * as long as that loop converges within the same bound, which the
    * operator enforces with a loud failure. Integer-only parity
    * surface. */
  def kCore(k: Int = 3, rounds: Int = 24,
      graph: String = edgesCte): String = {
    val steps = (1 to rounds).map { i =>
      s"""keep$i AS MATERIALIZED (
         |  SELECT id FROM (
         |    SELECT id, COUNT(*) AS deg
         |    FROM (SELECT a AS id FROM e${i - 1}
         |          UNION ALL SELECT b FROM e${i - 1}) u
         |    GROUP BY id) d
         |  WHERE deg >= $k
         |),
         |e$i AS MATERIALIZED (
         |  SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT id FROM keep$i)
         |    AND b IN (SELECT id FROM keep$i)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graph,
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst
       |),
       |$steps
       |SELECT id, COUNT(*) AS core_degree
       |FROM (SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds) u
       |GROUP BY id
       |ORDER BY id""".stripMargin
  }

  /** Top-10 simplified-SALSA authorities: exercises the top-k path with a
    * deterministic (exact-rational score, id-tiebreak) ordering. */
  def rankTopK(k: Int = 10): String =
    s"""WITH $graphCtes,
       |idg AS MATERIALIZED (SELECT dst AS id, CAST(COUNT(*) AS DOUBLE) AS m FROM edges GROUP BY dst)
       |SELECT id, round(m / (SELECT SUM(m) FROM idg), 9) AS score FROM idg
       |ORDER BY m / (SELECT SUM(m) FROM idg) DESC, id LIMIT $k""".stripMargin

  /** Deterministic hash-based sample — cross-engine-checkable stand-in for
    * the reference's seeded Bernoulli sample (`src/base_hits.py:78-79`). */
  def sampleHash(pct: Int = 5): String =
    s"WITH $graphCtes\nSELECT id FROM nodes WHERE " +
      s"${GraftHash.duckdbSql("id")} % 100 < $pct ORDER BY id"

  /** Oracle twin of [[graft.operators.RankOutput.renderModelHash]] (mode
    * `"both"`) over the base-HITS vectors: top-k hub/auth sets with the
    * deterministic (score DESC, id) tiebreak, hash-gated node/edge
    * samples replayed exactly via the graft_hash SQL twin, and the
    * reference's color/size view semantics
    * (`src/draw_graphs.py:59-67`). */
  def renderModel(k: Int = 20, nodePct: Int = 5, edgePm: Int = 4): String = {
    val nh = GraftHash.duckdbSql("id")
    val eh = GraftHash.duckdbSql("src || '|' || dst")
    hits(tailSql = s""",
      |toph AS MATERIALIZED (SELECT id, score FROM h8 ORDER BY score DESC, id LIMIT $k),
      |topa AS MATERIALIZED (SELECT id, score FROM a8 ORDER BY score DESC, id LIMIT $k),
      |sampn AS (SELECT id FROM h8 WHERE $nh % 100 < $nodePct),
      |sampe AS MATERIALIZED (SELECT src, dst FROM edges WHERE $eh % 1000 < $edgePm),
      |univ AS (SELECT DISTINCT id FROM (
      |  SELECT src AS id FROM sampe UNION ALL SELECT dst FROM sampe
      |  UNION ALL SELECT id FROM toph UNION ALL SELECT id FROM topa
      |  UNION ALL SELECT id FROM sampn))
      |SELECT u.id,
      |  CASE WHEN th.id IS NOT NULL AND ta.id IS NOT NULL THEN 'purple'
      |       WHEN th.id IS NOT NULL THEN 'red'
      |       WHEN ta.id IS NOT NULL THEN 'blue' ELSE 'grey' END AS color,
      |  round(coalesce(th.score * 10000, ta.score * 10000, 500.0::DOUBLE), 2) AS width
      |FROM univ u
      |LEFT JOIN toph th ON u.id = th.id
      |LEFT JOIN topa ta ON u.id = ta.id
      |ORDER BY u.id""".stripMargin)
  }

  // ------------------- events (batch twins of the streaming pipeline) ----

  def eventsWindow: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
      |       event_type,
      |       COUNT(*) AS n,
      |       COUNT(DISTINCT user_id) AS n_users,
      |       round(SUM(value), 6) AS total
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** ROLLUP totals (mirror of EventPipelines.typeRollup). */
  def eventsRollup: String =
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(round(SUM(value) * 100.0::DOUBLE) AS BIGINT) AS cents
      |FROM events GROUP BY ROLLUP(event_type)
      |ORDER BY event_type NULLS FIRST""".stripMargin

  /** Cumulative per-user totals (mirror of EventPipelines.runningTotals);
    * both engines accumulate in identical frame order, so the doubles
    * are bit-equal before the cent rounding. */
  def eventsRunningTotals(maxUser: Long = 20): String =
    s"""SELECT user_id, event_id,
       |       CAST(round(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100.0::DOUBLE) AS BIGINT) AS running_cents
       |FROM events WHERE user_id < $maxUser
       |ORDER BY user_id, event_id""".stripMargin

  /** Never-stopped twin of the CHANGED-OPERATOR restart gate
    * (`stream_restart_evolved`): the running-totals fold over phase-1
    * events (at or before the corpus's mid timestamp — the same
    * `lo + (hi-lo)/2` integer split [[graft.streaming.Restart
    * .twoPhaseDrain]] uses, in epoch nanos) plus only the EVEN
    * event_ids of phase 2, accumulated in the same per-user
    * (ts, event_id) order. */
  def eventsRunningTotalsEvolved(maxUser: Long = 20): String =
    s"""WITH bounds AS (
       |  SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi
       |  FROM events),
       |kept AS (
       |  SELECT user_id, ts, event_id, value FROM events, bounds
       |  WHERE user_id < $maxUser
       |    AND (epoch_ns(ts) <= lo + (hi - lo) // 2 OR event_id % 2 = 0))
       |SELECT user_id, event_id,
       |       CAST(round(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100.0::DOUBLE) AS BIGINT) AS running_cents
       |FROM kept ORDER BY user_id, event_id""".stripMargin

  /** Mirror of [[graft.streaming.EventPipelines.activeTime]]: the
    * interval-union sweep as a lead window over epoch-ns integers. */
  def eventsActiveTime(windowNs: Long = 30L * 60 * 1000000000L): String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT user_id, event_id, epoch_ns(ts) AS ts FROM events),
       |c AS (
       |  SELECT user_id,
       |         least($windowNs, coalesce(
       |           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) - ts,
       |           $windowNs)) AS contrib
       |  FROM e)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(sum(contrib) AS BIGINT) AS active_ns
       |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Mirror of [[graft.streaming.EventPipelines.decayedCounts]]:
    * per-row decay micro-rounded before the exact long sum. */
  def eventsDecayedCounts(lambdaPerSec: Double = 1.0 / 3600): String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT event_type, epoch_ns(ts) AS ts FROM events),
       |m AS (SELECT max(ts) AS t_max FROM e),
       |x AS (
       |  SELECT event_type,
       |         CAST(round(exp(-$lambdaPerSec::DOUBLE *
       |           (CAST(t_max - ts AS DOUBLE) / 1000000000.0))
       |           * 1000000.0) AS BIGINT) AS d
       |  FROM e CROSS JOIN m)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |       round(CAST(sum(d) AS DOUBLE) / 1000000.0, 6) AS decayed_count
       |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin

  /** As-of join oracle: DuckDB's native ASOF LEFT JOIN against the
    * same tie-collapsed view side (mirror of
    * [[graft.streaming.EventPipelines.asofPurchaseView]]). Timestamps
    * are emitted as epoch nanos (`epoch_ns`, unit-agnostic) to match
    * the epoch-nanos BIGINT `ts` contract of
    * [[graft.GraphIO.events]]. */
  def eventsAsof: String =
    s"""WITH vr AS MATERIALIZED (
       |  SELECT user_id, ts, max(value) AS view_value FROM events
       |  WHERE event_type = 'view' GROUP BY user_id, ts),
       |p AS MATERIALIZED (
       |  SELECT event_id, user_id, ts, value FROM events
       |  WHERE event_type = 'purchase')
       |SELECT p.event_id, p.user_id, epoch_ns(p.ts) AS ts, p.value,
       |       epoch_ns(vr.ts) AS view_ts, vr.view_value
       |FROM p ASOF LEFT JOIN vr
       |  ON p.user_id = vr.user_id AND p.ts >= vr.ts
       |ORDER BY event_id""".stripMargin

  /** Range join oracle: the plain range predicate (mirror of
    * [[graft.streaming.EventPipelines.rangeJoinClicksBeforeErrors]] —
    * the bucketing there is a physical routing change, so the naive
    * form IS the semantic oracle). */
  def eventsRangeJoin(windowNs: Long = 3600L * 1000000000L): String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT event_id AS err_id, user_id, epoch_ns(ts) AS err_ts
       |  FROM events WHERE event_type = 'error'),
       |c AS MATERIALIZED (
       |  SELECT event_id AS click_id, user_id, epoch_ns(ts) AS click_ts
       |  FROM events WHERE event_type = 'click')
       |SELECT e.err_id, c.click_id, e.err_ts - c.click_ts AS lag_ns
       |FROM e JOIN c ON e.user_id = c.user_id
       |  AND c.click_ts <= e.err_ts AND c.click_ts >= e.err_ts - $windowNs
       |ORDER BY err_id, click_id""".stripMargin

  /** Oracle for `stream_range_join` — the streaming stream-stream
    * interval join ([[graft.streaming.EventPipelines.rangeJoinStream]])
    * on a single AvailableNow drain emits exactly the batch interval
    * join's pair set, so the oracle is the plain range predicate at µs
    * resolution (the gate µs-floors ts entering the stream). */
  def streamRangeJoin(windowUs: Long = 3600L * 1000000L): String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT event_id AS err_id, user_id, epoch_us(ts) AS err_us
       |  FROM events WHERE event_type = 'error'),
       |c AS MATERIALIZED (
       |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
       |  FROM events WHERE event_type = 'click')
       |SELECT e.err_id, c.click_id, e.err_us - c.click_us AS lag_us
       |FROM e JOIN c ON e.user_id = c.user_id
       |  AND c.click_us <= e.err_us AND c.click_us >= e.err_us - $windowUs
       |ORDER BY err_id, click_id""".stripMargin

  /** Oracle for `stream_dedup` — a finite drain of
    * dropDuplicatesWithinWatermark emits one row per distinct
    * (user_id, event_type); the gate projects only the keys since the
    * surviving payload row is arrival-order-dependent. */
  def streamDedup: String =
    """SELECT user_id, event_type FROM events
      |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin

  /** Oracle for the salted-join query: the salted join's result set is
    * by construction identical to the plain equi-join, so the plain
    * join IS the oracle (the salting is a physical routing change). */
  def skewSaltedJoin: String =
    """WITH dims AS MATERIALIZED (
      |  SELECT DISTINCT event_type, upper(event_type) AS tag FROM events)
      |SELECT d.tag, COUNT(*) AS n,
      |       CAST(round(SUM(e.value) * 100.0::DOUBLE) AS BIGINT) AS cents
      |FROM events e JOIN dims d ON e.event_type = d.event_type
      |GROUP BY d.tag ORDER BY d.tag""".stripMargin

  /** JSON props extraction (mirror of
    * [[graft.streaming.EventPipelines.propsJsonStats]]). TRY_CAST, not
    * CAST: Spark's cast of a non-numeric value yields NULL, so the
    * oracle must be equally lenient rather than abort the query. */
  def eventsPropsJson: String =
    """SELECT event_type,
      |       COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
      |       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Mirror of [[graft.pipelines.Sketches.kmvDistinct]] over
    * `CAST(user_id AS VARCHAR)` per event type, alongside the exact
    * distinct count. The sketch (K smallest distinct wide-hash values)
    * is integer-exact, and the closed-form estimator is written with
    * the exact operation order of the Spark expression — so even the
    * APPROXIMATE count hash-compares across engines. */
  /** Shared KMV sketch chain: CTEs `h → r → sk` computing per-`grpCol`
    * sketch size and the Kth-smallest hash from `(grpCol, $valExpr)`
    * rows of `srcSql`, plus the estimator CASE. `valExpr` must be a
    * string SQL expression. */
  private def kmvChain(srcSql: String, grpCol: String, valExpr: String,
      k: Int): (String, String) = {
    val ext = s"($valExpr) || '|' || ($valExpr) || '#' || ($valExpr)"
    val h1 = GraftHash.duckdbSql(s"($ext)")
    val h2 = GraftHash.duckdbSql2(s"($ext)")
    val ctes =
      s"""h AS MATERIALIZED (
         |  SELECT DISTINCT $grpCol, ($h1 * 1000000009 + $h2) AS c
         |  FROM ($srcSql) WHERE ($valExpr) IS NOT NULL),
         |r AS (
         |  SELECT $grpCol, c,
         |         ROW_NUMBER() OVER (PARTITION BY $grpCol ORDER BY c) AS rn
         |  FROM h),
         |sk AS (
         |  SELECT $grpCol, COUNT(*) AS n_sk,
         |         MAX(CASE WHEN rn = $k THEN c END) AS ck
         |  FROM r WHERE rn <= $k GROUP BY 1)""".stripMargin
    val est = s"CASE WHEN s.n_sk < $k THEN CAST(s.n_sk AS DOUBLE) " +
      s"ELSE ${(k - 1).toDouble} * (1.000000007E9 * 1.000000009E9) " +
      s"/ CAST(s.ck AS DOUBLE) END"
    (ctes, est)
  }

  def eventsKmvUsers(k: Int = 256): String = {
    val (ctes, est) = kmvChain("SELECT * FROM events", "event_type",
      "CAST(user_id AS VARCHAR)", k)
    s"""WITH $ctes,
       |ex AS (
       |  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events
       |  GROUP BY 1)
       |SELECT s.event_type, ex.n_exact, round($est, 4) AS kmv_users
       |FROM sk s JOIN ex ON ex.event_type = s.event_type
       |ORDER BY s.event_type""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Sketches.kmvPairwiseJaccard]] over
    * per-source shingle sets: Ĵ = |M ∩ S(A) ∩ S(B)| / |M| with M the K
    * smallest of the union — pure integer set algebra on the sketch
    * arrays, so the APPROXIMATE similarity hash-compares. */
  def corpusSourceOverlapKmv(k: Int = 256): String = {
    val src = "SELECT source, unnest(" + TF.sqlShingles("text", 3) +
      ") AS v FROM documents"
    val (ctes, _) = kmvChain(src, "source", "v", k)
    s"""WITH $ctes,
       |ska AS (
       |  SELECT source, list(c ORDER BY c) AS sk FROM r WHERE rn <= $k
       |  GROUP BY 1),
       |p AS (
       |  SELECT x.source AS a, y.source AS b, x.sk AS sa, y.sk AS sb,
       |         list_sort(list_distinct(x.sk || y.sk))[1:$k] AS m
       |  FROM ska x JOIN ska y ON x.source < y.source)
       |SELECT a, b,
       |       round(CAST(len(list_filter(m, v -> list_contains(sa, v)
       |                    AND list_contains(sb, v))) AS DOUBLE)
       |             / CAST(len(m) AS DOUBLE), 6) AS kmv_jaccard
       |FROM p ORDER BY a, b""".stripMargin
  }

  /** Mirror of the `corpus_shingle_kmv` gate: per-source distinct
    * 3-gram shingle cardinality, exact and KMV-estimated — the sketch
    * exercised at realistic token-level cardinality, where the exact
    * `COUNT(DISTINCT)` is the 100 TB pain point. */
  def corpusShingleKmv(k: Int = 256): String = {
    val src = "SELECT source, unnest(" + TF.sqlShingles("text", 3) +
      ") AS v FROM documents"
    val (ctes, est) = kmvChain(src, "source", "v", k)
    s"""WITH $ctes,
       |ex AS (
       |  SELECT source, COUNT(DISTINCT v) AS n_exact FROM ($src) GROUP BY 1)
       |SELECT s.source, ex.n_exact, round($est, 4) AS kmv_shingles
       |FROM sk s JOIN ex ON ex.source = s.source
       |ORDER BY s.source""".stripMargin
  }

  /** Top-3 users per event type by total value. Ranked on exact integer
    * cents so cross-engine double-sum noise cannot reorder ties. */
  def eventsTopUsers: String =
    """WITH s AS (
      |  SELECT event_type, user_id,
      |         CAST(round(SUM(value) * 100.0::DOUBLE) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, user_id, cents,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents DESC, user_id) AS rn
      |  FROM s)
      |SELECT event_type, user_id, cents, rn FROM r WHERE rn <= 3
      |ORDER BY event_type, rn""".stripMargin

  // ------------------- text analysis / dedup / similarity ---------------

  def textStats: String = {
    val t = "text"
    s"""SELECT doc_id,
       |       ${TF.sqlTokenCount(t)} AS n_tokens,
       |       ${TF.sqlPunctCount(t)} AS n_punct,
       |       ${TF.sqlSubtokenCount(t)} AS n_subtokens,
       |       ${TF.sqlLangId(t)} AS lang_pred,
       |       round(${TF.sqlQualityScore(t)}, 6) AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.TextMetrics.repetitionSignals]]:
    * type/token ratio, top-token dominance, duplicate-bigram fraction —
    * same guarded denominators, same 6-decimal rounding. */
  def textRepetition: String = {
    val toks = TF.sqlTokens("text")
    val bi = TF.sqlShingles("text", 2)
    def len(e: String) = s"coalesce(array_length($e), 0)"
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, $toks AS toks, $bi AS bigrams FROM documents),
       |top AS MATERIALIZED (
       |  SELECT doc_id, max(c) AS top_count FROM (
       |    SELECT doc_id, tok, count(*) AS c FROM (
       |      SELECT doc_id, unnest(toks) AS tok FROM t) u
       |    GROUP BY doc_id, tok) g
       |  GROUP BY doc_id)
       |SELECT t.doc_id,
       |       CAST(${len("t.toks")} AS BIGINT) AS n_tokens,
       |       round(CAST(${len("list_distinct(t.toks)")} AS DOUBLE)
       |             / greatest(${len("t.toks")}, 1), 6) AS type_token_ratio,
       |       round(CAST(coalesce(top.top_count, 0) AS DOUBLE)
       |             / greatest(${len("t.toks")}, 1), 6) AS top_token_frac,
       |       round(CAST(${len("t.bigrams")} - ${len("list_distinct(t.bigrams)")} AS DOUBLE)
       |             / greatest(${len("t.bigrams")}, 1), 6) AS dup_bigram_frac
       |FROM t LEFT JOIN top USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Mirror of
    * [[graft.streaming.EventPipelines.typePercentiles]]: continuous
    * quantiles over exact integer cents (`quantile_cont` and Spark's
    * exact `percentile` share the linear-interpolation definition). */
  def eventsPercentiles: String = {
    val cents = "CAST(round(value * 100.0) AS BIGINT)"
    def p(q: String) = s"round(quantile_cont($cents, $q), 6)"
    s"""SELECT event_type, count(*) AS n,
       |       ${p("0.5")} AS p50, ${p("0.9")} AS p90, ${p("0.99")} AS p99
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** Oracle twin of the `stream_percentiles_sketch` gate: replays the
    * fixed-bin sketch LITERALLY — clamped `floor((value-lo)/width)`
    * bin, `lo + width·(bin + 0.5)` midpoint, `quantile_cont` over the
    * midpoint multiset (bit-equal to
    * [[graft.pipelines.Quantiles.contFromCounts]] over the drained
    * histogram) — next to the exact percentiles, then recomputes the
    * observed error and the width/2 bound check independently. */
  def eventsPercentilesSketch(lo: Double, width: Double,
      nbins: Int): String = {
    val m = s"$lo + $width * (least(greatest(floor((value - $lo) / " +
      s"$width), 0), ${nbins - 1}) + 0.5)"
    def p(src: String, q: String) = s"round(quantile_cont($src, $q), 6)"
    s"""WITH binned AS MATERIALIZED (
       |  SELECT event_type, value, $m AS m
       |  FROM events WHERE value IS NOT NULL),
       |wq AS MATERIALIZED (
       |  SELECT event_type, count(*) AS n,
       |    ${p("m", "0.5")} AS p50_sketch, ${p("m", "0.9")} AS p90_sketch,
       |    ${p("m", "0.99")} AS p99_sketch,
       |    ${p("value", "0.5")} AS p50_exact, ${p("value", "0.9")} AS p90_exact,
       |    ${p("value", "0.99")} AS p99_exact
       |  FROM binned GROUP BY event_type),
       |e AS (SELECT *, round(greatest(abs(p50_sketch - p50_exact),
       |    abs(p90_sketch - p90_exact), abs(p99_sketch - p99_exact)), 6)
       |    AS err_max FROM wq)
       |SELECT event_type, n, p50_sketch, p90_sketch, p99_sketch,
       |  p50_exact, p90_exact, p99_exact, err_max,
       |  CASE WHEN err_max <= ${width / 2} THEN 1 ELSE 0 END AS within_bound
       |FROM e ORDER BY event_type""".stripMargin
  }

  /** Oracle twin of the `stream_percentiles_gk` gate: the GK estimate
    * value is arrival-order dependent (no cross-engine replay), so the
    * gate emits its ε-rank GUARANTEE check instead
    * ([[graft.pipelines.Quantiles.approxRankAudit]]) and this oracle
    * supplies the deterministic half — the (event_type × q) universe,
    * each group's n, and the expected all-1 `within_eps` flags. A
    * bound violation on the Spark side hash-mismatches. */
  def eventsPercentilesGk(qs: Seq[Double]): String = {
    val qList = qs.map(q => s"$q::DOUBLE").mkString(", ")
    s"""SELECT event_type, q, count(*) AS n, 1 AS within_eps
       |FROM events CROSS JOIN (SELECT unnest([$qList]) AS q) qq
       |WHERE value IS NOT NULL
       |GROUP BY event_type, q
       |ORDER BY event_type, q""".stripMargin
  }

  def textFingerprint: String =
    s"SELECT doc_id, ${GraftHash.duckdbSql("text")} AS fp " +
      "FROM documents ORDER BY doc_id"

  /** Mirror of [[graft.functions.TextFunctions.normalizeText]] +
    * fingerprint of the normalized form. */
  def textNormalize: String = {
    val norm = TF.sqlNormalizeText("text")
    s"SELECT doc_id, $norm AS norm_text, " +
      s"${GraftHash.duckdbSql(norm)} AS norm_fp " +
      "FROM documents ORDER BY doc_id"
  }

  def textLangIdNgram: String =
    s"SELECT doc_id, ${TF.sqlLangIdNgram("text")} AS lang_tri " +
      "FROM documents ORDER BY doc_id"

  /** Mirror of the real-BPE token count ([[graft.functions.BpeVocab]]
    * via the `text_bpe_tokens` gate): canonical BPE application equals
    * one in-rank-order sweep for well-formed vocabs (see BpeVocab
    * scaladoc), so the oracle is a fixed CTE chain — one stage per
    * merge, each a leftmost fold over the word's chr(31)-delimited
    * symbol string via `list_reduce`. Integer-exact end to end. */
  def textBpeTokens: String = {
    val merges = graft.functions.BpeVocab.Demo.merges
    def esc(s: String) = s.replace("'", "''")
    val d = "chr(31)"
    val mergeStages = merges.zipWithIndex.map { case ((a, b), i) =>
      val prev = if (i == 0) "w0" else s"w$i"
      val fold = s"list_reduce(list_prepend('', string_split(s, $d)), " +
        s"(acc, x) -> CASE WHEN acc = '' THEN x " +
        s"WHEN (acc = '${esc(a)}' OR ends_with(acc, $d || '${esc(a)}')) " +
        s"AND x = '${esc(b)}' " +
        s"THEN substr(acc, 1, length(acc) - ${a.length}) || '${esc(a + b)}' " +
        s"ELSE acc || $d || x END)"
      s"w${i + 1} AS (SELECT doc_id, $fold AS s FROM $prev)"
    }.mkString(",\n")
    s"""WITH words AS MATERIALIZED (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w FROM documents),
       |w0 AS (SELECT doc_id,
       |  array_to_string(regexp_split_to_array(w, ''), $d) AS s FROM words),
       |$mergeStages,
       |wc AS (SELECT doc_id,
       |  array_length(string_split(s, $d)) AS n FROM w${merges.length}),
       |agg AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bpe
       |        FROM wc GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CAST(${TF.sqlSubtokenCount("d.text")} AS BIGINT) AS n_subtokens,
       |       CAST(coalesce(a.n_bpe, 0) AS BIGINT) AS n_bpe
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Shared CTE chain replaying [[graft.pipelines.BpeTrain]] stage for
    * stage: the capped word-type dictionary, then per training round
    * `i` the weighted adjacent-pair counts (`pairs_i`), the
    * deterministic argmax (`pick_i` — `count desc, lhs, rhs`, the
    * Spark side's exact tiebreak), and the leftmost fold of that merge
    * over every word (`tw_{i+1}`, the [[textBpeTokens]] `list_reduce`
    * fold with the merge pulled from `pick_i` via a 1-row cross join
    * instead of a literal). Every CTE is MATERIALIZED — the chain is
    * self-referential enough that inlining explodes. */
  private def bpeTrainCtes(k: Int, minCount: Long, maxWordTypes: Int): String = {
    val d = "chr(31)"
    val stages = (0 until k).map { i =>
      s"""pairs_$i AS MATERIALIZED (
         |  SELECT syms[j] AS lhs, syms[j + 1] AS rhs,
         |         CAST(SUM(cnt) AS BIGINT) AS c
         |  FROM (SELECT unnest(generate_series(1, array_length(syms) - 1)) AS j,
         |               syms, cnt
         |        FROM (SELECT string_split(s, $d) AS syms, cnt FROM tw_$i) t0) t
         |  GROUP BY 1, 2),
         |pick_$i AS MATERIALIZED (
         |  SELECT lhs, rhs, c FROM pairs_$i ORDER BY c DESC, lhs, rhs LIMIT 1),
         |tw_${i + 1} AS MATERIALIZED (
         |  SELECT list_reduce(list_prepend('', string_split(s, $d)),
         |    (acc, x) -> CASE WHEN acc = '' THEN x
         |      WHEN (acc = p.lhs OR ends_with(acc, $d || p.lhs)) AND x = p.rhs
         |      THEN substr(acc, 1, length(acc) - length(p.lhs)) || p.lhs || p.rhs
         |      ELSE acc || $d || x END) AS s, cnt
         |  FROM tw_$i CROSS JOIN pick_$i p)""".stripMargin
    }.mkString(",\n")
    s"""twords AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(regexp_extract_all(lower(text),
       |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w FROM documents) u
       |  GROUP BY w HAVING count(*) >= $minCount
       |  ORDER BY cnt DESC, w LIMIT $maxWordTypes),
       |tw_0 AS MATERIALIZED (
       |  SELECT array_to_string(regexp_split_to_array(w, ''), $d) AS s, cnt
       |  FROM twords),
       |$stages""".stripMargin
  }

  /** Mirror of [[graft.pipelines.BpeTrain.merges]]: the learned merge
    * list, rank by rank. */
  def bpeTrain(k: Int = graft.pipelines.BpeTrain.DefaultMerges,
      minCount: Long = graft.pipelines.BpeTrain.DefaultMinCount,
      maxWordTypes: Int = graft.pipelines.BpeTrain.DefaultMaxWordTypes)
      : String = {
    val union = (0 until k).map { i =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS rnk, lhs, rhs, c AS pcnt " +
        s"FROM pick_$i"
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeTrainCtes(k, minCount, maxWordTypes)}
       |SELECT * FROM ($union) ORDER BY rnk""".stripMargin
  }

  /** Mirror of the TRAINED-vocab `text_bpe_tokens` gate: the
    * [[bpeTrainCtes]] training chain learns the merges, then the
    * [[textBpeTokens]] apply chain replays them over the documents —
    * each apply stage pulling its merge from the corresponding
    * `pick_i` (1-row cross join) instead of a pinned literal. */
  def textBpeTokensTrained(
      k: Int = graft.pipelines.BpeTrain.DefaultMerges,
      minCount: Long = graft.pipelines.BpeTrain.DefaultMinCount,
      maxWordTypes: Int = graft.pipelines.BpeTrain.DefaultMaxWordTypes)
      : String = {
    val d = "chr(31)"
    val applyStages = (0 until k).map { i =>
      s"""w${i + 1} AS MATERIALIZED (
         |  SELECT doc_id, list_reduce(list_prepend('', string_split(s, $d)),
         |    (acc, x) -> CASE WHEN acc = '' THEN x
         |      WHEN (acc = p.lhs OR ends_with(acc, $d || p.lhs)) AND x = p.rhs
         |      THEN substr(acc, 1, length(acc) - length(p.lhs)) || p.lhs || p.rhs
         |      ELSE acc || $d || x END) AS s
         |  FROM w$i CROSS JOIN pick_$i p)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeTrainCtes(k, minCount, maxWordTypes)},
       |words AS MATERIALIZED (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w FROM documents),
       |w0 AS (SELECT doc_id,
       |  array_to_string(regexp_split_to_array(w, ''), $d) AS s FROM words),
       |$applyStages,
       |wc AS (SELECT doc_id,
       |  array_length(string_split(s, $d)) AS n FROM w$k),
       |agg AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bpe
       |        FROM wc GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CAST(${TF.sqlSubtokenCount("d.text")} AS BIGINT) AS n_subtokens,
       |       CAST(coalesce(a.n_bpe, 0) AS BIGINT) AS n_bpe
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Same result as [[dedupExact]] — the hash-group formulation only
    * changes the shuffle key, so the plain text-group query is the
    * oracle. */
  def dedupExactHash: String = dedupExact

  def dedupExact: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  /** 16-bit SimHash over whitespace tokens (with multiplicity); exact
    * integer arithmetic end-to-end. Docs with no tokens drop out. */
  def dedupSimhash: String = {
    val bits = (0 until 16).map { b =>
      s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val fp = (0 until 16).map { b =>
      s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${TF.sqlTokens("text")}) AS t FROM documents),
       |th AS (SELECT doc_id, ${GraftHash.duckdbSql("t")} AS h FROM toks),
       |bits AS (SELECT doc_id, $bits FROM th GROUP BY doc_id)
       |SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM bits ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE chain ending in `pairs(a, b)` — the MinHash/LSH
    * candidate pairs: 16 hash slots over the 60-bit (h, h2) shingle
    * pair, 4 bands of 4 rows with the WIDE two-fold band signature,
    * same (a_j, b_j) constants as the Spark side ([[MinHashParams]]). */
  private def minhashBandCtes: String = minhashBandCtes("documents")

  /** [[minhashBandCtes]] over a caller-named docs CTE/table (same
    * (doc_id, text) contract as `documents`) — lets composed oracles
    * (e.g. [[streamIngestCurate]]) run the band chain over a derived
    * survivor set. */
  private def minhashBandCtes(src: String): String = {
    val mins = MinHashParams.params.zipWithIndex.map { case ((a, b), j) =>
      s"MIN(($a * h + $b * h2) % ${MinHashParams.P}) AS m$j"
    }.mkString(", ")
    val bandRows = (0 until MinHashParams.Bands).map { bd =>
      val Seq(x0, x1, x2, x3) = (0 until MinHashParams.Rows)
        .map(r => s"m${bd * MinHashParams.Rows + r}")
      val sigA = s"(((((($x0 * 31 + $x1) % ${MinHashParams.P}) * 31 + $x2) % ${MinHashParams.P}) * 31 + $x3) % ${MinHashParams.P})"
      val sigB = s"(((((($x0 * 131 + $x1) % ${MinHashParams.P2}) * 131 + $x2) % ${MinHashParams.P2}) * 131 + $x3) % ${MinHashParams.P2})"
      s"SELECT doc_id, $bd AS band, ($sigA * ${MinHashParams.P2} + $sigB) AS sig FROM mh"
    }.mkString("\nUNION ALL ")
    s"""sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest(${TF.sqlShingles("text", 3)}) AS sh FROM $src) t),
       |hh AS MATERIALIZED (SELECT doc_id, ${GraftHash.duckdbSql("sh")} AS h, ${GraftHash.duckdbSql2("sh")} AS h2 FROM sh),
       |mh AS MATERIALIZED (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
       |bands AS MATERIALIZED ($bandRows)""".stripMargin
  }

  private def minhashPairCtes: String = minhashPairCtes("documents")

  private def minhashPairCtes(src: String): String =
    s"""${minhashBandCtes(src)},
       |pairs AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)""".stripMargin

  /** Oracle for `band_index_lifecycle`: the from-scratch band table of
    * the FINAL corpus. The Spark side arrives here via build(stale) →
    * append(updated gen) → compact; if compaction retires superseded
    * generations correctly the two are identical, which is the whole
    * lifecycle claim. */
  def bandIndexLifecycle: String =
    s"""WITH $minhashBandCtes
       |SELECT doc_id, band, sig FROM bands ORDER BY doc_id, band""".stripMargin

  def dedupMinHashLsh: String =
    s"WITH $minhashPairCtes\nSELECT a, b FROM pairs ORDER BY a, b"

  /** Mirror of [[graft.pipelines.Dedup.minhashEstimate]]: the band
    * CTE pairs joined against the 16-slot signature CTE; k/16 is
    * exactly representable so no rounding is involved. */
  def dedupMinhashEstimate: String = {
    val agree = (0 until MinHashParams.NumHashes).map(j =>
      s"CASE WHEN x.m$j = y.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $minhashPairCtes
       |SELECT p.a, p.b, ($agree) / 16.0 AS est_jaccard
       |FROM pairs p
       |JOIN mh x ON x.doc_id = p.a
       |JOIN mh y ON y.doc_id = p.b
       |ORDER BY p.a, p.b""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Dedup.incrementalMinhash]] on the
    * `dedup_incremental_minhash` gate split (odd delta vs even
    * corpus): the same band CTE chain, with the final join taking the
    * delta side against the index side instead of the a<b self-join. */
  def dedupIncrementalMinhash: String =
    s"""WITH $minhashPairCtes
       |SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS dup_of
       |FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.sig = y.sig
       | AND x.doc_id % 2 = 1 AND y.doc_id % 2 = 0
       |ORDER BY new_id, dup_of""".stripMargin

  /** Shared recursive-CC CTE chain ending in `cc(id, cluster_id)` over
    * the MinHash/LSH pairs: every node collects the labels of
    * everything it can reach, then keeps the minimum. */
  private def ccCtes: String = ccCtes("documents")

  private def ccCtes(src: String): String =
    s"""${minhashPairCtes(src)},
       |e AS MATERIALIZED (
       |  SELECT a AS x, b AS y FROM pairs
       |  UNION ALL SELECT b, a FROM pairs),
       |reach AS (
       |  SELECT x AS id, x AS comp FROM e
       |  UNION
       |  SELECT e.x, r.comp FROM e JOIN reach r ON r.id = e.y),
       |cc AS MATERIALIZED (
       |  SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Duplicate-cluster resolution (mirror of
    * [[graft.operators.ConnectedComponents.clusters]] over the
    * MinHash/LSH pairs): connected components of the undirected pair
    * graph via a recursive reachability CTE. */
  def dedupClusters: String =
    s"""WITH RECURSIVE $ccCtes
       |SELECT id AS doc_id, cluster_id,
       |       COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
       |FROM cc ORDER BY doc_id""".stripMargin

  /** Mirror of [[graft.pipelines.Dedup.nearDedupCorpus]]: the kept
    * corpus after cluster-level near-dedup — canonical (minimum-id)
    * member of each cluster plus all unpaired documents. */
  def pipelineNearDedup: String =
    s"""WITH RECURSIVE $ccCtes,
       |sizes AS MATERIALIZED (
       |  SELECT cluster_id, COUNT(*) AS n FROM cc GROUP BY cluster_id)
       |SELECT d.doc_id, coalesce(s.n - 1, 0) AS n_dups_removed
       |FROM documents d
       |LEFT JOIN cc ON cc.id = d.doc_id
       |LEFT JOIN sizes s ON s.cluster_id = d.doc_id
       |WHERE cc.id IS NULL OR cc.cluster_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Mirror of [[graft.pipelines.Dedup.canonicalByPriority]]: the
    * per-cluster (prio desc, doc_id asc) survivor over the CC cluster
    * graph, singletons included. The Spark side picks via a hash
    * aggregate (lexicographic struct min); this replays the pick as a
    * rank window — result-identical because the pick is a total order
    * over exact integers, so the formulations cannot diverge. */
  def dedupCanonicalPriority(prioSql: String): String =
    s"""WITH RECURSIVE $ccCtes,
       |m AS MATERIALIZED (
       |  SELECT d.doc_id, d.source, CAST($prioSql AS INT) AS prio,
       |         coalesce(cc.cluster_id, d.doc_id) AS cid
       |  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
       |r AS (SELECT *,
       |        row_number() OVER (PARTITION BY cid
       |          ORDER BY prio DESC, doc_id) AS rn,
       |        COUNT(*) OVER (PARTITION BY cid) AS n FROM m)
       |SELECT doc_id AS keep_id, source, prio,
       |       CAST(n - 1 AS BIGINT) AS n_dups_removed
       |FROM r WHERE rn = 1 ORDER BY keep_id""".stripMargin

  /** Mirror of the `stream_ingest_curate` gate: ingest corpus =
    * documents plus re-ingested copies (every `everyK`-th doc_id
    * shifted by `reShift`, same text/source), streaming watermarked
    * dedup keyed on NORMALIZED TEXT keeps the first arrival — the
    * gate's in-stream arrival order is doc_id order and is ASSERTED
    * in-gate, so the min-doc_id survivor per normalized-text class
    * replayed here is exact — then the cross-source canonical pick
    * runs over the surviving subset ([[dedupCanonicalPriority]]'s
    * chain with `docs_s` as the corpus). */
  def streamIngestCurate(prioSql: String, reShift: Long,
      everyK: Int): String = {
    val norm = TF.sqlNormalizeText("text")
    s"""WITH RECURSIVE ingest AS MATERIALIZED (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $reShift AS doc_id, source, text FROM documents
       |  WHERE doc_id % $everyK = 0),
       |docs_s AS MATERIALIZED (
       |  SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text,
       |           ROW_NUMBER() OVER (PARTITION BY $norm
       |             ORDER BY doc_id) AS rn
       |    FROM ingest) t WHERE rn = 1),
       |${ccCtes("docs_s")},
       |m AS MATERIALIZED (
       |  SELECT d.doc_id, d.source, CAST($prioSql AS INT) AS prio,
       |         coalesce(cc.cluster_id, d.doc_id) AS cid
       |  FROM docs_s d LEFT JOIN cc ON cc.id = d.doc_id),
       |r AS (SELECT *,
       |        row_number() OVER (PARTITION BY cid
       |          ORDER BY prio DESC, doc_id) AS rn,
       |        COUNT(*) OVER (PARTITION BY cid) AS n FROM m)
       |SELECT doc_id AS keep_id, source, prio,
       |       CAST(n - 1 AS BIGINT) AS n_dups_removed
       |FROM r WHERE rn = 1 ORDER BY keep_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Sampling.tokenBudgetPerGroup]] over
    * the documents table: quality-first rank per source, integer
    * running token total, maximal ≤-budget prefix. */
  def sampleTokenBudget(budget: Long): String = {
    val ord = s"PARTITION BY source ORDER BY m DESC, doc_id"
    s"""WITH m AS MATERIALIZED (
       |  SELECT source, doc_id, ${TF.sqlTokenCount("text")} AS n_toks,
       |         ${TF.sqlQualityScore("text")} AS m FROM documents),
       |r AS (SELECT source, doc_id, CAST(n_toks AS BIGINT) AS n_toks,
       |        CAST(SUM(n_toks) OVER ($ord
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          AS BIGINT) AS cum_toks,
       |        CAST(row_number() OVER ($ord) AS BIGINT) AS rn
       |      FROM m)
       |SELECT source, doc_id, n_toks, cum_toks, rn
       |FROM r WHERE cum_toks <= $budget
       |ORDER BY source, rn""".stripMargin
  }

  /** Folded MinHash signature per document (mirror of
    * [[graft.functions.MinHashAgg]]): sig = fold(0)((s,m) => (s*31+m)%P)
    * over the 16 per-slot minima. */
  def dedupMinHashSignature: String = {
    val mins = MinHashParams.params.zipWithIndex.map { case ((a, b), j) =>
      s"MIN(($a * h + $b * h2) % ${MinHashParams.P}) AS m$j"
    }.mkString(", ")
    val sig = (0 until MinHashParams.NumHashes)
      .foldLeft("0::BIGINT")((acc, j) => s"(($acc * 31 + m$j) % ${MinHashParams.P})")
    s"""WITH sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest(${TF.sqlShingles("text", 3)}) AS sh FROM documents) t),
       |hh AS MATERIALIZED (SELECT doc_id, ${GraftHash.duckdbSql("sh")} AS h, ${GraftHash.duckdbSql2("sh")} AS h2 FROM sh),
       |mh AS MATERIALIZED (SELECT doc_id, $mins FROM hh GROUP BY doc_id)
       |SELECT doc_id, $sig AS sig FROM mh ORDER BY doc_id""".stripMargin
  }

  /** Word-3-gram Jaccard similarity >= threshold, via shared-shingle
    * candidate join; integer set sizes -> exact double division.
    * Shingles are hashed to the 60-bit wide int64 before set semantics
    * apply — the mirror of [[graft.pipelines.Dedup.ngramJaccard]]'s
    * shuffle-key optimization: both engines agree on (vanishingly
    * rare) hash merges by construction. */
  def dedupNgramJaccard(threshold: Double = 0.5,
      maxShingleDf: Int = 64): String =
    s"""WITH sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ${GraftHash.duckdbSqlWide("sh")} AS sh FROM (
       |    SELECT doc_id, unnest(${TF.sqlShingles("text", 3)}) AS sh FROM documents) t),
       |sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |kept AS MATERIALIZED (
       |  SELECT doc_id, sh FROM sh WHERE sh IN (
       |    SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= $maxShingleDf)),
       |common AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
       |  FROM kept x JOIN kept y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY x.doc_id, y.doc_id),
       |j AS (
       |  SELECT a, b, CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jac
       |  FROM common JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b)
       |SELECT a, b, round(jac, 6) AS jaccard FROM j
       |WHERE jac >= $threshold::DOUBLE ORDER BY a, b""".stripMargin

  /** Mirror of [[graft.pipelines.Dedup.containment]]: per unordered
    * candidate pair, both directed `c/|S(side)|` ratios, thresholded.
    * The intersection count runs over KEPT shingles only (df <=
    * maxShingleDf, mirroring the Spark side's left_semi hot-shingle
    * guard) while the denominators stay over ALL shingles — without
    * this the gate silently depends on the corpus having no hot
    * shingle. */
  def dedupContainment(threshold: Double = 0.8,
      maxShingleDf: Int = 64): String =
    s"""WITH sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ${GraftHash.duckdbSqlWide("sh")} AS sh FROM (
       |    SELECT doc_id, unnest(${TF.sqlShingles("text", 3)}) AS sh FROM documents) t),
       |sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |kept AS MATERIALIZED (
       |  SELECT doc_id, sh FROM sh WHERE sh IN (
       |    SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= $maxShingleDf)),
       |common AS MATERIALIZED (
       |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
       |  FROM kept x JOIN kept y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY x.doc_id, y.doc_id),
       |cc AS (
       |  SELECT a, b, c, sa.n AS na, sb.n AS nb
       |  FROM common JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b),
       |d AS (
       |  SELECT a AS quoted, b AS container,
       |         CAST(c AS DOUBLE) / CAST(na AS DOUBLE) AS cont FROM cc
       |  UNION ALL
       |  SELECT b, a, CAST(c AS DOUBLE) / CAST(nb AS DOUBLE) FROM cc)
       |SELECT quoted, container, round(cont, 6) AS containment FROM d
       |WHERE cont >= $threshold::DOUBLE ORDER BY quoted, container""".stripMargin

  /** Mirror of [[graft.pipelines.Dedup.repeatedPassages]]: consecutive
    * non-overlapping `window`-word passages (full windows only),
    * fingerprinted with the shared graft hash, kept when appearing in
    * at least `minDocs` distinct documents. DuckDB `list_slice` takes
    * 1-based INCLUSIVE (begin, end) where Spark `slice` takes (start,
    * length) — both forms below cover the same `window` tokens. */
  def dedupPassages(window: Int = 3, minDocs: Int = 2): String =
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, ${TF.sqlTokens("text")} AS toks FROM documents
       |  WHERE coalesce(array_length(${TF.sqlTokens("text")}), 0) >= $window),
       |w AS (
       |  SELECT doc_id,
       |         array_to_string(list_slice(toks, i*$window + 1, i*$window + $window), ' ') AS passage
       |  FROM (SELECT doc_id, toks,
       |          unnest(range(len(toks) // $window)) AS i FROM t)),
       |h AS (
       |  SELECT ${GraftHash.duckdbSql("passage")} AS p_hash,
       |         COUNT(DISTINCT doc_id) AS n_docs,
       |         COUNT(*) AS n_occurrences,
       |         MIN(doc_id) AS first_doc
       |  FROM w GROUP BY 1)
       |SELECT p_hash, n_docs, n_occurrences, first_doc FROM h
       |WHERE n_docs >= $minDocs ORDER BY p_hash""".stripMargin

  /** Shared CTE chain of the exact-substring span dedup (mirror of
    * [[graft.pipelines.Dedup.dedupSpans]]'s stages): overlapping
    * `k`-token grams with 0-based start positions, wide-hashed; grams
    * in ≥ `minDocs` distinct docs; per-doc gaps-and-islands merge into
    * `spans(doc_id, s0, s1)` — the lag-NULL first row falls to the
    * ELSE 1 branch exactly as Spark's `when().otherwise(1)`. With
    * `minOcc` > 0 the evidence is TOTAL occurrences (within-doc
    * repeats count), mirroring the Spark operator's `minOcc` mode. */
  private def dedupSpanCtes(k: Int, minDocs: Int, minOcc: Int = 0): String = {
    val having =
      if (minOcc > 0) s"COUNT(*) >= $minOcc"
      else s"COUNT(DISTINCT doc_id) >= $minDocs"
    s"""t AS MATERIALIZED (
       |  SELECT doc_id, ${TF.sqlShingles("text", k)} AS sh FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, i - 1 AS pos, ${GraftHash.duckdbSqlWide("(sh)[i]")} AS gh
       |  FROM (SELECT doc_id, sh,
       |          unnest(range(1, coalesce(array_length(sh), 0) + 1)) AS i
       |        FROM t)),
       |d AS (SELECT gh FROM g GROUP BY gh
       |      HAVING $having),
       |m AS (SELECT doc_id, pos FROM g WHERE gh IN (SELECT gh FROM d)),
       |x AS (SELECT doc_id, pos,
       |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $k
       |             THEN 0 ELSE 1 END AS brk FROM m),
       |y AS (SELECT doc_id, pos,
       |        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS UNBOUNDED PRECEDING) AS span_id FROM x),
       |spans AS MATERIALIZED (
       |  SELECT doc_id, MIN(pos) AS s0, MAX(pos) + ${k - 1} AS s1,
       |         COUNT(*) AS n_grams
       |  FROM y GROUP BY doc_id, span_id)""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Dedup.dedupSpans]] (`minOcc` > 0
    * selects the total-occurrence evidence mode). */
  def dedupSpans(k: Int = 5, minDocs: Int = 2, minOcc: Int = 0): String =
    s"""WITH ${dedupSpanCtes(k, minDocs, minOcc)}
       |SELECT doc_id, CAST(s0 AS BIGINT) AS span_start,
       |       CAST(s1 AS BIGINT) AS span_end,
       |       CAST(s1 - s0 + 1 AS BIGINT) AS span_tokens, n_grams
       |FROM spans ORDER BY doc_id, span_start""".stripMargin

  /** Mirror of [[graft.pipelines.Dedup.dedupSpansClean]]: tokens whose
    * 0-based position falls inside any duplicated span are cut, the
    * survivors rejoined in order; span-free (or token-free) documents
    * pass through whole via the LEFT JOIN + coalesce. */
  def dedupSpansClean(k: Int = 5, minDocs: Int = 2): String =
    s"""WITH ${dedupSpanCtes(k, minDocs)},
       |tok AS MATERIALIZED (
       |  SELECT doc_id, ${TF.sqlTokens("text")} AS toks FROM documents),
       |u AS (
       |  SELECT doc_id, i - 1 AS pos, (toks)[i] AS w
       |  FROM (SELECT doc_id, toks,
       |          unnest(range(1, coalesce(array_length(toks), 0) + 1)) AS i
       |        FROM tok)),
       |kept AS (
       |  SELECT u.doc_id, u.pos, u.w FROM u
       |  WHERE NOT EXISTS (SELECT 1 FROM spans s
       |                    WHERE s.doc_id = u.doc_id
       |                      AND u.pos BETWEEN s.s0 AND s.s1)),
       |agg AS (
       |  SELECT doc_id,
       |         array_to_string(array_agg(w ORDER BY pos), ' ') AS clean_text,
       |         COUNT(*) AS n_kept FROM kept GROUP BY doc_id)
       |SELECT tok.doc_id, coalesce(a.clean_text, '') AS clean_text,
       |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_tokens_kept,
       |       CAST(coalesce(array_length(tok.toks), 0) - coalesce(a.n_kept, 0)
       |            AS BIGINT) AS n_tokens_cut
       |FROM tok LEFT JOIN agg a ON tok.doc_id = a.doc_id
       |ORDER BY tok.doc_id""".stripMargin

  /** Mirror of [[graft.pipelines.Classify.naiveBayes]]: multinomial NB
    * with add-one smoothing on the hash-gated train split, per-token
    * log-likelihoods rounded to integer micro-nats BEFORE the exact
    * int64 sum (the NLL idiom), argmax with the (score DESC, class ASC)
    * tie order — predictions are bit-stable cross-engine. */
  def classifyNaiveBayes(labelCol: String = "lang",
      trainPct: Int = 50): String = {
    val toks = TF.sqlTokens("text")
    val h = GraftHash.duckdbSql("CAST(doc_id AS VARCHAR) || '|nbtrain'")
    s"""WITH tr AS MATERIALIZED (
       |  SELECT doc_id, $labelCol, text FROM documents
       |  WHERE $h % 100 < $trainPct),
       |te AS MATERIALIZED (
       |  SELECT doc_id, $labelCol, text FROM documents
       |  WHERE NOT ($h % 100 < $trainPct)),
       |ttok AS MATERIALIZED (
       |  SELECT $labelCol AS cls, unnest($toks) AS term FROM tr),
       |cc AS MATERIALIZED (
       |  SELECT cls, term, CAST(count(*) AS BIGINT) AS cnt
       |  FROM ttok GROUP BY cls, term),
       |ct AS MATERIALIZED (
       |  SELECT cls, CAST(count(*) AS BIGINT) AS tok_c FROM ttok GROUP BY cls),
       |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS vsz FROM ttok),
       |pri AS (
       |  SELECT $labelCol AS cls,
       |         CAST(round(ln(CAST(count(*) AS DOUBLE) /
       |                       CAST((SELECT count(*) FROM tr) AS DOUBLE))
       |                    * 1000000.0) AS BIGINT) AS prior_micro
       |  FROM tr GROUP BY $labelCol),
       |dt AS MATERIALIZED (
       |  SELECT doc_id, true_label, term, CAST(count(*) AS BIGINT) AS n_occ
       |  FROM (SELECT doc_id, $labelCol AS true_label, unnest($toks) AS term
       |        FROM te)
       |  GROUP BY doc_id, true_label, term),
       |sc AS (
       |  SELECT dt.doc_id, dt.true_label, ct.cls,
       |         SUM(dt.n_occ *
       |             CAST(round(ln(CAST(coalesce(cc.cnt, 0) + 1 AS DOUBLE) /
       |                           CAST(ct.tok_c + v.vsz AS DOUBLE))
       |                        * 1000000.0) AS BIGINT)) AS like_micro
       |  FROM dt CROSS JOIN ct CROSS JOIN v
       |  LEFT JOIN cc ON cc.cls = ct.cls AND cc.term = dt.term
       |  GROUP BY dt.doc_id, dt.true_label, ct.cls),
       |tot AS (
       |  SELECT sc.doc_id, sc.true_label, sc.cls,
       |         sc.like_micro + pri.prior_micro AS score_micro
       |  FROM sc JOIN pri ON pri.cls = sc.cls),
       |r AS (SELECT doc_id, true_label, cls, score_micro,
       |        row_number() OVER (PARTITION BY doc_id
       |                           ORDER BY score_micro DESC, cls) AS rn
       |      FROM tot)
       |SELECT doc_id, true_label AS $labelCol, cls AS pred_$labelCol,
       |       round(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS score
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.TextMetrics.scrub]]. DuckDB's
    * regexp_replace needs the 'g' flag for the global semantics Spark's
    * has by default; the pattern must stay in the engine-portable regex
    * subset (alternation/classes/quantifiers, no lookaround). */
  def textScrub(pattern: String, replacement: String): String =
    s"""SELECT doc_id,
       |       regexp_replace(text, '${sq(pattern)}', '${sq(replacement)}', 'g') AS scrubbed,
       |       CAST(coalesce(array_length(regexp_extract_all(text, '${sq(pattern)}')), 0) AS BIGINT) AS n_redactions
       |FROM documents ORDER BY doc_id""".stripMargin

  /** End-to-end corpus cleaning (mirror of
    * [[graft.pipelines.Dedup.cleanCorpus]]): normalize → language gate →
    * quality gate → exact dedup on normalized text. */
  def pipelineCleanCorpus(minQuality: Double = 0.5,
      lang: String = "en"): String = {
    val norm = TF.sqlNormalizeText("text")
    val q = TF.sqlQualityScore("norm_text")
    s"""WITH n AS MATERIALIZED (
       |  SELECT doc_id, $norm AS norm_text FROM documents),
       |f AS MATERIALIZED (
       |  SELECT doc_id, norm_text, $q AS quality FROM n
       |  WHERE ${TF.sqlLangId("norm_text")} = '${sq(lang)}'
       |    AND $q >= $minQuality::DOUBLE)
       |SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies,
       |       round(max(quality), 6) AS quality
       |FROM f GROUP BY norm_text ORDER BY keep_id""".stripMargin
  }

  private def dotSql(x: String, y: String): String =
    s"list_reduce(list_prepend(0::DOUBLE, list_transform(list_zip($x, $y), " +
      s"z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), (acc, v) -> acc + v)"

  private def normSql(x: String): String =
    s"sqrt(list_reduce(list_prepend(0::DOUBLE, list_transform($x, " +
      s"v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))"

  /** Embedding near-duplicates, LSH-bucketed (must mirror
    * [[graft.pipelines.Similarity.nearDuplicates]] +
    * [[graft.pipelines.HyperplaneLsh]] exactly): candidates share a
    * (table, label, sign-bucket) cell, then exact cosine filter. */
  def dedupEmbedding(threshold: Double): String = {
    import graft.pipelines.HyperplaneLsh
    val tableRows = (0 until HyperplaneLsh.Tables).map { t =>
      s"SELECT vec_id, label, $t AS tbl, ${HyperplaneLsh.bucketSql(t, "embedding")} AS bkt FROM base"
    }.mkString("\nUNION ALL ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, label, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |buckets AS MATERIALIZED ($tableRows),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM buckets x JOIN buckets y
       |    ON x.label = y.label AND x.tbl = y.tbl AND x.bkt = y.bkt
       |   AND x.vec_id < y.vec_id),
       |p AS (
       |  SELECT a, b, ${dotSql("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm) AS cos
       |  FROM cand JOIN base ea ON ea.vec_id = a JOIN base eb ON eb.vec_id = b)
       |SELECT a, b, round(cos, 6) AS cosine FROM p
       |WHERE cos >= $threshold::DOUBLE ORDER BY a, b""".stripMargin
  }

  /** Brute-force cosine top-k for the first `nq` query vectors; norms
    * precomputed once per vector, as in the Spark pipeline. */
  def annTopK(nq: Int = 10, k: Int = 5): String =
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |q AS (SELECT vec_id, embedding, nrm FROM base WHERE vec_id < $nq),
       |c AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         ${dotSql("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS cos
       |  FROM q JOIN base e ON e.vec_id <> q.vec_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM c)
       |SELECT query_id, rn, neighbor_id, round(cos, 6) AS cosine FROM r
       |WHERE rn <= $k ORDER BY query_id, rn""".stripMargin

  /** LSH-bucketed ANN top-k (mirror of
    * [[graft.pipelines.Similarity.annTopKLsh]], including the
    * margin-ordered single-bit multi-probe expansion of the query's
    * probe list and the CORPUS-DERIVED table count
    * ([[graft.pipelines.HyperplaneLsh.autoTables]]): the derivation is
    * a step function of the corpus count at the pinned width, so the
    * static SQL unrolls every derivable table up to `MaxTables` and
    * gates each extra table's UNION branch — bucket side and probe
    * side — behind its activation threshold
    * ([[graft.pipelines.HyperplaneLsh.tableActivation]]) as a
    * `count(*)` scalar-subquery comparison. One SQL string replays the
    * derivation at every scale: at sf0.01 (500 vectors) the extra
    * branches are empty and the result is byte-identical to the
    * 4-table r17 oracle; at sf0.1 (2,000) tables 4-5 activate). */
  def annTopKLsh(nq: Int = 10, k: Int = 5, nprobe: Int = 22): String = {
    import graft.pipelines.HyperplaneLsh
    val bits = HyperplaneLsh.Bits
    def gate(t: Int): String =
      if (t < HyperplaneLsh.Tables) ""
      else s" AND (SELECT count(*) FROM base) > " +
        s"${HyperplaneLsh.tableActivation(t, bits)}"
    val tableRows = (0 until HyperplaneLsh.MaxTables).map { t =>
      s"SELECT vec_id, $t AS tbl, " +
        s"${HyperplaneLsh.bucketSql(t, "embedding")} AS bkt " +
        s"FROM base WHERE TRUE${gate(t)}"
    }.mkString("\nUNION ALL ")
    // Per table: perturbation sets {}, {j}, {i,j} ranked by summed
    // |margin| (ties on the xor mask), first nprobe taken — mirror of
    // the Spark side's 2-flip multi-probe; identical IEEE folds on both
    // engines make the sums and so the sort order deterministic. The
    // per-plane margins are named columns of the inner query, so each
    // fold appears once in the SQL text.
    val probeRows = (0 until HyperplaneLsh.MaxTables).map { t =>
      val marginCols = (0 until bits).map(j =>
        s"abs(${HyperplaneLsh.planeDotSql(t, j, "embedding")}) AS m$j")
        .mkString(", ")
      val entries = (Seq(s"{'m': 0.0::DOUBLE, 'x': 0::BIGINT}") ++
        (0 until bits).map(j => s"{'m': m$j, 'x': ${1L << j}::BIGINT}") ++
        (for { i <- 0 until bits; j <- (i + 1) until bits } yield
          s"{'m': m$i + m$j, 'x': ${(1L << i) | (1L << j)}::BIGINT}") ++
        (for { i <- 0 until bits; j <- (i + 1) until bits;
               l <- (j + 1) until bits } yield
          s"{'m': m$i + m$j + m$l, " +
            s"'x': ${(1L << i) | (1L << j) | (1L << l)}::BIGINT}"))
        .mkString("[", ", ", "]")
      s"SELECT vec_id AS query_id, $t AS qt, " +
        s"unnest(list_transform(list_sort($entries)[1:$nprobe], " +
        s"s -> xor(bkt0, s.x))) AS qk " +
        s"FROM (SELECT vec_id, ${HyperplaneLsh.bucketSql(t, "embedding")} AS bkt0, " +
        s"$marginCols FROM base WHERE vec_id < $nq${gate(t)}) qq"
    }.mkString("\nUNION ALL ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |buckets AS MATERIALIZED ($tableRows),
       |qb AS MATERIALIZED ($probeRows),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT qb.query_id, b.vec_id
       |  FROM buckets b JOIN qb ON b.tbl = qb.qt AND b.bkt = qb.qk
       |   AND b.vec_id <> qb.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |         ${dotSql("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS cos
       |  FROM cand c JOIN base e ON e.vec_id = c.vec_id
       |              JOIN base q ON q.vec_id = c.query_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM scored)
       |SELECT query_id, rn, neighbor_id, round(cos, 6) AS cosine FROM r
       |WHERE rn <= $k ORDER BY query_id, rn""".stripMargin
  }

  private def sqDistSql(x: String, y: String): String =
    s"list_reduce(list_prepend(0::DOUBLE, list_transform(list_zip($x, $y), " +
      s"z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * " +
      s"(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, v) -> acc + v)"

  /** Shared IVF CTE chain ending in `a1(vec_id, embedding, nrm, cid)` —
    * seed centroids, one Lloyd step with 6-decimal rounding, nearest-
    * cell index (mirror of the `ivfCentroids` + assignment stages of
    * [[graft.pipelines.Similarity]]). `trainPermille` < 1000 replays
    * the hash-gated training sample (`graft_hash(vec_id || '|ivftrain')
    * ‰`, seeds force-included) — the Lloyd step then averages only the
    * sampled rows, while indexing/probing still cover the full corpus. */
  private def ivfTrainCtes(nlist: Int, dim: Int,
      trainPermille: Int = 1000): String = {
    val trainSrc = if (trainPermille >= 1000) "base"
    else s"""(SELECT * FROM base WHERE vec_id < $nlist OR
       |    ${GraftHash.duckdbSql("CAST(vec_id AS VARCHAR) || '|ivftrain'")}
       |      % 1000 < $trainPermille)""".stripMargin
    s"""base AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |seeds AS MATERIALIZED (
       |  SELECT vec_id AS cid, embedding AS cvec FROM base WHERE vec_id < $nlist),
       |a0 AS MATERIALIZED (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT b.vec_id, b.embedding, s.cid,
       |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |             ORDER BY ${sqDistSql("b.embedding", "s.cvec")}, s.cid) AS rn
       |    FROM $trainSrc b CROSS JOIN seeds s) WHERE rn = 1),
       |cent AS MATERIALIZED (
       |  SELECT cid, list(round(m, 6) ORDER BY pos) AS cvec FROM (
       |    SELECT cid, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS m
       |    FROM a0 CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS i) ix
       |    GROUP BY cid, i) GROUP BY cid)""".stripMargin
  }

  private def ivfCtes(nlist: Int, dim: Int,
      trainPermille: Int = 1000): String =
    s"""${ivfTrainCtes(nlist, dim, trainPermille)},
       |a1 AS MATERIALIZED (
       |  SELECT vec_id, embedding, nrm, cid FROM (
       |    SELECT b.vec_id, b.embedding, b.nrm, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |             ORDER BY ${sqDistSql("b.embedding", "c.cvec")}, c.cid) AS rn
       |    FROM base b CROSS JOIN cent c) WHERE rn = 1)""".stripMargin

  /** [[ivfTrainCtes]] + the TWO-LEVEL assignment mirror of
    * [[graft.pipelines.Similarity]]'s `nearestCellsHier`: centroids
    * grouped under the `⌈√nlist⌉` smallest-cid super-centroids, vectors
    * assigned first to the nearest super, then to the nearest centroid
    * within that super's group. Ends in the same `a1(vec_id,
    * embedding, nrm, cid)` shape as [[ivfCtes]]. */
  private def ivfHierCtes(nlist: Int, dim: Int,
      trainPermille: Int = 1000): String = {
    val superCount = math.ceil(math.sqrt(nlist.toDouble)).toInt
    s"""${ivfTrainCtes(nlist, dim, trainPermille)},
       |sup AS MATERIALIZED (
       |  SELECT cid AS sid, cvec AS svec FROM cent WHERE cid < $superCount),
       |cgrp AS MATERIALIZED (
       |  SELECT sid, cid, cvec FROM (
       |    SELECT s.sid, c.cid, c.cvec,
       |           ROW_NUMBER() OVER (PARTITION BY c.cid
       |             ORDER BY ${sqDistSql("c.cvec", "s.svec")}, s.sid) AS rn
       |    FROM cent c CROSS JOIN sup s) WHERE rn = 1),
       |vsup AS MATERIALIZED (
       |  SELECT vec_id, embedding, nrm, sid FROM (
       |    SELECT b.vec_id, b.embedding, b.nrm, s.sid,
       |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |             ORDER BY ${sqDistSql("b.embedding", "s.svec")}, s.sid) AS rn
       |    FROM base b CROSS JOIN sup s) WHERE rn = 1),
       |a1 AS MATERIALIZED (
       |  SELECT vec_id, embedding, nrm, cid FROM (
       |    SELECT v.vec_id, v.embedding, v.nrm, g.cid,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |             ORDER BY ${sqDistSql("v.embedding", "g.cvec")}, g.cid) AS rn
       |    FROM vsup v JOIN cgrp g ON g.sid = v.sid) WHERE rn = 1)""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Similarity.clusterReport]]: the
    * [[ivfCtes]] flat assignment aggregated per cell, with the
    * micro-unit exact norm mean. */
  def corpusClusters(nlist: Int = 8, dim: Int = 64): String =
    s"""WITH ${ivfCtes(nlist, dim)}
       |SELECT cid, count(*) AS n_vecs, min(vec_id) AS exemplar_id,
       |       round(SUM(CAST(round(nrm * 1000000.0::DOUBLE) AS BIGINT))
       |             / 1000000.0::DOUBLE / count(*), 6) AS mean_norm
       |FROM a1 GROUP BY cid ORDER BY cid""".stripMargin

  /** IVF ANN top-k (mirror of
    * [[graft.pipelines.Similarity.annTopKIvf]]): [[ivfCtes]] +
    * nprobe cell-probe search, exact cosine rerank. */
  def annTopKIvf(nq: Int = 10, k: Int = 5, nlist: Int = 8,
      nprobe: Int = 4, dim: Int = 64): String =
    s"""WITH ${ivfCtes(nlist, dim)},
       |probes AS MATERIALIZED (
       |  SELECT query_id, cid FROM (
       |    SELECT b.vec_id AS query_id, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |             ORDER BY ${sqDistSql("b.embedding", "c.cvec")}, c.cid) AS rn
       |    FROM base b CROSS JOIN cent c WHERE b.vec_id < $nq) WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         ${dotSql("q.embedding", "a.embedding")} / (q.nrm * a.nrm) AS cos
       |  FROM a1 a JOIN probes p ON a.cid = p.cid AND a.vec_id <> p.query_id
       |            JOIN base q ON q.vec_id = p.query_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM scored)
       |SELECT query_id, rn, neighbor_id, round(cos, 6) AS cosine FROM r
       |WHERE rn <= $k ORDER BY query_id, rn""".stripMargin

  /** SemDeDup-style semantic near-dup pairs (mirror of
    * [[graft.pipelines.Similarity.semanticDuplicates]]): IVF cell
    * assignment ([[ivfCtes]]), exact cosine only inside a cell. */
  def dedupSemantic(threshold: Double, nlist: Int = 8,
      dim: Int = 64, maxCellCompare: Int = 64): String =
    s"""WITH ${ivfHierCtes(nlist, dim)},
       |rk AS MATERIALIZED (
       |  SELECT vec_id, embedding, nrm, cid,
       |         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
       |  FROM a1),
       |p AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |         ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos
       |  FROM rk x JOIN rk y ON x.cid = y.cid AND y.vec_id < x.vec_id
       |   AND y.rn <= $maxCellCompare),
       |agg AS (
       |  SELECT a, max(cos) AS max_cos,
       |         min(CASE WHEN cos >= $threshold::DOUBLE THEN b END) AS rep_id
       |  FROM p GROUP BY a)
       |SELECT v.vec_id, v.cid, agg.rep_id,
       |       round(agg.max_cos, 6) AS max_cos,
       |       (agg.rep_id IS NULL) AS keep
       |FROM a1 v LEFT JOIN agg ON agg.a = v.vec_id
       |ORDER BY v.vec_id""".stripMargin

  /** Mirror of [[graft.pipelines.TextMetrics.tfidf]]: term frequency,
    * document frequency, `tf * ln(N/df)` rounded to 6 decimals. */
  def textTfidf: String = {
    val toks = TF.sqlTokens("text")
    s"""WITH tf AS MATERIALIZED (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest($toks) AS term FROM documents) u
       |  GROUP BY doc_id, term),
       |dfx AS MATERIALIZED (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT doc_id, term, tf, df,
       |       round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
       |FROM tf JOIN dfx USING (term) CROSS JOIN n
       |ORDER BY doc_id, term""".stripMargin
  }

  /** Mirror of [[graft.pipelines.TextMetrics.mixtureReport]]: per
    * (source, lang) counts, token totals, and the integer-micro-unit
    * quality mean (exact cross-row sum, then one division). */
  def corpusMixture: String = {
    val q = TF.sqlQualityScore("text")
    s"""SELECT source, lang, count(*) AS n_docs,
       |       CAST(sum(${TF.sqlTokenCount("text")}) AS BIGINT) AS n_tokens,
       |       round(CAST(sum(CAST(round($q * 1000000.0) AS BIGINT)) AS DOUBLE)
       |             / 1000000.0 / count(*), 6) AS mean_quality
       |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Dedup.benchmarkContamination]] with
    * the gate split `doc_id % 10 = 7` as the benchmark set: per corpus
    * doc, the fraction of its hashed word-n-gram shingles present in
    * the benchmark shingle set. */
  def decontaminate(n: Int = 3, threshold: Double = 0.2): String = {
    def shingleSet(pred: String) =
      s"SELECT DISTINCT doc_id, ${GraftHash.duckdbSqlWide("s")} AS h FROM (" +
        s"SELECT doc_id, unnest(${TF.sqlShingles("text", n)}) AS s " +
        s"FROM documents WHERE $pred) t"
    s"""WITH cs AS MATERIALIZED (${shingleSet("doc_id % 10 <> 7")}),
       |bs AS MATERIALIZED (
       |  SELECT DISTINCT h FROM (${shingleSet("doc_id % 10 = 7")}) bb),
       |m AS (
       |  SELECT cs.doc_id, count(*) AS n_grams, count(bs.h) AS n_hits
       |  FROM cs LEFT JOIN bs ON cs.h = bs.h
       |  GROUP BY cs.doc_id)
       |SELECT doc_id, n_grams, n_hits,
       |       round(CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS overlap_frac,
       |       (CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE)) >= $threshold::DOUBLE AS contaminated
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Dedup.benchmarkContaminationBloom]]:
    * the deterministic Bloom bitmap (bit_or-aggregated words, double-
    * hashed probe positions) replayed bit-for-bit, then the exact
    * confirm on the bloom-positive subset — `n_bloom` exposes the
    * false-positive tail, `n_hits` must equal the unfiltered
    * operator's. Shingle identity is the (h, h2) pair. */
  def decontaminateBloom(n: Int = 3, threshold: Double = 0.2,
      mBits: Int = 65536, probes: Int = 4): String = {
    def pairSet(pred: String) =
      s"SELECT DISTINCT doc_id, ${GraftHash.duckdbSql("s")} AS h, " +
        s"${GraftHash.duckdbSql2("s")} AS h2 FROM (" +
        s"SELECT doc_id, unnest(${TF.sqlShingles("text", n)}) AS s " +
        s"FROM documents WHERE $pred) t"
    s"""WITH cs AS MATERIALIZED (${pairSet("doc_id % 10 <> 7")}),
       |bs AS MATERIALIZED (
       |  SELECT DISTINCT h, h2 FROM (${pairSet("doc_id % 10 = 7")}) bb),
       |bloom AS MATERIALIZED (
       |  SELECT pos // 32 AS word,
       |         bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS mask
       |  FROM (SELECT (h + j * h2) % $mBits AS pos
       |        FROM bs CROSS JOIN (SELECT unnest(range($probes)) AS j) jj)
       |  GROUP BY 1),
       |pr AS (
       |  SELECT cs.doc_id, cs.h, cs.h2, (cs.h + jj.j * cs.h2) % $mBits AS pos
       |  FROM cs CROSS JOIN (SELECT unnest(range($probes)) AS j) jj),
       |surv AS (
       |  SELECT doc_id, h, h2 FROM (
       |    SELECT p.doc_id, p.h, p.h2, COUNT(*) AS nset
       |    FROM pr p JOIN bloom b ON b.word = p.pos // 32
       |    WHERE (b.mask & (1::BIGINT << CAST(p.pos % 32 AS INT))) != 0
       |    GROUP BY 1, 2, 3) g WHERE nset = $probes),
       |conf AS (
       |  SELECT s.doc_id, COUNT(*) AS n_bloom, COUNT(bs.h) AS n_hits
       |  FROM surv s LEFT JOIN bs ON bs.h = s.h AND bs.h2 = s.h2
       |  GROUP BY 1),
       |m AS (SELECT doc_id, COUNT(*) AS n_grams FROM cs GROUP BY 1)
       |SELECT m.doc_id, m.n_grams,
       |       coalesce(c.n_bloom, 0) AS n_bloom,
       |       coalesce(c.n_hits, 0) AS n_hits,
       |       round(CAST(coalesce(c.n_hits, 0) AS DOUBLE)
       |             / CAST(m.n_grams AS DOUBLE), 6) AS overlap_frac,
       |       (CAST(coalesce(c.n_hits, 0) AS DOUBLE)
       |             / CAST(m.n_grams AS DOUBLE)) >= $threshold::DOUBLE AS contaminated
       |FROM m LEFT JOIN conf c ON c.doc_id = m.doc_id
       |ORDER BY m.doc_id""".stripMargin
  }

  /** Shared CTE chain for the sequence-packing twins (mirror of
    * [[graft.pipelines.Packing.packDocs]]): hash-bucketed docs, within-
    * bucket running subtoken totals in (hash, id) order, pack id =
    * bucket · 10⁹ + floor(preceding-total / capacity). */
  private def packCtes(capacity: Long, buckets: Int): String = {
    val h = GraftHash.duckdbSql("CAST(doc_id AS VARCHAR)")
    s"""t AS MATERIALIZED (
       |  SELECT doc_id, ${TF.sqlSubtokenCount("text")}::BIGINT AS n_tokens,
       |         $h % $buckets AS bucket, $h AS h
       |  FROM documents),
       |r AS MATERIALIZED (
       |  SELECT doc_id, n_tokens,
       |         bucket * ${graft.pipelines.Packing.PacksPerBucket} +
       |           CAST(floor((CAST(SUM(n_tokens) OVER (PARTITION BY bucket
       |             ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |             - n_tokens) / ${capacity}.0) AS BIGINT) AS pack
       |  FROM t)""".stripMargin
  }

  def packSequences(capacity: Long = 2000, buckets: Int = 8): String =
    s"WITH ${packCtes(capacity, buckets)}\n" +
      "SELECT doc_id, pack, n_tokens FROM r ORDER BY doc_id"

  def packManifest(capacity: Long = 2000, buckets: Int = 8): String =
    s"WITH ${packCtes(capacity, buckets)}\n" +
      """SELECT pack, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS tokens,
        |       MIN(doc_id) AS first_id
        |FROM r GROUP BY pack ORDER BY pack""".stripMargin

  /** Mirror of [[graft.pipelines.Sampling.shuffleByHash]] over
    * documents: the `|shuffle`-salted hash order, with the `source`
    * payload column riding along (pass-through check). */
  def corpusShuffle: String = {
    val h = GraftHash.duckdbSql("CAST(doc_id AS VARCHAR) || '|shuffle'")
    s"""SELECT doc_id, source, $h AS sort_key FROM documents
       |ORDER BY sort_key, doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Sampling.splitByHash]] over documents:
    * per-mille hash ranges on the `|split`-salted id hash, with the
    * `source` payload column riding along (pass-through check). */
  def sampleSplit(splits: Seq[(String, Int)] =
      Seq("train" -> 900, "val" -> 50, "test" -> 50)): String = {
    val h = GraftHash.duckdbSql("CAST(doc_id AS VARCHAR) || '|split'")
    val bounds = splits.scanLeft(0)(_ + _._2).tail
    val cases = splits.zip(bounds).init
      .map { case ((name, _), upper) => s"WHEN b < $upper THEN '${sq(name)}'" }
      .mkString(" ")
    s"""SELECT doc_id, source,
       |       CASE $cases ELSE '${sq(splits.last._1)}' END AS split
       |FROM (SELECT doc_id, source, $h % 1000 AS b FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Sampling.quotaPerGroup]] over
    * (documents.source, doc_id): exactly `n` docs per source in
    * deterministic hash order. */
  def sampleQuota(n: Int = 25): String =
    s"""SELECT source, doc_id, rn FROM (
       |  SELECT source, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY source
       |           ORDER BY ${GraftHash.duckdbSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
       |  FROM documents) t
       |WHERE rn <= $n ORDER BY source, rn""".stripMargin

  private def maxAbsSql(x: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform($x, " +
      s"v -> abs(CAST(v AS DOUBLE)))), (a, v) -> greatest(a, v))"

  /** Shared CTE chain `base` (embeddings + exact norm) → `qz`
    * (max-abs int8 quantization, mirror of
    * [[graft.pipelines.Similarity.quantizeQ8]]). */
  private def quantizeCtes: String =
    s"""base AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |m0 AS MATERIALIZED (
       |  SELECT vec_id, embedding, nrm, ${maxAbsSql("embedding")} AS ma FROM base),
       |qz AS MATERIALIZED (
       |  SELECT vec_id, embedding, nrm, ma,
       |         CASE WHEN ma = 0 THEN list_transform(embedding, v -> 0::BIGINT)
       |              ELSE list_transform(embedding,
       |                v -> CAST(round(CAST(v AS DOUBLE) * 127.0 / ma) AS BIGINT)) END AS q
       |  FROM m0)""".stripMargin

  /** Mirror of [[graft.pipelines.Similarity.quantizeQ8]], exploded to
    * (vec_id, ma, pos, qv) scalar rows like the Spark gate (zipped
    * unnests — driver-sortable columns, no array output). */
  def embedQuantize: String =
    s"""WITH $quantizeCtes
       |SELECT vec_id, ma, pos, qv FROM (
       |  SELECT vec_id, ma, unnest(range(len(q))) AS pos, unnest(q) AS qv
       |  FROM qz)
       |ORDER BY vec_id, pos""".stripMargin

  /** Mirror of [[graft.pipelines.Similarity.annTopKQ8]]: quantized
    * integer-dot prefilter (`cand` overfetch), exact cosine rerank. */
  /** Mirror of [[graft.pipelines.Similarity.annTopKMrl]]: prefix-
    * cosine candidates (DuckDB's 1-based inclusive list slice is
    * Spark's `slice(x, 1, dims)`) then the exact full-vector rerank.
    * `cand <= 0` (the default) replays the engine's DERIVED pool
    * ([[graft.pipelines.Similarity.autoMrlCand]] —
    * `greatest(30·k, ⌈count/5⌉)` as a scalar subquery, so one static
    * SQL string holds at every scale: 150 at the 500-vector gate
    * corpora, 400 at sf0.1); an EXPLICIT `cand` emits the plain
    * `crn <= cand` predicate, mirroring the engine's rule that an
    * explicit `mrlCand` is honored verbatim (the MRL-trained-
    * embeddings contract — ADVICE r18: the floor must not leak onto
    * pinned pools). */
  def annTopKMrl(nq: Int = 10, k: Int = 5, dims: Int = 32,
      cand: Int = 0): String = {
    val candPred =
      if (cand > 0) s"crn <= $cand"
      else s"""crn <= greatest(${30 * k},
         |    (SELECT CAST(ceil(count(*) / 5.0) AS BIGINT) FROM base))""".stripMargin
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |pref AS MATERIALIZED (
       |  SELECT vec_id, embedding[1:$dims] AS p,
       |         ${normSql(s"embedding[1:$dims]")} AS pn FROM base),
       |q AS (SELECT vec_id AS query_id, p AS qp, pn AS qpn
       |      FROM pref WHERE vec_id < $nq),
       |approx AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         ${dotSql("c.p", "q.qp")} / (c.pn * q.qpn) AS pcos
       |  FROM pref c JOIN q ON c.vec_id <> q.query_id),
       |cnd AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY pcos DESC, neighbor_id) AS crn
       |    FROM approx)
       |  WHERE $candPred),
       |exact AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |         ${dotSql("qf.embedding", "e.embedding")} / (qf.nrm * e.nrm) AS cos
       |  FROM cnd cd JOIN base e ON e.vec_id = cd.neighbor_id
       |              JOIN base qf ON qf.vec_id = cd.query_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM exact)
       |SELECT query_id, rn, neighbor_id, round(cos, 6) AS cosine FROM r
       |WHERE rn <= $k ORDER BY query_id, rn""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Similarity.annTopKMrlIvf]]: the
    * [[ivfCtes]] cell assignment, `nprobe` nearest cells per query,
    * PREFIX-cosine ranking restricted to the probed cells, exact
    * full-vector rerank of the survivors. `cand <= 0` replays the
    * engine's probed-population-derived pool
    * ([[graft.pipelines.Similarity.autoMrlIvfCand]] —
    * `greatest(30·k, ⌈count·nprobe/(nlist·2)⌉)` as a scalar subquery;
    * the multiply-then-divide order matches the Scala expression so
    * the IEEE doubles agree bit-for-bit); explicit `cand` is emitted
    * verbatim, as in [[annTopKMrl]]. */
  /** Shared PQ CTE chain (no `base` — the caller's chain provides it):
    * subspace split, seed codebooks + one Lloyd step with 6-decimal
    * rounding, code assignment, query subvectors and the per-query ADC
    * tables — the verbatim mirror of
    * [[graft.pipelines.Similarity.pqCodebooks]]/`pqEncode`/
    * `pqAdcTables`. A codeword with no assigned vector is dropped by
    * the GROUP BY on both engines. */
  private def pqCtes(m: Int, ksub: Int, dim: Int, nq: Int): String = {
    val dsub = dim / m
    s"""sx AS MATERIALIZED (SELECT unnest(generate_series(0, ${m - 1})) AS s),
       |sub AS MATERIALIZED (
       |  SELECT b.vec_id, sx.s,
       |         list_slice(b.embedding, sx.s * $dsub + 1,
       |                    sx.s * $dsub + $dsub) AS sv
       |  FROM base b CROSS JOIN sx),
       |pseeds AS MATERIALIZED (
       |  SELECT s, vec_id AS cid, sv AS cvec FROM sub WHERE vec_id < $ksub),
       |pa0 AS MATERIALIZED (
       |  SELECT s, cid, sv FROM (
       |    SELECT v.s, c.cid, v.sv,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
       |             ORDER BY ${sqDistSql("v.sv", "c.cvec")}, c.cid) AS rn
       |    FROM sub v JOIN pseeds c ON c.s = v.s) WHERE rn = 1),
       |book AS MATERIALIZED (
       |  SELECT s, cid, list(round(mv, 6) ORDER BY pos) AS cvec FROM (
       |    SELECT s, cid, i AS pos, avg(CAST(sv[i] AS DOUBLE)) AS mv
       |    FROM pa0 CROSS JOIN (SELECT unnest(generate_series(1, $dsub)) AS i) ix
       |    GROUP BY s, cid, i) GROUP BY s, cid),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, s, cid AS code FROM (
       |    SELECT v.vec_id, v.s, bk.cid,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
       |             ORDER BY ${sqDistSql("v.sv", "bk.cvec")}, bk.cid) AS rn
       |    FROM sub v JOIN book bk ON bk.s = v.s) WHERE rn = 1),
       |qsub AS MATERIALIZED (
       |  SELECT vec_id AS query_id, s, sv AS qsv FROM sub WHERE vec_id < $nq),
       |adc AS MATERIALIZED (
       |  SELECT q.query_id, bk.s, bk.cid AS code,
       |         ${dotSql("q.qsv", "bk.cvec")} AS part
       |  FROM qsub q JOIN book bk ON bk.s = q.s)""".stripMargin
  }

  /** Shared tail of the PQ oracles: ordered ADC fold (part summed in
    * subspace order — the engine's `array_sort(collect_list)` fold
    * order, pinned), candidate cut, exact rerank. `partsFrom` supplies
    * the (query_id, vec_id, s, part) relation body. */
  private def pqTail(partsFrom: String, candPred: String,
      k: Int): String =
    s"""parts AS ($partsFrom),
       |approx AS MATERIALIZED (
       |  SELECT p.query_id, p.vec_id AS neighbor_id,
       |         p.adot / (n.nrm * qn.nrm) AS qcos
       |  FROM (SELECT query_id, vec_id,
       |          list_reduce(list_prepend(0::DOUBLE, list(part ORDER BY s)),
       |            (acc, v) -> acc + v) AS adot
       |        FROM parts GROUP BY query_id, vec_id) p
       |  JOIN base n ON n.vec_id = p.vec_id
       |  JOIN base qn ON qn.vec_id = p.query_id),
       |cnd AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY qcos DESC, neighbor_id) AS crn
       |    FROM approx)
       |  WHERE $candPred),
       |exact AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |         ${dotSql("qf.embedding", "e.embedding")} / (qf.nrm * e.nrm) AS cos
       |  FROM cnd cd JOIN base e ON e.vec_id = cd.neighbor_id
       |              JOIN base qf ON qf.vec_id = cd.query_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM exact)
       |SELECT query_id, rn, neighbor_id, round(cos, 6) AS cosine FROM r
       |WHERE rn <= $k ORDER BY query_id, rn""".stripMargin

  /** Product-quantization ANN top-k, twin of
    * [[graft.pipelines.Similarity.annTopKPq]]: the whole pipeline —
    * per-subspace codebook training, code assignment, ADC scoring over
    * exact norms, derived candidate cut, exact rerank — replayed in
    * SQL. `cand <= 0` replays `autoPqCand` (`max(12k, ⌈N/20⌉)`) as a
    * scalar subquery, the [[annTopKMrl]] discipline. */
  def annTopKPq(nq: Int = 10, k: Int = 5, m: Int = 16, ksub: Int = 32,
      cand: Int = 0, dim: Int = 64): String = {
    val candPred =
      if (cand > 0) s"crn <= $cand"
      else s"""crn <= greatest(${12 * k},
         |    (SELECT CAST(ceil(CAST(count(*) AS DOUBLE) / 20.0) AS BIGINT)
         |     FROM base))""".stripMargin
    val parts =
      s"""  SELECT a.query_id, c.vec_id, a.s, a.part
         |  FROM codes c JOIN adc a ON a.s = c.s AND a.code = c.code
         |  WHERE c.vec_id <> a.query_id""".stripMargin
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
       |  FROM embeddings),
       |${pqCtes(m, ksub, dim, nq)},
       |${pqTail(parts, candPred, k)}""".stripMargin
  }

  /** IVF×PQ ANN top-k, twin of
    * [[graft.pipelines.Similarity.annTopKPqIvf]]: the [[ivfCtes]]
    * coarse quantizer scopes the code scan to each query's probed
    * cells, the [[pqCtes]] chain supplies codes and ADC tables, and
    * the rerank pool replays [[annTopKMrlIvf]]'s probed-population
    * derivation. */
  def annTopKPqIvf(nq: Int = 10, k: Int = 5, nlist: Int = 8,
      nprobe: Int = 4, m: Int = 16, ksub: Int = 32, cand: Int = 0,
      dim: Int = 64): String = {
    val candPred =
      if (cand > 0) s"crn <= $cand"
      else s"""crn <= greatest(${30 * k},
         |    (SELECT CAST(ceil(CAST(count(*) AS DOUBLE) * ${nprobe}.0
         |                      / ${nlist * 2}.0) AS BIGINT) FROM base))""".stripMargin
    val parts =
      s"""  SELECT a.query_id, c.vec_id, a.s, a.part
         |  FROM codes c
         |  JOIN a1 ON a1.vec_id = c.vec_id
         |  JOIN probes pr ON pr.cid = a1.cid
         |  JOIN adc a ON a.query_id = pr.query_id
         |            AND a.s = c.s AND a.code = c.code
         |  WHERE c.vec_id <> pr.query_id""".stripMargin
    s"""WITH ${ivfCtes(nlist, dim)},
       |${pqCtes(m, ksub, dim, nq)},
       |probes AS MATERIALIZED (
       |  SELECT query_id, cid FROM (
       |    SELECT b.vec_id AS query_id, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |             ORDER BY ${sqDistSql("b.embedding", "c.cvec")}, c.cid) AS rn
       |    FROM base b CROSS JOIN cent c WHERE b.vec_id < $nq) WHERE rn <= $nprobe),
       |${pqTail(parts, candPred, k)}""".stripMargin
  }

  def annTopKMrlIvf(nq: Int = 10, k: Int = 5, nlist: Int = 8,
      nprobe: Int = 4, dims: Int = 32, cand: Int = 0,
      dim: Int = 64): String = {
    val candPred =
      if (cand > 0) s"crn <= $cand"
      else s"""crn <= greatest(${30 * k},
         |    (SELECT CAST(ceil(CAST(count(*) AS DOUBLE) * ${nprobe}.0
         |                      / ${nlist * 2}.0) AS BIGINT) FROM base))""".stripMargin
    s"""WITH ${ivfCtes(nlist, dim)},
       |pref AS MATERIALIZED (
       |  SELECT vec_id, cid, embedding[1:$dims] AS p,
       |         ${normSql(s"embedding[1:$dims]")} AS pn FROM a1),
       |probes AS MATERIALIZED (
       |  SELECT query_id, cid FROM (
       |    SELECT b.vec_id AS query_id, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |             ORDER BY ${sqDistSql("b.embedding", "c.cvec")}, c.cid) AS rn
       |    FROM base b CROSS JOIN cent c WHERE b.vec_id < $nq) WHERE rn <= $nprobe),
       |qp AS (SELECT vec_id AS query_id, p AS qp, pn AS qpn
       |       FROM pref WHERE vec_id < $nq),
       |approx AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         ${dotSql("c.p", "q.qp")} / (c.pn * q.qpn) AS pcos
       |  FROM pref c JOIN probes pr ON c.cid = pr.cid
       |              JOIN qp q ON q.query_id = pr.query_id
       |  WHERE c.vec_id <> q.query_id),
       |cnd AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY pcos DESC, neighbor_id) AS crn
       |    FROM approx)
       |  WHERE $candPred),
       |exact AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |         ${dotSql("qf.embedding", "e.embedding")} / (qf.nrm * e.nrm) AS cos
       |  FROM cnd cd JOIN base e ON e.vec_id = cd.neighbor_id
       |              JOIN base qf ON qf.vec_id = cd.query_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM exact)
       |SELECT query_id, rn, neighbor_id, round(cos, 6) AS cosine FROM r
       |WHERE rn <= $k ORDER BY query_id, rn""".stripMargin
  }

  def annTopKQ8(nq: Int = 10, k: Int = 5, cand: Int = 20): String = {
    val intdot = "list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(list_zip(c.q, qq.q), z -> z[1] * z[2])), (a, x) -> a + x)"
    s"""WITH $quantizeCtes,
       |qq AS MATERIALIZED (
       |  SELECT vec_id AS query_id, q, ma, nrm FROM qz WHERE vec_id < $nq),
       |approx AS (
       |  SELECT qq.query_id, c.vec_id AS neighbor_id,
       |         CAST($intdot AS DOUBLE) * c.ma * qq.ma
       |           / (16129.0::DOUBLE * c.nrm * qq.nrm) AS qcos
       |  FROM qz c JOIN qq ON c.vec_id <> qq.query_id),
       |cnd AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY qcos DESC, neighbor_id) AS crn
       |    FROM approx) WHERE crn <= $cand),
       |exact AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |         ${dotSql("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS cos
       |  FROM cnd cd JOIN base e ON e.vec_id = cd.neighbor_id
       |              JOIN base q ON q.vec_id = cd.query_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM exact)
       |SELECT query_id, rn, neighbor_id, round(cos, 6) AS cosine FROM r
       |WHERE rn <= $k ORDER BY query_id, rn""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Similarity.annTopKQ8Ivf]]: IVF
    * cell-probe candidate generation ([[ivfCtes]]) composed with the
    * int8-quantized prefilter and the exact cosine rerank.
    * `trainPermille` < 1000 replays the hash-gated centroid-training
    * sample — the full 100 TB configuration (cell probe + int8 +
    * sampled training) in one oracle. */
  def annTopKQ8Ivf(nq: Int = 10, k: Int = 5, nlist: Int = 8,
      nprobe: Int = 4, cand: Int = 20, dim: Int = 64,
      trainPermille: Int = 1000): String = {
    val intdot = "list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(list_zip(c.q, qq.q), z -> z[1] * z[2])), (a, x) -> a + x)"
    s"""WITH ${ivfCtes(nlist, dim, trainPermille)},
       |m0 AS MATERIALIZED (
       |  SELECT vec_id, ${maxAbsSql("embedding")} AS ma FROM base),
       |qz AS MATERIALIZED (
       |  SELECT a.vec_id, a.cid, a.nrm, m0.ma,
       |         CASE WHEN m0.ma = 0 THEN list_transform(a.embedding, v -> 0::BIGINT)
       |              ELSE list_transform(a.embedding,
       |                v -> CAST(round(CAST(v AS DOUBLE) * 127.0 / m0.ma) AS BIGINT)) END AS q
       |  FROM a1 a JOIN m0 ON m0.vec_id = a.vec_id),
       |probes AS MATERIALIZED (
       |  SELECT query_id, cid FROM (
       |    SELECT b.vec_id AS query_id, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |             ORDER BY ${sqDistSql("b.embedding", "c.cvec")}, c.cid) AS rn
       |    FROM base b CROSS JOIN cent c WHERE b.vec_id < $nq) WHERE rn <= $nprobe),
       |qq AS MATERIALIZED (
       |  SELECT vec_id AS query_id, q, ma, nrm FROM qz WHERE vec_id < $nq),
       |approx AS (
       |  SELECT qq.query_id, c.vec_id AS neighbor_id,
       |         CAST($intdot AS DOUBLE) * c.ma * qq.ma
       |           / (16129.0::DOUBLE * c.nrm * qq.nrm) AS qcos
       |  FROM qz c JOIN probes p ON c.cid = p.cid
       |            JOIN qq ON qq.query_id = p.query_id
       |  WHERE c.vec_id <> qq.query_id),
       |cnd AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY qcos DESC, neighbor_id) AS crn
       |    FROM approx) WHERE crn <= $cand),
       |exact AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |         ${dotSql("q.embedding", "e.embedding")} / (q.nrm * e.nrm) AS cos
       |  FROM cnd cd JOIN base e ON e.vec_id = cd.neighbor_id
       |              JOIN base q ON q.vec_id = cd.query_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM exact)
       |SELECT query_id, rn, neighbor_id, round(cos, 6) AS cosine FROM r
       |WHERE rn <= $k ORDER BY query_id, rn""".stripMargin
  }

  /** Recall@k audit (mirror of
    * [[graft.pipelines.Similarity.recallAudit]]): each approximate
    * rung's full oracle query is embedded as a materialized CTE (a CTE
    * body may itself start with WITH), the exact rung once, and recall
    * is the intersection size over nq·k — all-integer until the final
    * IEEE division, so bit-identical across engines. */
  def annRecallAudit(nq: Int = 10, k: Int = 5): String = {
    val total = nq.toLong * k
    def wrap(q: String): String =
      s"(SELECT query_id, neighbor_id FROM (\n$q\n) t)"
    def row(name: String): String =
      s"""SELECT '$name' AS rung, CAST(COUNT(*) AS BIGINT) AS hits,
         |       CAST($total AS BIGINT) AS total,
         |       COUNT(*) / $total.0::DOUBLE AS recall
         |FROM ${name}_t a JOIN exact_t e
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id""".stripMargin
    s"""WITH exact_t AS MATERIALIZED ${wrap(annTopK(nq, k))},
       |ivf_t AS MATERIALIZED ${wrap(annTopKIvf(nq, k))},
       |lsh_t AS MATERIALIZED ${wrap(annTopKLsh(nq, k))},
       |mrl_t AS MATERIALIZED ${wrap(annTopKMrl(nq, k))},
       |mrl_ivf_t AS MATERIALIZED ${wrap(annTopKMrlIvf(nq, k))},
       |pq_t AS MATERIALIZED ${wrap(annTopKPq(nq, k))},
       |pq_ivf_t AS MATERIALIZED ${wrap(annTopKPqIvf(nq, k))},
       |q8_t AS MATERIALIZED ${wrap(annTopKQ8(nq, k))},
       |q8ivf_t AS MATERIALIZED ${wrap(annTopKQ8Ivf(nq, k))}
       |${row("ivf")}
       |UNION ALL ${row("lsh")}
       |UNION ALL ${row("mrl")}
       |UNION ALL ${row("mrl_ivf")}
       |UNION ALL ${row("pq")}
       |UNION ALL ${row("pq_ivf")}
       |UNION ALL ${row("q8")}
       |UNION ALL ${row("q8ivf")}
       |ORDER BY rung""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Similarity.recallAuditAppended]]:
    * centroids trained on the first half of the corpus (by vec_id)
    * versus the full corpus, ALL vectors assigned against each set —
    * the appended-then-compacted index is exactly "assign everything
    * against the build-time centroids" because the two generations'
    * vec_id ranges are disjoint and compaction keeps the latest row
    * per vec_id. Probes, recall vs the exact rung, and the
    * max/mean cell-imbalance rows are recomputed literally. */
  def annRecallAuditAppended(nq: Int = 10, k: Int = 5, nlist: Int = 8,
      nprobe: Int = 5, dim: Int = 64): String = {
    val total = nq.toLong * k
    // one Lloyd step from the shared seeds over `trainSrc`, ending in
    // a centroid CTE named `centT` (the ivfTrainCtes shape with a
    // parameterized training corpus)
    def train(centT: String, a0T: String, trainSrc: String): String =
      s"""$a0T AS MATERIALIZED (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT b.vec_id, b.embedding, s.cid,
         |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${sqDistSql("b.embedding", "s.cvec")}, s.cid) AS rn
         |    FROM $trainSrc b CROSS JOIN seeds s) WHERE rn = 1),
         |$centT AS MATERIALIZED (
         |  SELECT cid, list(round(m, 6) ORDER BY pos) AS cvec FROM (
         |    SELECT cid, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS m
         |    FROM $a0T CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS i) ix
         |    GROUP BY cid, i) GROUP BY cid)""".stripMargin
    // full-corpus assignment against `centT`, ending in `a1T`
    def assign(a1T: String, centT: String): String =
      s"""$a1T AS MATERIALIZED (
         |  SELECT vec_id, embedding, nrm, cid FROM (
         |    SELECT b.vec_id, b.embedding, b.nrm, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${sqDistSql("b.embedding", "c.cvec")}, c.cid) AS rn
         |    FROM abase b CROSS JOIN $centT c) WHERE rn = 1)""".stripMargin
    // nprobe cell-probe + exact-cosine rerank, ending in `<out>_t`
    def probe(out: String, centT: String, a1T: String): String =
      s"""${out}_probes AS MATERIALIZED (
         |  SELECT query_id, cid FROM (
         |    SELECT b.vec_id AS query_id, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |             ORDER BY ${sqDistSql("b.embedding", "c.cvec")}, c.cid) AS rn
         |    FROM abase b CROSS JOIN $centT c WHERE b.vec_id < $nq) WHERE rn <= $nprobe),
         |${out}_t AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, neighbor_id) AS rn
         |    FROM (
         |      SELECT p.query_id, a.vec_id AS neighbor_id,
         |             ${dotSql("q.embedding", "a.embedding")} / (q.nrm * a.nrm) AS cos
         |      FROM $a1T a JOIN ${out}_probes p
         |        ON a.cid = p.cid AND a.vec_id <> p.query_id
         |      JOIN abase q ON q.vec_id = p.query_id) s) WHERE rn <= $k)""".stripMargin
    def recallRow(name: String): String =
      s"""SELECT '$name' AS rung, CAST(COUNT(*) AS BIGINT) AS hits,
         |       CAST($total AS BIGINT) AS total,
         |       COUNT(*) / $total.0::DOUBLE AS recall
         |FROM ivf_${name.stripPrefix("ivf_")}_t a JOIN exact_t e
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id""".stripMargin
    def cellRow(name: String, a1T: String): String =
      s"""SELECT '$name' AS rung, CAST(MAX(cn) AS BIGINT) AS hits,
         |       CAST(SUM(cn) AS BIGINT) AS total,
         |       round(CAST(MAX(cn) AS DOUBLE) * $nlist.0::DOUBLE
         |             / CAST(SUM(cn) AS DOUBLE), 6) AS recall
         |FROM (SELECT cid, COUNT(*) AS cn FROM $a1T GROUP BY cid) t""".stripMargin
    s"""WITH abase AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
       |  FROM embeddings),
       |seeds AS MATERIALIZED (
       |  SELECT vec_id AS cid, embedding AS cvec FROM abase
       |  WHERE vec_id < $nlist),
       |${train("cent_stale", "a0_s",
          "(SELECT * FROM abase WHERE vec_id < (SELECT COUNT(*) // 2 FROM abase))")},
       |${train("cent_fresh", "a0_f", "abase")},
       |${assign("a1_appended", "cent_stale")},
       |${assign("a1_fresh", "cent_fresh")},
       |${probe("ivf_appended", "cent_stale", "a1_appended")},
       |${probe("ivf_fresh", "cent_fresh", "a1_fresh")},
       |exact_t AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |${annTopK(nq, k)}
       |) x)
       |${recallRow("ivf_appended")}
       |UNION ALL ${recallRow("ivf_fresh")}
       |UNION ALL ${cellRow("cells_appended", "a1_appended")}
       |UNION ALL ${cellRow("cells_fresh", "a1_fresh")}
       |ORDER BY rung""".stripMargin
  }

  /** Frame-sampling fingerprints (mirror of
    * [[graft.pipelines.Multimodal.chunkFingerprints]]). */
  def multimodalChunks(frame: Int = 64): String =
    s"""WITH c AS MATERIALIZED (
       |  SELECT doc_id, text,
       |         unnest(generate_series(0,
       |           greatest(CAST(ceil(length(text) / $frame.0::DOUBLE) AS BIGINT), 1) - 1)) AS i
       |  FROM documents)
       |SELECT doc_id, i AS chunk_idx,
       |       ${GraftHash.duckdbSql(s"substr(text, CAST(i * $frame + 1 AS BIGINT), $frame)")} AS chunk_fp
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** Byte-level metadata of the opaque payload column (multimodal stub
    * pipeline): byte length + rolling-hash checksum. */
  def multimodalMeta: String =
    s"""SELECT doc_id, strlen(text) AS n_bytes,
       |       ${GraftHash.duckdbSql("text")} AS payload_fp
       |FROM documents ORDER BY doc_id""".stripMargin

  /** UTF-8 byte list of `text` via hex decoding: `instr` over the hex
    * alphabet maps '0'→0 (not found) … 'F'→15, so each hex-digit pair
    * reassembles its byte exactly — DuckDB has no direct byte accessor
    * on BLOBs. CTE ends in `bl(doc_id, n, bs)`. */
  private def byteListCtes: String =
    s"""h AS MATERIALIZED (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |         octet_length(encode(text))::BIGINT AS n
       |  FROM documents),
       |bl AS MATERIALIZED (
       |  SELECT doc_id, n, list_transform(range(n), i ->
       |    instr('123456789ABCDEF', substr(hx, CAST(i*2+1 AS INT), 1)) * 16 +
       |    instr('123456789ABCDEF', substr(hx, CAST(i*2+2 AS INT), 1))) AS bs
       |  FROM h)""".stripMargin

  /** Byte-feature projection over a byte list: mean byte value and the
    * 8-bucket (v div 32) normalized histogram, both 6-decimal rounded —
    * the exact-integer twin of the identity-codec features in
    * [[graft.pipelines.Multimodal.extractFeatures]]. */
  private def byteFeatureSql(bs: String, n: String): String = {
    val hist = (0 until 8).map { k =>
      s"CASE WHEN $n = 0 THEN 0.0::DOUBLE ELSE " +
        s"round(CAST(len(list_filter($bs, v -> v // 32 = $k)) AS DOUBLE) " +
        s"/ $n, 6) END"
    }.mkString("[", ",\n         ", "]")
    s"""$n AS n_bytes,
       |       CASE WHEN $n = 0 THEN 0.0::DOUBLE ELSE
       |         round(CAST(list_reduce(list_prepend(0::BIGINT, $bs),
       |           (a, v) -> a + v) AS DOUBLE) / $n, 6) END AS byte_mean,
       |       $hist AS hist""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Multimodal.extractFeatures]] over the
    * identity-codec payload (UTF-8 bytes of `text`), histogram exploded
    * to (pos, hist_v) scalar rows like the Spark gate. */
  def multimodalFeatures: String =
    s"""WITH $byteListCtes,
       |f AS (SELECT doc_id, ${byteFeatureSql("bs", "n")} FROM bl)
       |SELECT doc_id, n_bytes, byte_mean, pos, hist_v FROM (
       |  SELECT doc_id, n_bytes, byte_mean,
       |         unnest(range(8)) AS pos, unnest(hist) AS hist_v
       |  FROM f)
       |ORDER BY doc_id, pos""".stripMargin

  /** Mirror of [[graft.pipelines.Images.imageRoundTrip]]: the Spark
    * side encodes document bytes as a REAL gray-8 PNG and decodes it
    * back through javax.imageio; because that round trip is lossless,
    * the decoded geometry and luminance stats equal what this SQL
    * computes from the raw bytes — certifying the real codec without
    * DuckDB needing one. */
  def multimodalImageRoundtrip: String = {
    val w = graft.pipelines.Images.RowWidth
    s"""WITH $byteListCtes,
       |g AS (SELECT doc_id,
       |  greatest(1, (n + ${w - 1}) // $w) AS h,
       |  list_reduce(list_prepend(0::BIGINT, bs), (a, v) -> a + v) AS s
       |  FROM bl)
       |SELECT doc_id, $w AS width, CAST(h AS INT) AS height,
       |       CAST($w * h AS BIGINT) AS n_pixels,
       |       round(CAST(s AS DOUBLE) / ($w * h), 6) AS mean_luma
       |FROM g ORDER BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Images.resizedRoundTrip]]: the gray-8
    * PNG hops are lossless and the nearest-neighbor pick grid is
    * `orig[(i div nw)·f·W + (i mod nw)·f]` over the zero-padded byte
    * raster, so the resized statistics replay from the raw bytes. */
  def multimodalResizeReal(factor: Int = 2): String = {
    val w = graft.pipelines.Images.RowWidth
    val nw = math.max(1, w / factor)
    s"""WITH $byteListCtes,
       |g AS (SELECT doc_id, n, bs,
       |  greatest(1, (n + ${w - 1}) // $w) AS h FROM bl),
       |d AS (SELECT doc_id, bs, $nw AS nw, greatest(1, h // $factor) AS nh
       |  FROM g),
       |s AS (SELECT doc_id, nw, nh,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(range(nw * nh),
       |    i -> coalesce(bs[CAST((i // nw) * $factor * $w +
       |      (i % nw) * $factor + 1 AS INT)], 0))), (a, v) -> a + v) AS s
       |  FROM d)
       |SELECT doc_id, CAST(nw AS INT) AS width, CAST(nh AS INT) AS height,
       |       CAST(nw * nh AS BIGINT) AS n_pixels,
       |       round(CAST(s AS DOUBLE) / (nw * nh), 6) AS mean_luma
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Images.frameSample]]: the gray GIF
    * frames are lossless `side`×`side` tiles of the zero-padded byte
    * stream, so every sampled frame's mean luminance replays from the
    * raw bytes. */
  def multimodalFrames(stride: Int = 2): String = {
    val side = graft.pipelines.Images.RowWidth
    val fb = side * side
    s"""WITH $byteListCtes,
       |g AS (SELECT doc_id, n, bs,
       |  greatest(1, (n + ${fb - 1}) // $fb) AS f FROM bl),
       |fr AS (SELECT doc_id, bs, unnest(range(f)) AS frame_idx FROM g),
       |st AS (SELECT doc_id, frame_idx,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(range($fb),
       |    j -> coalesce(bs[CAST(frame_idx * $fb + j + 1 AS INT)], 0))),
       |    (a, v) -> a + v) AS s
       |  FROM fr WHERE frame_idx % $stride = 0)
       |SELECT doc_id, frame_idx, $side AS width, $side AS height,
       |       round(CAST(s AS DOUBLE) / $fb, 6) AS mean_luma
       |FROM st ORDER BY doc_id, frame_idx""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Audio.audioRoundTrip]]: 8-bit PCM is
    * lossless, so decoded sample statistics equal raw-byte statistics;
    * rate/channels are the encoder's literals. */
  def multimodalAudioRoundtrip: String =
    s"""WITH $byteListCtes,
       |g AS (SELECT doc_id, n,
       |  list_reduce(list_prepend(0::BIGINT, bs), (a, v) -> a + v) AS s
       |  FROM bl)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
       |       ${graft.pipelines.Audio.SampleRate} AS sample_rate,
       |       1 AS channels,
       |       round(CAST(s AS DOUBLE) / greatest(n, 1), 6) AS mean_amp
       |FROM g ORDER BY doc_id""".stripMargin

  /** Mirror of [[graft.pipelines.Multimodal.resizeAll]] (+ feature
    * extraction on the resized payload): the stub "resize" keeps every
    * `factor`-th byte, so the resized byte list is a strided 1-based
    * list-extract over the original. */
  def multimodalResize(factor: Int = 4): String =
    s"""WITH $byteListCtes,
       |rz AS MATERIALIZED (
       |  SELECT doc_id,
       |         list_transform(range((n + ${factor - 1}) // $factor),
       |           i -> bs[CAST(i * $factor + 1 AS INT)]) AS rs,
       |         (n + ${factor - 1}) // $factor AS rn
       |  FROM bl),
       |f AS (SELECT doc_id, ${byteFeatureSql("rs", "rn")} FROM rz)
       |SELECT doc_id, n_bytes, byte_mean, pos, hist_v FROM (
       |  SELECT doc_id, n_bytes, byte_mean,
       |         unnest(range(8)) AS pos, unnest(hist) AS hist_v
       |  FROM f)
       |ORDER BY doc_id, pos""".stripMargin

  // ----------------------- retrieval -----------------------

  /** BM25 scoring CTE chain shared by [[bm25Search]] and [[hybridRrf]]:
    * `t` (per-doc dl + per-term tf), `s` (single-row corpus stats),
    * `sc` (per-doc score). Must mirror
    * [[graft.pipelines.Retrieval.bm25]] operator-for-operator — every
    * double op appears in the same left-assoc order so the IEEE folds
    * are bit-identical. */
  private def bm25Ctes(terms: Seq[String], k1: Double, b: Double,
      excludeDocId: Long): String = {
    val toks = TF.sqlTokens("text")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(coalesce(array_length(list_filter(toks, x -> x = '${sq(t)}')), 0) AS BIGINT) AS tf$i"
    }.mkString(",\n         ")
    val dfCols = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(", ")
    val excl = if (excludeDocId >= 0L) s" WHERE doc_id <> $excludeDocId" else ""
    val nD = "CAST(n_docs AS DOUBLE)"
    val k1s = s"$k1::DOUBLE"
    val bs = s"$b::DOUBLE"
    val score = terms.indices.map { i =>
      val tf = s"CAST(tf$i AS DOUBLE)"
      val df = s"CAST(df$i AS DOUBLE)"
      val idf = s"ln(($nD - $df + 0.5::DOUBLE) / ($df + 0.5::DOUBLE) + 1.0::DOUBLE)"
      s"($idf * $tf * ($k1s + 1.0::DOUBLE) / ($tf + $k1s * (1.0::DOUBLE - $bs + " +
        s"$bs * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / $nD))))"
    }.mkString(" + ")
    s"""t AS MATERIALIZED (
       |  SELECT doc_id, CAST(coalesce(array_length(toks), 0) AS BIGINT) AS dl,
       |         $tfCols
       |  FROM (SELECT doc_id, $toks AS toks FROM documents$excl) u),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(dl) AS BIGINT) AS sum_dl, $dfCols FROM t),
       |sc AS (SELECT doc_id, ($score) AS score FROM t CROSS JOIN s)""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Retrieval.bm25]]: Okapi BM25 (Lucene
    * idf), depth-bounded candidates, doc_id tiebreaks. */
  def bm25Search(terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      depth: Int = 100): String =
    s"""WITH ${bm25Ctes(terms, k1, b, excludeDocId = -1L)},
       |cand AS (SELECT doc_id, score FROM sc WHERE score > 0.0::DOUBLE
       |         ORDER BY score DESC, doc_id LIMIT $depth)
       |SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
       |       doc_id, round(score, 6) AS bm25
       |FROM cand ORDER BY rank""".stripMargin

  /** Cosine-ranking CTE chain shared by [[hybridRrf]]: `cb` (corpus +
    * norms), `cq` (the probe vector), `cr` (depth-bounded ranking).
    * Mirrors [[graft.pipelines.Retrieval.cosineRank]]. */
  private def cosineCtes(queryVecId: Long, depth: Int): String =
    s"""cb AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |cq AS (SELECT embedding AS qv, nrm AS qn FROM cb WHERE vec_id = $queryVecId),
       |cc AS (SELECT b.vec_id AS doc_id,
       |              ${dotSql("qv", "b.embedding")} / (qn * b.nrm) AS cos
       |       FROM cb b CROSS JOIN cq WHERE b.vec_id <> $queryVecId),
       |cr AS (SELECT doc_id, cos FROM cc ORDER BY cos DESC, doc_id LIMIT $depth)""".stripMargin

  /** Mirror of [[graft.pipelines.Retrieval.hybridRrf]]: reciprocal-rank
    * fusion of the BM25 and cosine rankings (probe document excluded
    * from both), NULL ranks preserved for single-list documents. */
  def hybridRrf(terms: Seq[String], queryVecId: Long,
      k1: Double = 1.2, b: Double = 0.75, kRrf: Int = 60,
      depth: Int = 100, topK: Int = 20): String =
    s"""WITH ${bm25Ctes(terms, k1, b, excludeDocId = queryVecId)},
       |bmc AS (SELECT doc_id, score FROM sc WHERE score > 0.0::DOUBLE
       |        ORDER BY score DESC, doc_id LIMIT $depth),
       |bm AS (SELECT doc_id,
       |              row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
       |       FROM bmc),
       |${cosineCtes(queryVecId, depth)},
       |co AS (SELECT doc_id,
       |              row_number() OVER (ORDER BY cos DESC, doc_id) AS cos_rank
       |       FROM cr),
       |f AS (SELECT doc_id, bm25_rank, cos_rank,
       |             (coalesce(1.0::DOUBLE / (CAST($kRrf AS DOUBLE) + CAST(bm25_rank AS DOUBLE)), 0.0::DOUBLE) +
       |              coalesce(1.0::DOUBLE / (CAST($kRrf AS DOUBLE) + CAST(cos_rank AS DOUBLE)), 0.0::DOUBLE)) AS rrf
       |      FROM bm FULL JOIN co USING (doc_id)),
       |top AS (SELECT doc_id, bm25_rank, cos_rank, rrf FROM f
       |        ORDER BY rrf DESC, doc_id LIMIT $topK)
       |SELECT row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank,
       |       doc_id, round(rrf, 9) AS rrf, bm25_rank, cos_rank
       |FROM top ORDER BY rank""".stripMargin

  /** Mirror of [[graft.pipelines.Sketches.cmsCounts]] over corpus
    * tokens: the Count-Min cell grid (bucket_r = ((a_r·h1 + b_r·h2)
    * mod P) mod w over the salted-repeat wide-hash components), point
    * estimates as the min over rows, exact occurrence counts alongside.
    * The Spark side computes the fused wide hash and recovers (h1, h2)
    * by div/mod of the bijective pairing; here the two folds are
    * computed directly — identical values by construction. */
  /** Mirror of [[graft.pipelines.Sketches.heavyHitters]]: the operator
    * computes EXACT counts of every token with frequency > n/(k+1) —
    * the Misra-Gries pass only bounds the candidate set, so the oracle
    * is the plain exact formulation with the same integer-exact
    * `cnt·(k+1) > n` threshold. */
  def corpusHeavyTokens(k: Int = 64): String =
    s"""WITH vals AS MATERIALIZED (
       |  SELECT unnest(${TF.sqlTokens("text")}) AS v FROM documents),
       |tot AS (SELECT count(*) AS n FROM vals)
       |SELECT v, CAST(count(*) AS BIGINT) AS cnt
       |FROM vals GROUP BY v
       |HAVING count(*) * ${k + 1} > (SELECT n FROM tot)
       |ORDER BY cnt DESC, v""".stripMargin

  /** Oracle of the STREAMING CMS gate (`stream_token_cms`): the
    * streaming complete-mode cell grid must equal the batch grid, and
    * the batch grid is this SQL — the `cells` stage of
    * [[corpusTokenCms]] alone, ordered by (r, bucket). */
  def streamTokenCms: String = {
    import graft.pipelines.Sketches.{CmsDepth, CmsWidth}
    val params = MinHashParams.params.take(CmsDepth)
    def ext(v: String) = s"(($v) || '|' || ($v) || '#' || ($v))"
    val arms = params.zipWithIndex.map { case ((a, b), r) =>
      s"SELECT $r AS r, " +
        s"(($a*h1 + $b*h2) % 1000000007) % $CmsWidth AS bucket FROM h12"
    }.mkString("\n    UNION ALL ")
    s"""WITH tok AS MATERIALIZED (
       |  SELECT unnest(${TF.sqlTokens("text")}) AS v FROM documents),
       |h12 AS MATERIALIZED (
       |  SELECT ${GraftHash.duckdbSql(ext("v"))} AS h1,
       |         ${GraftHash.duckdbSql2(ext("v"))} AS h2
       |  FROM tok WHERE v IS NOT NULL)
       |SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt
       |FROM ($arms) u GROUP BY r, bucket
       |ORDER BY r, bucket""".stripMargin
  }

  def corpusTokenCms(probes: Seq[String]): String = {
    import graft.pipelines.Sketches.{CmsDepth, CmsWidth}
    val params = MinHashParams.params.take(CmsDepth)
    def ext(v: String) = s"(($v) || '|' || ($v) || '#' || ($v))"
    def armsFrom(src: String, extraCols: String) =
      params.zipWithIndex.map { case ((a, b), r) =>
        s"SELECT $extraCols$r AS r, " +
          s"(($a*h1 + $b*h2) % 1000000007) % $CmsWidth AS bucket FROM $src"
      }.mkString("\n    UNION ALL ")
    val probeVals = probes.map(p => s"('${sq(p)}')").mkString(", ")
    s"""WITH tok AS MATERIALIZED (
       |  SELECT unnest(${TF.sqlTokens("text")}) AS v FROM documents),
       |h12 AS MATERIALIZED (
       |  SELECT ${GraftHash.duckdbSql(ext("v"))} AS h1,
       |         ${GraftHash.duckdbSql2(ext("v"))} AS h2
       |  FROM tok WHERE v IS NOT NULL),
       |cells AS MATERIALIZED (
       |  SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (${armsFrom("h12", "")}) u GROUP BY r, bucket),
       |probes(probe) AS (VALUES $probeVals),
       |ph AS (
       |  SELECT probe, ${GraftHash.duckdbSql(ext("probe"))} AS h1,
       |         ${GraftHash.duckdbSql2(ext("probe"))} AS h2
       |  FROM probes),
       |pb AS (${armsFrom("ph", "probe, ")}),
       |est AS (
       |  SELECT probe, min(coalesce(cnt, 0)) AS cms_count
       |  FROM pb LEFT JOIN cells USING (r, bucket) GROUP BY probe),
       |ex AS (
       |  SELECT p.probe, CAST(count(t.v) AS BIGINT) AS n_exact
       |  FROM probes p LEFT JOIN tok t ON t.v = p.probe GROUP BY p.probe)
       |SELECT e.probe, ex.n_exact, e.cms_count
       |FROM est e JOIN ex USING (probe) ORDER BY probe""".stripMargin
  }

  /** Mirror of [[graft.pipelines.TextMetrics.unigramNll]]: per-token
    * `−ln(ctf/N)` in integer micro-nats (exact cross-row sum), then one
    * division to the per-document mean. */
  def textUnigramNll: String = {
    val toks = TF.sqlTokens("text")
    s"""WITH tf AS MATERIALIZED (
       |  SELECT doc_id, unnest($toks) AS term FROM documents),
       |tc AS MATERIALIZED (
       |  SELECT term, CAST(count(*) AS BIGINT) AS ctf FROM tf GROUP BY term),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tf),
       |x AS (
       |  SELECT doc_id,
       |         CAST(round(-ln(CAST(ctf AS DOUBLE) / CAST(n_tok AS DOUBLE))
       |                    * 1000000.0) AS BIGINT) AS nll_micro
       |  FROM tf JOIN tc USING (term) CROSS JOIN nt)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |       round(CAST(sum(nll_micro) AS DOUBLE) / 1000000.0
       |             / CAST(count(*) AS DOUBLE), 6) AS mean_nll
       |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.TextMetrics.bigramNll]]: bigrams by
    * PARALLEL unnest of the token list against its own tail (DuckDB
    * zips equal-length parallel unnests), conditional surprise
    * `−ln(c(a,b)/c_start(a))` in integer micro-nats, exact long sum,
    * one division to the mean. */
  def textBigramNll: String = {
    val toks = TF.sqlTokens("text")
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, $toks AS ts FROM documents),
       |bg AS MATERIALIZED (
       |  SELECT doc_id,
       |         unnest(ts[1:len(ts)-1]) AS a,
       |         unnest(ts[2:len(ts)]) AS b
       |  FROM t WHERE len(ts) >= 2),
       |cab AS MATERIALIZED (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bg GROUP BY a, b),
       |ca AS MATERIALIZED (
       |  SELECT a, CAST(count(*) AS BIGINT) AS ca FROM bg GROUP BY a),
       |x AS (
       |  SELECT doc_id,
       |         CAST(round(-ln(CAST(cab AS DOUBLE) / CAST(ca AS DOUBLE))
       |                    * 1000000.0) AS BIGINT) AS nll_micro
       |  FROM bg JOIN cab USING (a, b) JOIN ca USING (a))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       round(CAST(sum(nll_micro) AS DOUBLE) / 1000000.0
       |             / CAST(count(*) AS DOUBLE), 6) AS mean_nll
       |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.TextMetrics.qualityCutoff]]:
    * percentile over integer micro-unit qualities, survivors above. */
  def sampleQualityCutoff(q: Double = 0.75): String = {
    val qs = TF.sqlQualityScore("text")
    s"""WITH b AS MATERIALIZED (
       |  SELECT doc_id, CAST(round($qs * 1000000.0) AS BIGINT) AS q_micro
       |  FROM documents),
       |c AS (SELECT quantile_cont(q_micro, $q) AS cutoff FROM b)
       |SELECT doc_id,
       |       round(CAST(q_micro AS DOUBLE) / 1000000.0, 6) AS quality,
       |       round(cutoff / 1000000.0, 6) AS cutoff
       |FROM b CROSS JOIN c WHERE CAST(q_micro AS DOUBLE) >= cutoff
       |ORDER BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.TextMetrics.vocabulary]]: (term, doc)
    * pre-aggregation, per-term tf/df, minCount floor, (tf desc, term)
    * ranking truncated to maxSize. Integer-exact. */
  def textVocabulary(minCount: Long = 2, maxSize: Int = 1000): String =
    s"""WITH pd AS MATERIALIZED (
       |  SELECT term, doc_id, count(*) AS tfd FROM (
       |    SELECT doc_id, unnest(${TF.sqlTokens("text")}) AS term
       |    FROM documents) u GROUP BY term, doc_id),
       |st AS MATERIALIZED (
       |  SELECT term, CAST(sum(tfd) AS BIGINT) AS tf,
       |         CAST(count(*) AS BIGINT) AS df
       |  FROM pd GROUP BY term HAVING sum(tfd) >= $minCount),
       |tp AS (SELECT * FROM st ORDER BY tf DESC, term LIMIT $maxSize)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS BIGINT)
       |         AS rnk, term, tf, df
       |FROM tp ORDER BY rnk""".stripMargin

  /** Mirror of [[graft.pipelines.TextMetrics.qualityCutoffBySource]]:
    * per-source quantile_cont over micro-unit qualities, survivors at
    * or above their own source's cutoff. */
  def sampleQualityCutoffBySource(q: Double = 0.75): String = {
    val qs = TF.sqlQualityScore("text")
    s"""WITH b AS MATERIALIZED (
       |  SELECT doc_id, source,
       |         CAST(round($qs * 1000000.0) AS BIGINT) AS q_micro
       |  FROM documents),
       |c AS MATERIALIZED (
       |  SELECT source, quantile_cont(q_micro, $q) AS cutoff
       |  FROM b GROUP BY source)
       |SELECT doc_id, source,
       |       round(CAST(q_micro AS DOUBLE) / 1000000.0, 6) AS quality,
       |       round(cutoff / 1000000.0, 6) AS cutoff
       |FROM b JOIN c USING (source) WHERE CAST(q_micro AS DOUBLE) >= cutoff
       |ORDER BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.TextMetrics.charEntropy]]: per-class
    * `−(c/n)·ln(c/n)` in micro-nats (exact long sum per document). */
  def textCharEntropy: String =
    s"""WITH cc AS MATERIALIZED (
       |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS ch
       |    FROM documents WHERE text IS NOT NULL AND text <> '') t
       |  GROUP BY doc_id, ch),
       |nn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cc GROUP BY doc_id),
       |x AS (
       |  SELECT cc.doc_id, n,
       |         CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
       |           * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
       |           * 1000000.0) AS BIGINT) AS term
       |  FROM cc JOIN nn USING (doc_id))
       |SELECT doc_id, max(n) AS n_chars,
       |       round(CAST(sum(term) AS DOUBLE) / 1000000.0, 6) AS char_entropy
       |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Mirror of [[graft.pipelines.Sampling.weightedSample]] over
    * documents weighted by quality+0.1: hash-uniform `u`, key
    * `u^(1/w)` rounded to 9 decimals, id tiebreak, top-n. */
  def sampleWeighted(n: Int, salt: String = "|wsample"): String = {
    val h = GraftHash.duckdbSql(
      s"(CAST(doc_id AS VARCHAR) || '${sq(salt)}')")
    val wExpr = s"(${TF.sqlQualityScore("text")} + 0.1::DOUBLE)"
    s"""WITH kk AS (
       |  SELECT doc_id, $wExpr AS weight,
       |         round(pow(CAST($h + 1 AS DOUBLE) / 1000000008.0,
       |           1.0::DOUBLE / $wExpr), 9) AS k
       |  FROM documents),
       |cand AS (SELECT doc_id, weight, k FROM kk
       |         ORDER BY k DESC, doc_id LIMIT $n)
       |SELECT doc_id, round(weight, 6) AS weight,
       |       row_number() OVER (ORDER BY k DESC, doc_id) AS rn
       |FROM cand ORDER BY rn""".stripMargin
  }

  /** Temperature-draw tail shared by [[sampleTemperature]] and
    * [[pipelineCurate]] over any `(source, doc_id)` relation `from`:
    * micro-unit-rounded `N^α` weights, exact long normalization sum,
    * floor-rounded quotas, hash-ordered per-source draw. */
  private def temperatureTail(from: String, total: Int,
      alpha: Double): String = {
    val h = GraftHash.duckdbSql("CAST(doc_id AS VARCHAR)")
    s"""pw AS MATERIALIZED (
       |  SELECT source, CAST(round(pow(CAST(count(*) AS DOUBLE),
       |           $alpha::DOUBLE) * 1000000.0) AS BIGINT) AS pw
       |  FROM $from GROUP BY source),
       |tot AS (SELECT CAST(sum(pw) AS BIGINT) AS pw_sum FROM pw),
       |qq AS (
       |  SELECT source,
       |         CAST(floor(CAST(pw AS DOUBLE) * ${total.toDouble}::DOUBLE
       |           / CAST(pw_sum AS DOUBLE) + 0.5::DOUBLE) AS BIGINT) AS quota
       |  FROM pw CROSS JOIN tot),
       |r AS (
       |  SELECT source, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY source
       |           ORDER BY $h, doc_id) AS rn
       |  FROM $from)
       |SELECT r.source, r.doc_id, r.rn, qq.quota
       |FROM r JOIN qq USING (source) WHERE r.rn <= qq.quota
       |ORDER BY r.source, r.rn""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Sampling.temperatureSample]]. */
  def sampleTemperature(total: Int, alpha: Double): String =
    "WITH " + temperatureTail("documents", total, alpha)

  /** Mirror of [[graft.pipelines.Dedup.curate]]: normalize → lang +
    * quality gate → wide-hash exact dedup (min-id survivor, source via
    * `arg_min`) → the temperature draw over survivors. */
  def pipelineCurate(minQuality: Double, lang: String, total: Int,
      alpha: Double): String = {
    val norm = TF.sqlNormalizeText("text")
    val q = TF.sqlQualityScore("norm_text")
    s"""WITH f AS MATERIALIZED (
       |  SELECT doc_id, source, $norm AS norm_text FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, source, norm_text FROM f
       |  WHERE ${TF.sqlLangId("norm_text")} = '${sq(lang)}'
       |    AND $q >= $minQuality::DOUBLE),
       |sv AS MATERIALIZED (
       |  SELECT min(doc_id) AS doc_id, arg_min(source, doc_id) AS source
       |  FROM (SELECT doc_id, source,
       |          ${GraftHash.duckdbSqlWide("norm_text")} AS h FROM g) t
       |  GROUP BY h),
       |${temperatureTail("sv", total, alpha)}""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Sampling.topKPerGroup]] ranked by the
    * composite quality score: per-source top-k, unrounded-double order
    * with doc_id tiebreak, 6-decimal output rounding. */
  def sampleTopkQuality(k: Int): String = {
    val q = TF.sqlQualityScore("text")
    s"""WITH r AS (
       |  SELECT source, doc_id, $q AS metric,
       |         ROW_NUMBER() OVER (PARTITION BY source
       |           ORDER BY $q DESC, doc_id) AS rn
       |  FROM documents)
       |SELECT source, doc_id, round(metric, 6) AS metric, rn
       |FROM r WHERE rn <= $k ORDER BY source, rn""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Layout.zValue]] over
    * `(doc_id, n_chars)` bucketed to `bits`: identical integer
    * shift/mask interleave, bit-for-bit. */
  def layoutZorder(bits: Int): String = {
    val mask = 1L << bits
    def z(a: String, b: String) = (0 until bits).map(i =>
      s"(((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1}))")
      .mkString("(", " | ", ")")
    s"""SELECT doc_id, ${z(s"(doc_id % $mask)", s"(n_chars % $mask)")} AS z
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Packing.chunkTokens]]: membership
    * fan-out (token → containing chunks), then per-chunk order
    * reconstruction with `string_agg(... ORDER BY pos)`. */
  def textChunks(size: Int, stride: Int): String = {
    val toks = TF.sqlTokens("text")
    s"""WITH pt AS MATERIALIZED (
       |  SELECT doc_id,
       |         unnest(generate_series(0, coalesce(array_length(toks), 0) - 1)) AS pos,
       |         unnest(toks) AS tok
       |  FROM (SELECT doc_id, $toks AS toks FROM documents) d),
       |m AS (
       |  SELECT doc_id, pos, tok,
       |         unnest(generate_series(
       |           greatest(CAST(ceil(CAST(pos - $size + 1 AS DOUBLE)
       |             / ${stride.toDouble}::DOUBLE) AS BIGINT), 0),
       |           CAST(floor(CAST(pos AS DOUBLE)
       |             / ${stride.toDouble}::DOUBLE) AS BIGINT))) AS chunk
       |  FROM pt)
       |SELECT doc_id, chunk, CAST(count(*) AS BIGINT) AS n_tokens,
       |       string_agg(tok, ' ' ORDER BY pos) AS chunk_text
       |FROM m GROUP BY doc_id, chunk ORDER BY doc_id, chunk""".stripMargin
  }

  /** The chunked winnow chain shared by [[dedupWinnow]] and
    * [[corpusQuoteMatrix]], ending in CTE `wm` — a faithful mirror of
    * [[graft.pipelines.Dedup.winnowPacked]] at the public posBits=20:
    * per-doc gram `total` taken BEFORE the chunk explode, each gram
    * fanned into every 2²⁰-gram chunk (stride 2²⁰−w+1) whose range
    * covers it, packed `hash·2²⁰ + chunkLocalPos` keys, per-(doc,
    * chunk) window minima. Sub-2²⁰-gram documents (every gate corpus)
    * take the degenerate single-chunk path — chunk 0, local = global —
    * so the arithmetic reduces to the historical unchunked packing;
    * over-limit documents now mirror Spark's chunking instead of
    * bleeding position bits into the hash field (ADVICE r16). */
  private def winnowChunkedCtes(k: Int, w: Int): String = {
    val sh = TF.sqlShingles("text", k)
    val h = GraftHash.duckdbSql("s")
    val lim = 1048576L // 2^posBits at the public posBits = 20
    val stride = lim - w + 1 // window starts owned per chunk
    val span = lim           // grams a chunk carries
    s"""WITH sh AS MATERIALIZED (
       |  SELECT doc_id,
       |         unnest(generate_series(0, coalesce(array_length(sh), 0) - 1)) AS pos,
       |         unnest(sh) AS s
       |  FROM (SELECT doc_id, $sh AS sh FROM documents) d),
       |p AS (SELECT doc_id, pos, ($h) AS hh,
       |             count(*) OVER (PARTITION BY doc_id) AS total FROM sh),
       |ch AS (
       |  SELECT doc_id, pos, hh, total,
       |         unnest(generate_series(
       |           CASE WHEN pos <= ${span - 1} THEN 0
       |                ELSE (pos - ${span - 1} + ${stride - 1}) // $stride END,
       |           pos // $stride)) AS chunk
       |  FROM p),
       |pk AS (SELECT doc_id, pos, chunk, total,
       |              (hh * $lim + (pos - chunk * $stride)) AS pk FROM ch),
       |wm AS (
       |  SELECT doc_id, pos, chunk, total,
       |         min(pk) OVER (PARTITION BY doc_id, chunk ORDER BY pos
       |           ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS sel,
       |         count(*) OVER (PARTITION BY doc_id, chunk ORDER BY pos
       |           ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wn
       |  FROM pk)""".stripMargin
  }

  /** The winnow chain's selection filter: full windows counted once,
    * by their owning chunk, except sub-w-gram documents whose first
    * (only) partial window stands in for the whole-document minimum. */
  private def winnowKeep(w: Int): String = {
    val stride = 1048576L - w + 1
    s"(wn = $w AND chunk = pos // $stride) OR (total < $w AND pos = 0)"
  }

  /** Mirror of [[graft.pipelines.Dedup.winnow]]: chunked packed-key
    * winnowing ([[winnowChunkedCtes]]), global position recovered as
    * `chunk·stride + sel % 2²⁰`, distinct. */
  def dedupWinnow(k: Int, w: Int): String = {
    val stride = 1048576L - w + 1
    s"""${winnowChunkedCtes(k, w)}
       |SELECT DISTINCT doc_id, chunk * $stride + sel % 1048576 AS pos,
       |       sel >> 20 AS fp_hash
       |FROM wm WHERE ${winnowKeep(w)}
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Dedup.dedupIncremental]] with the gate
    * split (even doc_ids = existing corpus, odd = incoming batch):
    * wide-hash the normalized text, min-id within the batch, anti-join
    * the existing fingerprint set. */
  def dedupIncremental: String = {
    val h = GraftHash.duckdbSqlWide(s"(${TF.sqlNormalizeText("text")})")
    s"""WITH inc AS MATERIALIZED (
       |  SELECT min(doc_id) AS doc_id, h FROM (
       |    SELECT doc_id, $h AS h FROM documents WHERE doc_id % 2 = 1) t
       |  GROUP BY h),
       |ex AS MATERIALIZED (
       |  SELECT DISTINCT $h AS h FROM documents WHERE doc_id % 2 = 0)
       |SELECT doc_id, h FROM inc ANTI JOIN ex USING (h)
       |ORDER BY doc_id""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Dedup.sourceQuoteMatrix]]: winnow
    * chain → distinct (source, hash) → df-guarded hash self-join →
    * per-pair shared-fingerprint counts. */
  def corpusQuoteMatrix(k: Int = 3, w: Int = 4,
      maxSources: Int = 16): String = {
    s"""${winnowChunkedCtes(k, w)},
       |fpd AS (
       |  SELECT DISTINCT doc_id, sel >> 20 AS fp_hash
       |  FROM wm WHERE ${winnowKeep(w)}),
       |fps AS MATERIALIZED (
       |  SELECT DISTINCT source, fp_hash
       |  FROM fpd JOIN documents USING (doc_id)),
       |kept AS MATERIALIZED (
       |  SELECT source, fp_hash FROM fps
       |  WHERE fp_hash IN (SELECT fp_hash FROM fps GROUP BY fp_hash
       |                    HAVING count(*) <= $maxSources))
       |SELECT x.source AS a, y.source AS b,
       |       CAST(count(*) AS BIGINT) AS n_shared
       |FROM kept x JOIN kept y
       |  ON x.fp_hash = y.fp_hash AND x.source < y.source
       |GROUP BY x.source, y.source ORDER BY a, b""".stripMargin
  }

  /** Mirror of [[graft.pipelines.Retrieval.invertedIndex]]: term →
    * (df, sorted comma-joined posting list) inside the df band. */
  def invertedIndex(minDf: Int, maxDf: Int): String =
    s"""SELECT term, CAST(count(*) AS BIGINT) AS df,
       |       array_to_string(list_sort(list(doc_id)), ',') AS postings
       |FROM (SELECT DISTINCT doc_id, unnest(${TF.sqlTokens("text")}) AS term
       |      FROM documents) u
       |GROUP BY term
       |HAVING count(*) >= $minDf AND count(*) <= $maxDf
       |ORDER BY term""".stripMargin
}

/** MinHash constants shared between the Spark pipeline and the oracle. */
object MinHashParams {
  val P = 1000000007L
  val P2 = 1000000009L
  val NumHashes = 16
  val Bands = 4
  val Rows = 4
  /** (a_j, b_j) for the slot hash over the WIDE shingle pair
    * `h_j(h1, h2) = (a_j·h1 + b_j·h2) mod P` — linear in both 30-bit
    * components, so two shingles colliding in one fold still separate
    * in the slot, and `a_j·h1 + b_j·h2 < 2.7e11 << 2^63` (no overflow).
    * Small fixed odd multipliers with distinct ratios a_j/b_j keep the
    * 16 permutations pairwise independent enough for banding. */
  val params: Seq[(Long, Long)] = Seq(
    (3L, 17L), (5L, 29L), (7L, 41L), (11L, 53L),
    (13L, 67L), (19L, 79L), (23L, 97L), (29L, 103L),
    (31L, 113L), (37L, 127L), (41L, 139L), (43L, 151L),
    (47L, 163L), (53L, 179L), (59L, 191L), (61L, 199L))
}
