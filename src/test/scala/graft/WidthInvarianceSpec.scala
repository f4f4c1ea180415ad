package graft

import graft.operators.{ConnectedComponents, Hits, KCore, KTruss,
  LabelProp, PageRank, Salsa, Triangles}

/** Kernel scores and structural-operator results must not depend on the
  * loop width. The fixtures are small enough that the default
  * bytes-per-task target derives width 1, so every operator here runs
  * three times: with the target forced huge (width 1) and forced to one
  * byte (width = the session's `shuffle.partitions` cap), via
  * [[AdaptiveWidth.BytesPerTaskKey]], at the session's cap and at a cap
  * of 7. Each loop runs on a session of its own, so `shuffle.partitions`
  * must read as it did after every call.
  */
class WidthInvarianceSpec extends SparkSuite {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  private def g = graph(Seq(
    ("a", "c", 1.0), ("a", "d", 2.0), ("b", "c", 1.0), ("c", "d", 3.0),
    ("d", "a", 1.0), ("e", "a", 0.5), ("e", "f", 1.0), ("f", "c", 2.0),
    ("g", "h", 1.0), ("h", "g", 1.0), ("b", "e", 1.5)),
    Map("a" -> "t", "c" -> "t", "f" -> "t", "b" -> "other"))

  /** Scores (and, for the converged kernels, iterations and verdict) of
    * every iterative kernel entry point, keyed by name; a structural
    * operator's rows are the keys of its score map, so they must match
    * exactly. */
  private def runAll(): Map[String, (Map[String, Double], Int, Boolean)] = {
    val cap = spark.conf.get(ShufflePartitions)
    def check[T](name: String)(body: => T): T = {
      val r = body
      assert(spark.conf.get(ShufflePartitions) == cap,
        s"$name left shuffle.partitions changed")
      r
    }
    def vec(df: org.apache.spark.sql.DataFrame) = (scoresMap(df), 0, false)
    def hits(name: String)(r: => Hits.Result) = {
      val x = check(name)(r)
      Seq(s"$name.hubs" -> vec(x.hubs), s"$name.auths" -> vec(x.auths))
    }
    def salsa(name: String)(r: => Salsa.Result) = {
      val x = check(name)(r)
      Seq(s"$name.hubs" -> vec(x.hubs), s"$name.auths" -> vec(x.auths))
    }
    def conv[A](name: String)(fp: => Fixpoint[A])(vs: A => Seq[
        (String, org.apache.spark.sql.DataFrame)]) = {
      val x = check(name)(fp)
      vs(x.result).map { case (k, df) =>
        s"$name.$k" -> (scoresMap(df), x.iterations, x.converged) }
    }
    (hits("Hits.run")(Hits.run(g, 4)) ++
      hits("Hits.runWeighted")(Hits.runWeighted(g, 4)) ++
      hits("Hits.runTeleport")(Hits.runTeleport(g, 0.8, 4)) ++
      hits("Hits.runTopicSpecific")(Hits.runTopicSpecific(g, "t", 0.8, 4)) ++
      salsa("Salsa.run")(Salsa.run(g, 4)) ++
      salsa("Salsa.runTopicSpecific")(Salsa.runTopicSpecific(g, "t", 0.8, 4)) ++
      Seq("PageRank.run" -> vec(check("PageRank.run")(PageRank.run(g))),
        "PageRank.runPersonalized" -> vec(check("PageRank.runPersonalized")(
          PageRank.runPersonalized(g, "t")))) ++
      conv("Hits.runConverged")(Hits.runConverged(g, 1e-9, 30))(r =>
        Seq("hubs" -> r.hubs, "auths" -> r.auths)) ++
      conv("Salsa.runConverged")(Salsa.runConverged(g, 1e-9, 30))(r =>
        Seq("hubs" -> r.hubs, "auths" -> r.auths)) ++
      conv("PageRank.runConverged")(PageRank.runConverged(g, 0.85, 1e-7, 80))(
        r => Seq("scores" -> r)) ++
      Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "ConnectedComponents.run" -> (() => ConnectedComponents.run(pairs)),
        "ConnectedComponents.componentsOn" -> (() =>
          ConnectedComponents.componentsOn(Triangles.undirected(g.edges))),
        "KCore.run" -> (() => KCore.run(g.edges, 2)),
        "KCore.runWeighted" -> (() => KCore.runWeighted(g.edges, 3.0)),
        "KTruss.run" -> (() => KTruss.run(g.edges, 3)),
        "LabelProp.run" -> (() => LabelProp.run(spark, g.edges, seeds, 3)),
        "LabelProp.runWeighted" -> (() =>
          LabelProp.runWeighted(spark, g.edges, seeds, 3))).map {
        case (name, op) => name -> rows(check(name)(op()))
      }).toMap
  }

  /** `g`'s undirected edges with numeric ids (a = 1 … h = 8), the shape
    * the min-label components engine takes. */
  private def pairs = {
    import spark.implicits._
    Seq((1L, 3L), (1L, 4L), (2L, 3L), (3L, 4L), (4L, 1L), (5L, 1L),
      (5L, 6L), (6L, 3L), (7L, 8L), (8L, 7L), (2L, 5L)).toDF("a", "b")
  }

  private def seeds = {
    import spark.implicits._
    Seq(("a", "x"), ("f", "y"), ("g", "x")).toDF("id", "label")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    (df.collect().map(_.mkString("|") -> 0.0).toMap, 0, false)

  /** `body` with `conf` set on the session, each key restored after. */
  private def withConf[T](conf: (String, String)*)(body: => T): T = {
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every iterative kernel scores identically at loop width 1 and at " +
      "the shuffle.partitions cap") {
    val cap = spark.conf.get(ShufflePartitions).toInt
    assert(cap > 1, "the cap must differ from width 1 for this spec to bite")
    val narrow = withConf(AdaptiveWidth.BytesPerTaskKey -> "1t") {
      assert(Fixpoint.width(g.edges) == 1)
      runAll()
    }
    // The cap, and an odd width that divides no other width here.
    Seq(cap, 7).foreach { width =>
      val wide = withConf(ShufflePartitions -> width.toString,
          AdaptiveWidth.BytesPerTaskKey -> "1b") {
        assert(Fixpoint.width(g.edges) == width)
        runAll()
      }
      assert(narrow.keySet == wide.keySet)
      narrow.foreach { case (k, (scores, iters, conv)) =>
        val (wScores, wIters, wConv) = wide(k)
        assert(scores.nonEmpty, s"$k: empty result")
        withClue(s"$k at width $width: ") {
          assertApprox(wScores, scores, 1e-12)
        }
        assert(wIters == iters && wConv == conv,
          s"$k: (iterations, converged) ($iters, $conv) at width 1 vs " +
            s"($wIters, $wConv) at width $width")
      }
    }
  }
}
