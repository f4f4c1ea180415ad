package graft

import graft.operators.{Hits, Normalize, Salsa}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2(4)) over random small
  * graphs: norms, rescale invariance. Uses ScalaCheck generators with
  * fixed seeds (no scalatest bridge artifact in the offline cache). */
class PropertiesSpec extends SparkSuite {

  private val genEdges: Gen[List[(String, String, Double)]] = for {
    n <- Gen.choose(3, 8)
    m <- Gen.choose(2, 14)
    edges <- Gen.listOfN(m, for {
      s <- Gen.choose(0, n - 1)
      d <- Gen.choose(0, n - 1)
      w <- Gen.choose(1, 9)
    } yield (s"n$s", s"n$d", w.toDouble))
  } yield edges

  private def samples(k: Int): Seq[List[(String, String, Double)]] =
    (1 to k).flatMap(i => genEdges.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("HITS: post-run L2 norms are 1; SALSA simplified: L1 mass is 1") {
    samples(6).foreach { edges =>
      val g = graph(edges)
      val h = Hits.run(g, numIter = 2)
      val n2 = h.hubs.agg(sum(col("score") * col("score"))).head.getDouble(0)
      assert(math.abs(n2 - 1.0) < 1e-9, s"edges=$edges")
      val s = Salsa.runSimplified(g.edges)
      val l1 = s.auths.agg(sum(col("score"))).head.getDouble(0)
      assert(math.abs(l1 - 1.0) < 1e-9, s"edges=$edges")
    }
  }

  test("split/shuffle/pack invariants over random id sets") {
    import spark.implicits._
    val genIds: Gen[List[Long]] = for {
      n <- Gen.choose(5, 60)
      ids <- Gen.listOfN(n, Gen.choose(Long.MinValue / 2, Long.MaxValue / 2))
    } yield ids.distinct
    val idSets = (1 to 5).flatMap(i =>
      genIds.apply(Gen.Parameters.default, Seed(100L + i)))
    idSets.foreach { ids =>
      val d = ids.toDF("doc_id")
      // split: total + disjoint over arbitrary (incl. negative) ids
      val sp = graft.pipelines.Sampling.splitByHash(spark, d, "doc_id",
        Seq("a" -> 500, "b" -> 500)).collect()
      assert(sp.length == ids.size &&
        sp.forall(r => Set("a", "b")(r.getString(1))))
      // shuffle: bijective over the id set
      val sh = graft.pipelines.Sampling.shuffleByHash(spark, d, "doc_id")
        .collect().map(_.getLong(0))
      assert(sh.sorted.toSeq == ids.sorted)
      // pack: every doc assigned; pack ids stay in their bucket's range
      val docs = ids.map(i => (i, s"w$i x y")).toDF("doc_id", "text")
      val pk = graft.pipelines.Packing.packDocs(spark, docs, "doc_id",
        "text", capacity = 5L, buckets = 3).collect()
      assert(pk.length == ids.size)
      assert(pk.forall { r =>
        val b = r.getLong(1) / graft.pipelines.Packing.PacksPerBucket
        b >= 0 && b < 3
      })
    }
  }

  test("shingles match a plain-Scala sliding-window model on random docs") {
    import spark.implicits._
    val genDoc: Gen[String] = for {
      n <- Gen.choose(0, 25)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc", "a", "dd"))
    } yield toks.mkString(" ")
    val docs = (1 to 8).flatMap(i =>
      genDoc.apply(Gen.Parameters.default, Seed(200L + i)))
    for (n <- Seq(2, 3); text <- docs) {
      val got = Seq(text).toDF("t")
        .select(graft.functions.TextFunctions.shingles(col("t"), n))
        .collect().head.getSeq[String](0)
      val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      val want = if (toks.size >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
        else Seq.empty
      assert(got == want, s"n=$n text='$text'")
    }
  }

  test("topTokenCount (via repetitionSignals) matches max multiplicity " +
      "on random docs") {
    import spark.implicits._
    val genDoc: Gen[List[String]] = for {
      n <- Gen.choose(0, 30)
      toks <- Gen.listOfN(n, Gen.oneOf("x", "y", "z", "x", "x", "w"))
    } yield toks
    val docs = (1 to 10).flatMap(i =>
      genDoc.apply(Gen.Parameters.default, Seed(300L + i)))
    docs.zipWithIndex.foreach { case (toks, i) =>
      val text = toks.mkString(" ")
      val row = graft.pipelines.TextMetrics
        .repetitionSignals(Seq((i.toLong, text)).toDF("doc_id", "text"))
        .collect().head
      val nTokens = row.getLong(1)
      val topFrac = row.getDouble(3)
      assert(nTokens == toks.size)
      val wantTop = if (toks.isEmpty) 0L
        else toks.groupBy(identity).values.map(_.size).max.toLong
      val wantFrac = BigDecimal(wantTop.toDouble / math.max(toks.size, 1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(topFrac - wantFrac) < 1e-9,
        s"doc='$text' got=$topFrac want=$wantFrac")
    }
  }

  test("normalize: rescaling input leaves normalized output unchanged") {
    import spark.implicits._
    samples(4).foreach { edges =>
      val scores = edges.map(e => (e._1, e._3)).distinct.toDF("id", "score")
      def l2(v: DataFrame) = scoresMap(
        Normalize.divide(Checkpoints.materialize(v, Seq(Normalize.L2))))
      val a = l2(scores)
      val b = l2(scores.select(col("id"), (col("score") * 7.5).as("score")))
      a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-9) }
    }
  }

  test("winnow guarantee on random docs: a shared >= w+k-1 token run " +
      "always yields a shared fingerprint hash") {
    import spark.implicits._
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val gen = for {
      shared <- Gen.listOfN(6, Gen.oneOf(vocab)) // w + k - 1 = 6 tokens
      pre <- Gen.listOfN(4, Gen.oneOf(vocab))
      post <- Gen.listOfN(4, Gen.oneOf(vocab))
    } yield (shared, pre, post)
    val samples = (1 to 4).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(500L + i)))
    samples.foreach { case (shared, pre, post) =>
      val d = Seq(
        (1L, (pre ++ shared).mkString(" ")),
        (2L, (shared ++ post).mkString(" ")))
        .toDF("doc_id", "text")
      val fp = graft.pipelines.Dedup.winnow(spark, d, k = 3, w = 4)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      val h1 = fp.filter(_._1 == 1L).map(_._2).toSet
      val h2 = fp.filter(_._1 == 2L).map(_._2).toSet
      assert((h1 & h2).nonEmpty,
        s"no shared fingerprint for shared=$shared pre=$pre post=$post")
    }
  }

  test("chunkTokens with stride == size is an exact non-overlapping cover") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(0, 40)
      toks <- Gen.listOfN(n, Gen.oneOf("x1", "x2", "x3", "x4"))
      size <- Gen.choose(1, 9)
    } yield (toks, size)
    val samples = (1 to 5).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(900L + i)))
    samples.foreach { case (toks, size) =>
      val d = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val chunks = graft.pipelines.Packing.chunkTokens(d, size, size)
        .collect().map(r => (r.getLong(1), r.getString(3)))
      val rebuilt = chunks.sortBy(_._1).map(_._2).filter(_.nonEmpty)
        .flatMap(_.split(" ")).toList
      assert(rebuilt == toks, s"toks=$toks size=$size got=$rebuilt")
      // every chunk except possibly the last is exactly `size` tokens
      val sizes = chunks.sortBy(_._1).map(_._2.split(" ").count(_.nonEmpty))
      assert(sizes.dropRight(1).forall(_ == size), s"sizes=${sizes.toList}")
    }
  }

  test("TopKAgg matches a plain-Scala top-k model on random streams " +
      "and is partitioning-invariant") {
    val gen: Gen[List[(Long, Double)]] = for {
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, for {
        id <- Gen.choose(0L, 30L) // collisions + duplicate ids likely
        m <- Gen.choose(0, 5) // few distinct metrics → heavy ties
      } yield (id, m.toDouble))
    } yield rows
    val samples = (1 to 8).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(100L + i)))
    samples.foreach { rows =>
      val k = 5
      val model = rows.sortBy { case (id, m) => (-m, id) }.take(k)
      // fold in stream order, then via a split-merge — both must equal
      // the model (partition-independence is the map-side-combine claim)
      val agg = new graft.functions.TopKAgg(k)
      val direct = rows.foldLeft(agg.zero)(agg.reduce)
      val (l, r) = rows.splitAt(rows.length / 2)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(direct).toSeq == model, s"rows=$rows")
      assert(agg.finish(merged).toSeq == model, s"rows=$rows")
    }
  }

  test("MisraGriesAgg guarantee: every value with freq > n/(k+1) survives " +
      "any split-merge; counts undercount by <= n/(k+1)") {
    val gen: Gen[List[String]] = for {
      n <- Gen.choose(0, 400)
      rows <- Gen.listOfN(n, Gen.frequency(
        6 -> Gen.const("hot"), 3 -> Gen.const("warm"),
        2 -> Gen.oneOf("a", "b", "c"),
        1 -> Gen.choose(0, 200).map(i => s"tail$i")))
    } yield rows
    val samples = (1 to 10).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(300L + i)))
    for (rows <- samples; k <- Seq(2, 4, 8)) {
      val agg = new graft.functions.MisraGriesAgg(k)
      val n = rows.length
      val truth = rows.groupBy(identity).map { case (v, g) => v -> g.size }
      val heavy = truth.filter { case (_, c) => c.toLong * (k + 1) > n }.keySet
      // arbitrary 3-way split-merge (the shape Spark's partials take)
      val parts = rows.grouped(math.max(1, rows.length / 3)).toList
      val merged = parts.map(_.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val cand = agg.finish(merged).toSet
      assert(heavy.subsetOf(cand),
        s"k=$k lost heavy hitters ${heavy -- cand} (n=$n)")
      // stored counts undercount by at most n/(k+1)
      merged.foreach { case (v, c) =>
        val t = truth.getOrElse(v, 0).toLong
        assert(c <= t && t - c <= n / (k + 1) + 1,
          s"k=$k count bound broken for $v: stored $c true $t n=$n")
      }
    }
  }

  test("TopKAgg ranks NaN metrics largest, matching desc sort order") {
    // The window formulation sorts NaN as the largest double under
    // desc; a naive `>` comparator would never admit a NaN row,
    // breaking the claimed bit-exact equivalence of the two
    // sample_topk_quality formulations. -0.0 must tie with 0.0.
    val rows = List((1L, 2.0), (2L, Double.NaN), (3L, 5.0), (4L, Double.NaN),
      (5L, -0.0), (6L, 0.0), (7L, Double.PositiveInfinity))
    val k = 4
    val agg = new graft.functions.TopKAgg(k)
    val direct = agg.finish(rows.foldLeft(agg.zero)(agg.reduce)).toSeq
    // NaN > +Inf in the total order (java.lang.Double.compare), as in
    // Spark's double ordering; ties break on id asc
    assert(direct.map(_._1) == Seq(2L, 4L, 7L, 3L))
    assert(direct(0)._2.isNaN && direct(1)._2.isNaN)
    assert(direct(2)._2.isPosInfinity && direct(3)._2 == 5.0)
    // -0.0 ties with 0.0: id tiebreak decides, not the sign bit
    val agg2 = new graft.functions.TopKAgg(1)
    val z = agg2.finish(List((6L, 0.0), (5L, -0.0))
      .foldLeft(agg2.zero)(agg2.reduce)).toSeq
    assert(z.map(_._1) == Seq(5L))
  }

  test("contFromCounts over a pre-counted histogram equals " +
      "contFromHistogram over the raw rows on random corpora") {
    import spark.implicits._
    val genRows: Gen[List[(String, Long)]] = for {
      m <- Gen.choose(5, 40)
      rows <- Gen.listOfN(m, for {
        g <- Gen.oneOf("a", "b", "c")
        v <- Gen.choose(0L, 12L)
      } yield (g, v))
    } yield rows
    val qs = Seq(0.25, 0.5, 0.9)
    (1 to 6).flatMap(i =>
      genRows.apply(Gen.Parameters.default, Seed(100L + i))).foreach { rows =>
      val raw = rows.toDF("g", "v")
      val viaRaw = graft.pipelines.Quantiles
        .contFromHistogram(raw, Seq("g"), col("v"), qs)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
          r.getDouble(3))).toSet
      val hist = raw.groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
      val viaCounts = graft.pipelines.Quantiles
        .contFromCounts(hist, Seq("g"), "v", "cnt", qs)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(viaRaw == viaCounts, s"rows=$rows")
    }
  }

  test("approxRankAudit: GK estimates pass the eps bound on random " +
      "corpora; a deliberately wrong estimate fails it") {
    import spark.implicits._
    val qs = Seq(0.5, 0.9, 0.99)
    val acc = 1000
    val genRows: Gen[List[(String, Double)]] = for {
      m <- Gen.choose(20, 80)
      rows <- Gen.listOfN(m, for {
        g <- Gen.oneOf("a", "b")
        v <- Gen.choose(-50000, 50000).map(_ / 7.0) // any-domain doubles
      } yield (g, v))
    } yield rows
    (1 to 4).flatMap(i =>
      genRows.apply(Gen.Parameters.default, Seed(900L + i))).foreach { rows =>
      val data = rows.toDF("g", "v")
      val est = data.groupBy(col("g"))
        .agg(percentile_approx(col("v"), array(qs.map(lit): _*), lit(acc))
          .as("est"))
        .select(col("g"), posexplode(col("est")).as(Seq("qi", "est")))
      val audit = graft.pipelines.Quantiles
        .approxRankAudit(data, "g", col("v"), est, qs, acc)
        .collect()
      assert(audit.length == rows.map(_._1).distinct.size * qs.size)
      assert(audit.forall(_.getInt(3) == 1),
        s"bound violated: ${audit.mkString(",")}")
      // sabotage: an estimate far beyond every value must FAIL the
      // audit — the gate's oracle would hash-mismatch on this row
      val bad = est.withColumn("est",
        when(col("qi") === 0, lit(1e12)).otherwise(col("est")))
      val sab = graft.pipelines.Quantiles
        .approxRankAudit(data, "g", col("v"), bad, qs, acc)
        .collect().filter(_.getDouble(1) == 0.5)
      assert(sab.nonEmpty && sab.forall(_.getInt(3) == 0),
        s"sabotaged estimate passed: ${sab.mkString(",")}")
    }
  }

  test("fixed-bin sketch percentiles stay within the documented width/2 " +
      "bound of the exact percentiles on random double corpora") {
    import spark.implicits._
    val (lo, width, nbins) = (0.0, 0.5, 64) // domain [0, 32)
    val agg = new graft.functions.FixedBinHistogramAgg(lo, width, nbins)
    val genRows: Gen[List[(String, Double)]] = for {
      m <- Gen.choose(8, 60)
      rows <- Gen.listOfN(m, for {
        g <- Gen.oneOf("a", "b")
        // in-domain doubles with non-trivial fractional parts
        v <- Gen.choose(0, 31999).map(_ / 1000.0)
      } yield (g, v))
    } yield rows
    val qs = Seq(0.1, 0.5, 0.9, 0.99)
    (1 to 6).flatMap(i =>
      genRows.apply(Gen.Parameters.default, Seed(500L + i))).foreach { rows =>
      // sketch side: fold through the aggregator (reduce+merge split at
      // an arbitrary point — exercises the algebraic partial path),
      // then interpolate over bin midpoints
      val hist = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val (l, r) = rs.map(_._2).splitAt(rs.length / 2)
        val bins = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
          r.foldLeft(agg.zero)(agg.reduce))
        bins.zipWithIndex.collect { case (c, b) if c > 0 =>
          (g, lo + width * (b + 0.5), c)
        }
      }.toDF("g", "m", "cnt")
      val est = graft.pipelines.Quantiles
        .contFromCounts(hist, Seq("g"), "m", "cnt", qs)
        .collect().map(r => ((r.getString(0), r.getDouble(1)), r.getDouble(3)))
        .toMap
      // exact side: contFromCounts over the raw-value histogram
      val exactHist = rows.toDF("g", "v")
        .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
      val exact = graft.pipelines.Quantiles
        .contFromCounts(exactHist, Seq("g"), "v", "cnt", qs)
        .collect().map(r => ((r.getString(0), r.getDouble(1)), r.getDouble(3)))
        .toMap
      assert(est.keySet == exact.keySet)
      est.foreach { case (k, e) =>
        val x = exact(k)
        assert(math.abs(e - x) <= width / 2 + 1e-12,
          s"$k: sketch $e vs exact $x exceeds width/2 = ${width / 2}")
      }
      // total count is preserved by the sketch (no clamp losses in-domain)
      val n = est.size // sanity: one estimate per (group, q)
      assert(n == exact.size)
    }
  }
}
