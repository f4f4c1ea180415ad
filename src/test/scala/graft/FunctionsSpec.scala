package graft

import graft.functions.{GraftHash, TextFunctions => TF}
import graft.operators.{RankOutput, Subgraph, Topics}
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSuite {
  import org.apache.spark.sql.Row

  test("graft_hash matches the reference fold and codegen == interpreted") {
    import spark.implicits._
    def refHash(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    val data = Seq("", "a", "hello world", "The quick brown fox",
      "x" * 500).toDF("s")
    val got = data.select(GraftHash.graftHash(spark, col("s"))).collect()
      .map(_.getLong(0))
    val want = Seq("", "a", "hello world", "The quick brown fox", "x" * 500)
      .map(refHash)
    assert(got.toSeq == want)
  }

  test("nfc_normalize composes decomposed forms; normalizeText cleans") {
    import spark.implicits._
    import graft.functions.NfcNormalize
    // "é" decomposed (e + combining acute) vs precomposed
    val decomposed = "cafe\u0301"
    val composed = "caf\u00e9"
    val df = Seq(decomposed, composed, "abc").toDF("t")
      .select(NfcNormalize.nfcNormalize(spark, col("t")).as("n"))
    val got = df.collect().map(_.getString(0))
    assert(got(0) == composed && got(1) == composed && got(2) == "abc")
    // interpreted eval agrees with the codegen'd path
    val litExpr = org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(decomposed),
      org.apache.spark.sql.types.StringType)
    assert(NfcNormalize(litExpr).eval(null)
      .asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString == composed)
    val cleaned = Seq("  Mixed\tCASE text\n\nhere  ").toDF("t")
      .select(TF.normalizeText(spark, col("t")).as("n"))
      .head.getString(0)
    assert(cleaned == "mixed case text here")
  }

  test("tokens: blank text yields empty array, whitespace runs collapse") {
    import spark.implicits._
    val df = Seq("", "   ", "a  b\tc", " x ").toDF("t")
      .select(TF.tokenCount(col("t")).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(0, 0, 3, 1))
  }

  test("shingles: short docs produce no shingles") {
    import spark.implicits._
    val df = Seq("a b", "a b c d").toDF("t")
      .select(size(TF.shingles(col("t"), 3)).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(0, 2))
  }

  test("langId is deterministic and favors stopword-heavy language") {
    import spark.implicits._
    val df = Seq("the cat and the dog in the house",
      "el gato y la casa de un perro que en").toDF("t")
      .select(TF.langId(col("t")))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "es"))
  }

  test("tupleText formats like the reference sink") {
    import spark.implicits._
    val df = Seq(("n1", 0.5)).toDF("id", "score")
    val line = RankOutput.tupleText(df).head.getString(0)
    assert(line == "('n1', 0.5)")
  }

  test("topK returns k best with id tiebreak") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("b", 2.0), ("c", 2.0), ("d", 0.5))
      .toDF("id", "score")
    val got = RankOutput.topK(df, 2).collect().map(_.getString(0)).toSeq
    assert(got == Seq("b", "c"))
  }

  test("hash sample is deterministic") {
    import spark.implicits._
    val ids = (1 to 1000).map(i => s"node$i").toDF("id")
    val a = ids.filter(GraftHash.graftHash(spark, col("id")) % 100 < 5)
      .collect().map(_.getString(0)).toSet
    val b = ids.filter(GraftHash.graftHash(spark, col("id")) % 100 < 5)
      .collect().map(_.getString(0)).toSet
    assert(a == b && a.nonEmpty && a.size < 200)
  }

  test("dotGraph emits the reference's three color-coded views") {
    import spark.implicits._
    val hubs = Seq(("h", 0.9), ("hb", 0.8), ("z", 0.001)).toDF("id", "score")
    val auths = Seq(("a", 0.7), ("hb", 0.6)).toDF("id", "score")
    val edges = Seq(("h", "a", 1.0), ("z", "q", 1.0))
      .toDF("src", "dst", "weight")
    def colorOf(lines: Array[String], id: String): String =
      lines.find(_.startsWith(s"""  "$id" [""")).get
        .split("color=")(1).split(",")(0)
    // k=2 → top hubs {h, hb}, top auths {a, hb}; fraction-1 samples make
    // the seeded inputs deterministic for assertion.
    val both = RankOutput.dotGraph(edges, hubs, auths, "both", k = 2,
      nodeFraction = 1.0, edgeFraction = 1.0).collect().map(_.getString(0))
    assert(both.head == "digraph G {" && both.last == "}")
    assert(colorOf(both, "hb") == "purple") // hub ∧ auth
    assert(colorOf(both, "h") == "red")
    assert(colorOf(both, "a") == "blue")
    assert(colorOf(both, "z") == "grey") // sampled node below top-k
    assert(colorOf(both, "q") == "grey") // edge endpoint only
    assert(both.contains("  \"h\" -> \"a\";"))
    val hub = RankOutput.dotGraph(edges, hubs, auths, "hub", k = 2,
      nodeFraction = 1.0, edgeFraction = 1.0).collect().map(_.getString(0))
    assert(colorOf(hub, "h") == "red" && colorOf(hub, "a") == "grey")
    // node width follows the reference's node_size: score*10000 / 500
    assert(hub.contains("  \"h\" [color=red, width=9000.0000];"))
    assert(hub.contains("  \"q\" [color=grey, width=500.0000];"))
    val auth = RankOutput.dotGraph(edges, hubs, auths, "auth", k = 2,
      nodeFraction = 1.0, edgeFraction = 1.0).collect().map(_.getString(0))
    assert(colorOf(auth, "a") == "blue" && colorOf(auth, "h") == "grey")
  }

  test("dotGraph edge section carries only the seeded edge sample") {
    import spark.implicits._
    val hubs = Seq(("h", 0.9)).toDF("id", "score")
    val auths = Seq(("a", 0.7)).toDF("id", "score")
    val edges = Seq(("z", "q", 1.0)).toDF("src", "dst", "weight")
    // edgeFraction 0 → no edges survive the sample: no edge lines, and
    // endpoints of unsampled edges never enter the node universe.
    val lines = RankOutput.dotGraph(edges, hubs, auths, "both", k = 1,
      nodeFraction = 1.0, edgeFraction = 0.0).collect().map(_.getString(0))
    assert(!lines.exists(_.contains("->")))
    assert(lines.exists(_.startsWith("  \"h\" [")))
    assert(!lines.exists(_.contains("\"q\"")))
  }

  test("seeded sample is reproducible for the same seed") {
    import spark.implicits._
    val df = (1 to 500).map(_.toString).toDF("id")
    val a = RankOutput.sample(df, 0.1).collect().map(_.getString(0)).toSeq
    val b = RankOutput.sample(df, 0.1).collect().map(_.getString(0)).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("Topics.list returns distinct whole-string labels") {
    val g = graph(Seq(("a", "b", 1.0)),
      Map("a" -> "gene:protein", "b" -> "gene"))
    val got = Topics.list(g.nodes).collect().map(_.getString(0)).toSet
    assert(got == Set("gene:protein", "gene")) // no splitting (note F)
  }

  test("queryDependent subgraph preserves multi-edge multiplicity") {
    import spark.implicits._
    val nodes = Seq(("a", "t"), ("b", "x")).toDF("id", "label")
    val edges = Seq(("a", "b", 1.0), ("a", "b", 1.0)).toDF("src", "dst", "weight")
    val sub = Subgraph.queryDependent(Graph(nodes, edges), "t")
    assert(sub.edges.count() == 2) // leftsemi keeps both copies
  }

  test("BpeVocab: canonical merge application, hand-checked") {
    import graft.functions.BpeVocab
    val v = BpeVocab.Demo
    assert(v.tokenize("the") == Seq("the"))
    // chained: (i,n) rank 3 fires before (a,n) rank 4; then an→and, in→ing
    assert(v.tokenize("anding") == Seq("and", "ing"))
    assert(v.tokenize("thermal") == Seq("the", "r", "m", "al"))
    assert(v.tokenize("x") == Seq("x"))
    // countTokens lowercases and pre-tokenizes like subtokenCount
    assert(v.countTokens("The thermal") == 5L)
    assert(v.countTokens("") == 0L)
    assert(v.countTokens(null) == 0L)
    // digits and marks fall through as single symbols (no digit merges)
    assert(v.countTokens("2026!") == 5L)
  }

  test("BpeVocab: leftmost-first fold on identical-symbol runs") {
    import graft.functions.BpeVocab
    val v = BpeVocab.fromMerges(Seq("a" -> "a"))
    assert(v.tokenize("aaaa") == Seq("aa", "aa"))
    assert(v.tokenize("aaaaa") == Seq("aa", "aa", "a"))
  }

  test("BpeVocab rejects ill-formed merge lists") {
    import graft.functions.BpeVocab
    // 'ab' is never produced by an earlier merge -> single-sweep
    // equivalence (and so the oracle) would not hold
    intercept[IllegalArgumentException] {
      BpeVocab.fromMerges(Seq("ab" -> "c"))
    }
  }

  test("BpeVocab.fromMergesFile parses the standard merges.txt layout") {
    import graft.functions.BpeVocab
    val f = java.nio.file.Files.createTempFile("merges", ".txt")
    java.nio.file.Files.writeString(f,
      "#version: demo\nt h\nth e\n\ni n\n")
    val v = BpeVocab.fromMergesFile(f.toString)
    assert(v.merges == IndexedSeq("t" -> "h", "th" -> "e", "i" -> "n"))
    assert(v.tokenize("thein") == Seq("the", "in"))
  }

  test("BpeCount expression matches driver-side counts through codegen") {
    import spark.implicits._
    import graft.functions.{BpeTokenizer, BpeVocab}
    val texts = Seq("The thermal anding", "2026!", "", "mixed CASE the")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val bpe = new BpeTokenizer(BpeVocab.Demo)
    val got = df.select(col("doc_id"), bpe.countTokens(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == BpeVocab.Demo.countTokens(t),
        s"mismatch on '$t'")
    }
  }

  test("packDocs accepts the BPE tokenizer through the Tokenizer seam") {
    import spark.implicits._
    import graft.functions.{BpeTokenizer, BpeVocab}
    val docs = Seq((1L, "the thermal and the"), (2L, "anding another"),
      (3L, "short")).toDF("doc_id", "text")
    val got = graft.pipelines.Packing.packDocs(spark, docs, "doc_id", "text",
      capacity = 8L, buckets = 2,
      tokenizer = new BpeTokenizer(BpeVocab.Demo)).collect()
    assert(got.length == 3) // every doc assigned under BPE counts
  }
}
