package graft.pipelines

import graft.functions.{GraftHash, TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based corpus classification — the count-based stand-in for the
  * fastText-style classifiers LLM pipelines use for language/domain/
  * quality filtering (CCNet, LLaMA data prep). Multinomial Naive Bayes
  * with add-one smoothing, trained on a deterministic hash-gated split
  * of the corpus itself (the labels already on the table), scored over
  * the held-out docs.
  *
  * Everything is exact-integer once per-token log-likelihoods are
  * rounded to MICRO-NATS (the [[TextMetrics]] NLL idiom): the per-class
  * score is an exact int64 sum `prior_micro + Σ n_occ·term_micro`, so
  * the argmax — and therefore the prediction — is bit-identical on any
  * engine; ties break to the lexicographically first class on both.
  *
  * Scale shape: token counting is two hash aggregations over the
  * exploded training split (map-side partial agg, 8-byte-ish keys);
  * the scorer is one equi-join of test (doc, term) rows against the
  * per-class count table hash-partitioned ON TERM (the class axis —
  * a handful of rows — is a broadcast cross), one (doc, class) hash
  * agg, one per-doc top-1 window. Vocabulary size and priors are
  * bounded scalars (one aggregate each). Nothing is pairwise and the
  * model table is O(vocab · classes), never O(corpus).
  */
object Classify {

  /** Multinomial NB over whitespace tokens, trained on the hash-gated
    * `trainPct`% of `docs` with `labelCol` as the class, scored over
    * the rest. Output, one row per held-out doc WITH ≥1 token:
    * `(doc_id, <labelCol> (true), pred_<labelCol>, score)` — score is
    * the winning class's joint log-likelihood in nats, micro-rounded.
    * Token-free docs have no evidence and are dropped identically on
    * both engines (explode produces no rows). */
  def naiveBayes(spark: SparkSession, docs: DataFrame,
      labelCol: String = "lang", trainPct: Int = 50): DataFrame = {
    require(trainPct > 0 && trainPct < 100,
      s"trainPct must split both ways, got $trainPct")
    import org.apache.spark.sql.expressions.Window
    val gate = GraftHash.graftHash(spark,
      concat(col("doc_id").cast("string"), lit("|nbtrain"))) % 100 < trainPct
    val train = docs.filter(gate)
    val test = docs.filter(!gate)

    val trainToks = train
      .select(col(labelCol).as("cls"), explode(TF.tokens(col("text"))).as("term"))
    // ONE tokenization pass over the training corpus: the (cls, term)
    // model table is eagerly materialized (O(vocab·classes), never
    // O(corpus)), and class totals, vocabulary size, and the scorer
    // all derive from it instead of re-scanning train (ADVICE r15:
    // the unshared plans cost four corpus passes per call)
    val classCnt = trainToks.groupBy(col("cls"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.Checkpoints.materialize(_))
    val classTot = classCnt.groupBy(col("cls"))
      .agg(sum(col("cnt")).as("tok_c"))
    val vocab = classCnt.select(col("term")).distinct().count()
    // per-class doc counts: one label-column-only scan, re-used for
    // BOTH the training total and the priors (same round/log
    // expression as before, so the micro-nat values are bit-identical)
    val clsDocs = train.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.Checkpoints.materialize(_))
    val nTrain = clsDocs.agg(coalesce(sum(col("n")), lit(0L)))
      .head().getLong(0)
    val priors = clsDocs
      .select(col("cls"),
        round(log(col("n").cast("double") / lit(nTrain.toDouble)) *
          lit(1000000.0)).cast("long").as("prior_micro"))

    val testToks = test
      .select(col("doc_id"), col(labelCol).as("true_label"),
        explode(TF.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("true_label"), col("term"))
      .agg(count(lit(1)).as("n_occ"))
    // cross with the (tiny) class axis, then ONE term equi-join
    val scored = testToks
      .crossJoin(broadcast(classTot))
      .join(classCnt, Seq("cls", "term"), "left")
      .select(col("doc_id"), col("true_label"), col("cls"), col("n_occ"),
        round(log((coalesce(col("cnt"), lit(0L)) + lit(1L)).cast("double") /
          (col("tok_c") + lit(vocab)).cast("double")) * lit(1000000.0))
          .cast("long").as("term_micro"))
      .groupBy(col("doc_id"), col("true_label"), col("cls"))
      .agg(sum(col("n_occ") * col("term_micro")).as("like_micro"))
      .join(broadcast(priors), Seq("cls"))
      .select(col("doc_id"), col("true_label"), col("cls"),
        (col("like_micro") + col("prior_micro")).as("score_micro"))
    val top = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("cls"))
    scored
      .select(col("doc_id"), col("true_label"), col("cls"), col("score_micro"),
        row_number().over(top).as("rn"))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("true_label").as(labelCol),
        col("cls").as(s"pred_$labelCol"),
        round(col("score_micro").cast("double") / lit(1000000.0), 6)
          .as("score"))
      .orderBy(col("doc_id"))
  }
}
