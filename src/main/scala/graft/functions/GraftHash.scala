package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic polynomial rolling hash over a string's code points:
  * `h = fold(0)((acc, cp) => (acc*31 + cp) mod 1e9+7)`.
  *
  * A native Catalyst expression with whole-stage codegen — no UDF
  * serialization boundary, no row-at-a-time closure overhead. Used for
  * document fingerprinting, shingle hashing (MinHash/SimHash), and
  * hash-based deterministic sampling. The same fold is expressible in
  * ANSI-ish SQL (`list_reduce` over code points), which makes every
  * operator built on it oracle-checkable cross-engine — unlike Spark's
  * builtin murmur3 `hash()`.
  */
case class GraftHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hash requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash"

  protected override def nullSafeEval(input: Any): Any =
    GraftHash.hashUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.hashUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftHash =
    copy(child = newChild)
}

/** Second, independent polynomial fold (`acc*131 + cp mod 1e9+9`).
  * [[GraftHash]] alone carries ~30 bits — plenty for fingerprint
  * equality and sampling gates, but a wide-hash consumer (the HLL
  * sketch's bucket+rank split) needs more: salting the input of the
  * SAME fold only yields an affine image of the first hash, so true
  * widening requires a different (multiplier, modulus) pair. The
  * combined `graft_hash * (1e9+9) + graft_hash2` is a deterministic
  * ~60-bit value, reproducible in the oracle's SQL. */
case class GraftHash2(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hash2 requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash2"

  protected override def nullSafeEval(input: Any): Any =
    GraftHash.hash2Utf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.hash2Utf8($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftHash2 =
    copy(child = newChild)
}

/** Fused wide hash: BOTH polynomial folds in ONE pass over the string,
  * combined as `h1·(1e9+9) + h2` (see [[GraftHash.widePair]] scaladoc).
  * Halves the string traffic of the dedup/decontamination family vs
  * evaluating [[GraftHash]] and [[GraftHash2]] separately, and the
  * components are recoverable exactly (`wide div 1e9+9`, `wide mod
  * 1e9+9`) because the pairing is a bijection. */
case class GraftWideHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_wide_hash requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_wide_hash"

  protected override def nullSafeEval(input: Any): Any =
    GraftHash.wideUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.wideUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftWideHash =
    copy(child = newChild)
}

object GraftHash {
  final val Mod = 1000000007L
  final val Mod2 = 1000000009L

  /** Hot path shared by interpreted eval and generated code. */
  def hashUtf8(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  /** Hot path of [[GraftWideHash]]: both folds in one code-point pass. */
  def wideUtf8(s: UTF8String): Long = {
    val str = s.toString
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h1 = (h1 * 31 + cp) % Mod
      h2 = (h2 * 131 + cp) % Mod2
      i += Character.charCount(cp)
    }
    h1 * Mod2 + h2
  }

  /** Hot path of [[GraftHash2]]. */
  def hash2Utf8(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 131 + cp) % Mod2
      i += Character.charCount(cp)
    }
    h
  }

  /** Register `graft_hash`/`graft_hash2`/`graft_wide_hash` for SQL and
    * `call_function`. */
  def register(spark: SparkSession): Unit = {
    registerOnce(spark, "graft_hash")(exprs => GraftHash(exprs.head))
    registerOnce(spark, "graft_hash2")(exprs => GraftHash2(exprs.head))
    registerOnce(spark, "graft_wide_hash")(exprs => GraftWideHash(exprs.head))
  }

  /** Registers `name` only where the session lacks it: every column-API
    * call lands here, and a re-registration replaces the function (and
    * logs a WARN) for nothing. */
  private[functions] def registerOnce(spark: SparkSession, name: String)(
      build: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, build, "built-in")
  }

  /** Column-API entry point (registers lazily on the active session). */
  def graftHash(spark: SparkSession, c: Column): Column = {
    register(spark)
    call_function("graft_hash", c)
  }

  /** The ~60-bit combined hash `graft_hash(c)·(1e9+9) + graft_hash2(c)`
    * as ONE int64 — the pairing is a bijection (the low component is
    * `mod` 1e9+9, the high one `div`), so equality of the wide value is
    * equality of the PAIR, with collision probability ~2⁻⁶⁰ instead of
    * the single fold's ~2⁻³⁰. This is the shingle-identity key of the
    * dedup/decontamination family: at ≥10⁹ documents a 30-bit shingle
    * space silently merges distinct shingles, which is exactly the
    * failure LSH banding exists to avoid.
    *
    * Unlike [[graft.pipelines.Sketches.wideHash]] there is no
    * salted-repeat extension: KMV needs estimator-grade UNIFORMITY on
    * the full product range even for 1-2-character values, whereas
    * shingle keys (≥ n words) are long enough that both folds wrap
    * their moduli many times, and only collision resistance is needed. */
  def widePair(spark: SparkSession, c: Column): Column = {
    register(spark)
    call_function("graft_wide_hash", c) // fused: one pass, both folds
  }

  /** The DuckDB-SQL equivalent of this expression, for oracle queries.
    * `list_prepend(0, ...)` seeds the fold's accumulator. */
  def duckdbSql(col: String): String =
    s"(CASE WHEN $col IS NULL THEN NULL WHEN $col = '' THEN 0 ELSE " +
      s"list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(regexp_split_to_array($col, ''), c -> unicode(c)::BIGINT)), " +
      s"(a, x) -> (a*31 + x) % 1000000007) END)"

  /** DuckDB twin of [[widePair]] — `h1·(1e9+9) + h2` as one BIGINT.
    * Both folds stay < 2³⁰·2³⁰ ≈ 10¹⁸ < 2⁶³, so BIGINT arithmetic is
    * exact on both engines. */
  def duckdbSqlWide(col: String): String =
    s"(${duckdbSql(col)} * ${Mod2} + ${duckdbSql2(col)})"

  /** DuckDB twin of [[GraftHash2]]. */
  def duckdbSql2(col: String): String =
    s"(CASE WHEN $col IS NULL THEN NULL WHEN $col = '' THEN 0 ELSE " +
      s"list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(regexp_split_to_array($col, ''), c -> unicode(c)::BIGINT)), " +
      s"(a, x) -> (a*131 + x) % 1000000009) END)"
}
