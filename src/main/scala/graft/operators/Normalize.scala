package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Score-vector normalization (reference `src/base_hits.py:16-19` for L2,
  * `src/base_salsa.py:13-15` for L1).
  *
  * The reference collects the norm scalar to the driver every iteration
  * (an extra Spark action per vector per iteration). The kernel loop
  * ([[graft.Fixpoint]]) instead tallies [[L2]] or [[L1]] in the job
  * that checkpoints the vector, and divides the checkpoint by the value.
  * [[l2]] and [[l1]] normalize a frame outside the loop: the norm stays
  * in the plan as a broadcast 1-row cross join, so no value goes through
  * the driver. Under adaptive execution that join is two jobs of the
  * consumer's query (the norm's aggregate exchange and the broadcast),
  * which is why the loop does not use it. Same numeric semantics either
  * way: sum, then divide.
  *
  * `score*score` (not `pow(score,2)`) keeps bit-parity with the oracle:
  * `pow` is not guaranteed identical to multiplication for all inputs.
  */
object Normalize {

  /** The L2 norm of a vector's scores: √(Σ score²). */
  val L2: Column = sqrt(sum(col("score") * col("score")))

  /** The L1 mass of a vector's scores: Σ score (SALSA family). */
  val L1: Column = sum(col("score"))

  /** Divide by the L2 norm: score / √(Σ score²). */
  def l2(scores: DataFrame): DataFrame = by(scores, L2)

  /** Divide by the L1 mass: score / Σ score. */
  def l1(scores: DataFrame): DataFrame = by(scores, L1)

  private def by(scores: DataFrame, norm: Column): DataFrame =
    scores.crossJoin(broadcast(scores.agg(norm.as("__norm"))))
      .select(col("id"), (col("score") / col("__norm")).as("score"))
}
