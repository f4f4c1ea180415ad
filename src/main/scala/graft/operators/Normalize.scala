package graft.operators

import graft.Checkpoints.Tallied
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointShim
import org.apache.spark.sql.types.DoubleType

/** Score-vector normalization (reference `src/base_hits.py:16-19` for L2,
  * `src/base_salsa.py:13-15` for L1).
  *
  * The reference collects the norm scalar to the driver every iteration
  * (an extra Spark action per vector per iteration). graft has one
  * mechanism instead, in the kernel loop ([[graft.Fixpoint]]) and out of
  * it ([[Salsa.runSimplified]]): the job that checkpoints a vector
  * tallies [[L2]] or [[L1]] over it ([[graft.Checkpoints.materialize]]),
  * and [[divide]] divides the checkpoint by the value, so the norm costs
  * no job of its own. Same numeric semantics as the reference: sum, then
  * divide.
  *
  * `score*score` (not `pow(score,2)`) keeps bit-parity with the oracle:
  * `pow` is not guaranteed identical to multiplication for all inputs.
  */
object Normalize {

  /** The L2 norm of a vector's scores: √(Σ score²). */
  val L2: Column = sqrt(sum(col("score") * col("score")))

  /** The L1 mass of a vector's scores: Σ score (SALSA family). */
  val L1: Column = sum(col("score"))

  /** The normalized view of an `(id, score)` checkpoint tallied with its
    * norm: score / norm, a projection that keeps the checkpoint's hash
    * layout. The norm enters the plan as a run-time constant
    * ([[CheckpointShim.scalar]]), not a `lit`, whose value would be
    * compiled into the generated code: a new class per vector per
    * graph. */
  def divide(t: Tallied): DataFrame =
    t.df.select(col("id"), (col("score") /
      CheckpointShim.scalar(t.tally.get(0), DoubleType)).as("score"))
}
