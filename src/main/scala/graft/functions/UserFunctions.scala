package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

/** The USER-function registration surface (SURVEY.md §2.2 UDF/UDAF/UDTF
  * table): a plain Scala UDF and a typed `Aggregator` UDAF registered by
  * name and called through the SQL entry point — the extension path an end
  * user reaches for before writing a native Catalyst expression.
  *
  * Engine guidance stands: builtins > native expressions > UDFs (a Scala
  * UDF is a codegen black box — serialized row boundary, no pushdown
  * through it, no null-propagation elision). These exist to prove the
  * REGISTRATION surface with deterministic integer semantics, so the gate
  * can hash them against the oracle's arithmetic replay.
  */
object UserFunctions {

  /** Account tier from an exact cents balance — total, deterministic,
    * integer-compared (no float thresholds).
    */
  val acctTier: Long => String = cents =>
    if (cents < 0L) "debt" else if (cents < 500000L) "mid" else "high"

  /** Exact sum of squares of LONG cents (dispersion without doubles).
    * Fixture headroom: |cents| < 10^6, so each square < 10^12 and any
    * corpus below ~9M rows stays inside LONG; overflow throws (Math
    * .addExact) rather than wrapping silently.
    */
  object SumSqLong extends Aggregator[Long, Long, Long] {
    override def zero: Long = 0L
    override def reduce(b: Long, a: Long): Long = Math.addExact(b, Math.multiplyExact(a, a))
    override def merge(b1: Long, b2: Long): Long = Math.addExact(b1, b2)
    override def finish(r: Long): Long = r
    override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Register both under their SQL names (idempotent — re-registration
    * replaces with the same definition).
    */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("acct_tier", acctTier)
    spark.udf.register("sumsq_long",
      org.apache.spark.sql.functions.udaf(SumSqLong))
  }
}
