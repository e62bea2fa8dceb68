package graft.plans

import graft.functions.{Hilbert2, NfcNormalize, PolyTokenHash, RollingMinHash, SortedIntersectCount, SrpBands, VecDot, WordNgramsGen, ZOrder2}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Engine extension entry point, registered via `spark.sql.extensions`
  * ([[graft.Engine.configure]]) — the public `SparkSessionExtensions` hook
  * for custom expressions and for the operators with planner
  * participation: [[MatMul]], whose physical formulation (row join vs
  * block GEMM) is selected by [[MatMulStrategy]] from cost statistics,
  * and [[DensePairs]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(session => new MatMulStrategy(session))
    ext.injectOptimizerRule(_ => MatMulReassociate)
    GraftExtensions.functions.foreach { case (name, cls, arity, build) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == arity,
            s"$name expects exactly $arity argument${if (arity == 1) "" else "s"}")
          build(children)
        }))
    }
  }
}

object GraftExtensions {
  /** Every SQL function the engine registers: (name, expression class,
    * arity, builder over exactly `arity` arguments).
    */
  private val functions: Seq[(String, Class[_], Int, Seq[Expression] => Expression)] = Seq(
    ("sorted_intersect_count", classOf[SortedIntersectCount], 2,
      c => SortedIntersectCount(c(0), c(1))),
    ("z_order2", classOf[ZOrder2], 2, c => ZOrder2(c(0), c(1))),
    ("hilbert2", classOf[Hilbert2], 2, c => Hilbert2(c(0), c(1))),
    ("nfc_normalize", classOf[NfcNormalize], 1, c => NfcNormalize(c(0))),
    ("vec_dot", classOf[VecDot], 2, c => VecDot(c(0), c(1))),
    ("rolling_min_hash", classOf[RollingMinHash], 2,
      c => RollingMinHash(c(0), intLiteral(c(1), "rolling_min_hash window"))),
    ("word_ngrams", classOf[WordNgramsGen], 2,
      c => WordNgramsGen(c(0), intLiteral(c(1), "word_ngrams width"))),
    ("poly_token_hash", classOf[PolyTokenHash], 2, c => PolyTokenHash(c(0), c(1))),
    ("srp_bands", classOf[SrpBands], 3, c => (c(1), c(2)) match {
      case (Literal(b: Int, IntegerType), Literal(r: Int, IntegerType)) =>
        SrpBands(c(0), b, r)
      case other => throw new IllegalArgumentException(
        s"srp_bands bands/rowsPerBand must be INT literals, got $other")
    }))

  private def intLiteral(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an INT literal, got $other")
  }
}
