package graft.plans

import graft.functions.{Hilbert2, NfcNormalize, PolyTokenHash, RollingMinHash, SortedIntersectCount, SrpBands, VecDot, WordNgramsGen, ZOrder2}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Engine extension entry point, registered via `spark.sql.extensions`
  * ([[graft.Engine.configure]]) — the public `SparkSessionExtensions` hook
  * for custom expressions and for the one operator with planner
  * participation: [[MatMul]], whose physical formulation (row join vs
  * block GEMM) is selected by [[MatMulStrategy]] from cost statistics.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(session => new MatMulStrategy(session))
    ext.injectOptimizerRule(_ => MatMulReassociate)
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
                         "sorted_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "sorted_intersect_count expects exactly 2 arguments")
        SortedIntersectCount(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("z_order2"),
      new ExpressionInfo(classOf[ZOrder2].getName, "z_order2"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "z_order2 expects exactly 2 arguments")
        ZOrder2(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("hilbert2"),
      new ExpressionInfo(classOf[Hilbert2].getName, "hilbert2"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "hilbert2 expects exactly 2 arguments")
        Hilbert2(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "nfc_normalize expects exactly 1 argument")
        NfcNormalize(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vec_dot expects exactly 2 arguments")
        VecDot(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rolling_min_hash"),
      new ExpressionInfo(classOf[RollingMinHash].getName, "rolling_min_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "rolling_min_hash expects exactly 2 arguments")
        val w = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"rolling_min_hash window must be an INT literal, got $other")
        }
        RollingMinHash(children(0), w)
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgramsGen].getName, "word_ngrams"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "word_ngrams expects exactly 2 arguments")
        val n = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"word_ngrams width must be an INT literal, got $other")
        }
        WordNgramsGen(children(0), n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("poly_token_hash"),
      new ExpressionInfo(classOf[PolyTokenHash].getName, "poly_token_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "poly_token_hash expects exactly 2 arguments")
        PolyTokenHash(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("srp_bands"),
      new ExpressionInfo(classOf[SrpBands].getName, "srp_bands"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "srp_bands expects exactly 3 arguments")
        (children(1), children(2)) match {
          case (Literal(b: Int, IntegerType), Literal(r: Int, IntegerType)) =>
            SrpBands(children(0), b, r)
          case other => throw new IllegalArgumentException(
            s"srp_bands bands/rowsPerBand must be INT literals, got $other")
        }
      }))
  }
}
