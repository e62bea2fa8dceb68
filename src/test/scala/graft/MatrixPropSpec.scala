package graft

import graft.operators.{MatrixGen, MatrixOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based matrix algebra (SURVEY.md §5.2 item 2): the invariants
  * hold for ARBITRARY shapes and block sizes, not just the hand-picked
  * fixtures — in particular rectangular shapes with rows_A < cols_A, the
  * exact case the reference's reducer-loop bound gets wrong
  * (`/root/reference/reducer/main.py:30`).
  *
  * Raw ScalaCheck driven from ScalaTest (the scalatest–scalacheck bridge
  * artifact is not in the offline dependency set). Sizes stay small (each
  * case runs Spark jobs); values come from the deterministic MatrixGen
  * family, so failures reproduce exactly.
  */
class MatrixPropSpec extends SparkSpec {

  private def toSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private val dims = Gen.choose(1L, 9L)

  private def check(prop: Prop, cases: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(res.passed, res.status.toString)
  }

  test("matmul == blockMatmul for all shapes and block sizes (incl. rows_A < cols_A)") {
    check(Prop.forAll(dims, dims, dims, Gen.choose(1, 6)) {
      (m: Long, n: Long, p: Long, bs: Int) =>
        val a = MatrixGen.matA(spark, m, n)
        val b = MatrixGen.matB(spark, n, p)
        toSet(MatrixOps.matmul(a, b)) == toSet(MatrixOps.blockMatmul(a, b, bs))
    }, cases = 8)
  }

  test("every (bs, P, Q, R) ≡ matmul") {
    // The layout is a pure execution choice. Rows are compared as sorted
    // sequences, not sets, so a tile pair meeting at two keys would show
    // as a duplicate row or a doubled sum. Splits reach past the tile grid
    // on every axis (grid ≤ 9 here; P, Q up to 9, R up to 4): the surplus
    // keys must match nothing. Operands carry duplicate cells, which add.
    // A 1-byte budget holds one tile in the densify buffer, so every new
    // tile flushes it and a tile arrives at its key in several partials.
    def rows(df: DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def withDuplicates(m: DataFrame): DataFrame =
      m.union(m.filter((col("i") + col("j")) % 3 === 0L)
        .select(col("i"), col("j"), (col("v") * 2L + 1L).as("v")))
    val split = Gen.choose(1, 9)
    val budget = Gen.oneOf(0L, 1L, 600L)
    check(Prop.forAllNoShrink(dims, dims, dims, Gen.choose(1, 6), split, split,
                              Gen.choose(1, 4), budget) {
      (m: Long, n: Long, p: Long, bs: Int, sp: Int, sq: Int, sr: Int, b: Long) =>
        val a = withDuplicates(MatrixGen.matA(spark, m, n))
        val bm = withDuplicates(MatrixGen.matB(spark, n, p))
        val want = rows(MatrixOps.matmul(a, bm).filter(col("v") =!= 0L))
        val got = MatrixOps.blockMatmul(a, bm, bs, sp, sq, sr, b)
        blockShapes(got).map(s => (s.bs, s.p, s.q, s.r)) == Seq((bs, sp, sq, sr)) &&
          rows(got) == want
    }, cases = 8)
    // Fixed cases: a 2×3 output grid (bs 3 over 5×7 · 7×8) split 9×9 with
    // R = 3 over its 3 contraction tiles, and R = 4 past them.
    val a = withDuplicates(MatrixGen.matA(spark, 5, 7))
    val b = withDuplicates(MatrixGen.matB(spark, 7, 8))
    val want = rows(MatrixOps.matmul(a, b).filter(col("v") =!= 0L))
    assert(rows(MatrixOps.blockMatmul(a, b, 3, 9, 9, 3)) == want)
    assert(rows(MatrixOps.blockMatmul(a, b, 3, 2, 1, 4, 1L)) == want)
  }

  test("the one-range generator equals the crossJoin-of-ranges formulation row for row") {
    // MatrixGen.formula runs one range of rows·cols cell ids; the
    // formulation it replaced crossed a range of rows with a range of
    // cols. Shapes include empty, 1×n and n×1 ones; coefficients include
    // negative ones, whose remainders keep the dividend's sign.
    import org.apache.spark.sql.functions.col
    def rows(df: DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def crossed(m: Long, n: Long, fa: Long, fb: Long, fc: Long, mod: Long) =
      spark.range(m).select(col("id").as("i"))
        .crossJoin(spark.range(n).select(col("id").as("j")))
        .select(col("i"), col("j"), ((col("i") * fa + col("j") * fb + fc) % mod).as("v"))
    def same(m: Long, n: Long, fa: Long, fb: Long, fc: Long, mod: Long): Boolean = {
      val got = MatrixGen.formula(spark, m, n, fa, fb, fc, mod)
      got.columns.toSeq == Seq("i", "j", "v") &&
        rows(got) == rows(crossed(m, n, fa, fb, fc, mod))
    }
    Seq((1L, 37L), (37L, 1L), (1L, 1L), (0L, 5L)).foreach { case (m, n) =>
      assert(same(m, n, 7, -3, 5, 11), s"$m×$n")
    }
    val side = Gen.frequency(1 -> Gen.const(1L), 4 -> Gen.choose(2L, 40L))
    val coef = Gen.choose(-50L, 100L)
    check(Prop.forAllNoShrink(side, side, coef, coef, coef, Gen.choose(1L, 101L))(same),
      cases = 12)
  }

  test("multiplyPlanned adds duplicate cells on both routes") {
    // Two COO entries at one (i, j) stand for their sum. The row join
    // sums their products; the block route must add them as it
    // densifies, not keep one of them.
    import spark.implicits._
    val a = Seq((0L, 0L, 1L), (0L, 0L, 2L), (1L, 1L, 3L)).toDF("i", "j", "v")
    val b = Seq((0L, 0L, 5L), (1L, 1L, 7L)).toDF("i", "j", "v")
    val want = Set((0L, 0L, 15L), (1L, 1L, 21L))
    val (rowJoin, block) = bothRoutes(MatrixOps.multiplyPlanned(a, b))
    assert(rowJoin == want && block == want, s"row join $rowJoin, block $block")
    check(Prop.forAllNoShrink(dims, dims, dims) { (m: Long, n: Long, p: Long) =>
      val a = MatrixGen.matA(spark, m, n)
      val b = MatrixGen.matB(spark, n, p)
      val dupA = a.union(a.filter(col("j") % 2 === 0L))
      val dupB = b.union(b).union(b.filter(col("i") === 0L))
      val want = toSet(MatrixOps.matmul(dupA, dupB).filter(col("v") =!= 0L))
      val (r, k) = bothRoutes(MatrixOps.multiplyPlanned(dupA, dupB))
      r == want && k == want
    }, cases = 5)
  }

  /** `product`'s rows on the row-join route (broadcast on) and on the
    * block route (broadcast off), each checked to have taken its route.
    */
  private def bothRoutes(product: => DataFrame): (Set[(Long, Long, Long)], Set[(Long, Long, Long)]) = {
    val rowJoin = product
    assert(blockShapes(rowJoin).isEmpty, "expected the row join")
    val rowJoinRows = toSet(rowJoin)
    Engine.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val block = product
      assert(blockShapes(block).nonEmpty, "expected the block route")
      (rowJoinRows, toSet(block))
    }
  }

  test("transpose(A·B) == transpose(B)·transpose(A) for all shapes") {
    check(Prop.forAll(dims, dims, dims, Gen.choose(1, 6)) {
      (m: Long, n: Long, p: Long, bs: Int) =>
        val a = MatrixGen.matA(spark, m, n)
        val b = MatrixGen.matB(spark, n, p)
        // The product labels its second index k; transpose is defined on
        // the canonical (i, j, v) COO schema. Left side: the planner's
        // (broadcast row-join) route; right side: the block route.
        val ab = MatrixOps.multiplyPlanned(a, b).withColumnRenamed("k", "j")
        toSet(MatrixOps.transpose(ab)) == toSet(MatrixOps.blockMatmul(
          MatrixOps.transpose(b), MatrixOps.transpose(a), bs))
    }, cases = 5)
  }

  test("multiplyPlanned returns the same rows on both routes for signed values (incl. A·A)") {
    // Values in {-1, 0, 1} make products cancel to exact 0. The block
    // route drops zero cells on emission; the row-join route must drop
    // them too, or the rows returned depend on the broadcast threshold.
    def signed(rows: Long, cols: Long, fa: Long, fb: Long, fc: Long) =
      MatrixGen.formula(spark, rows, cols, fa, fb, fc, 3)
        .select(col("i"), col("j"), (col("v") - 1L).as("v"))
    def nonzero(df: DataFrame) = toSet(df).filter(_._3 != 0L)
    // The smallest cancelling case: C[0,0] = 1·1 + (−1)·1 = 0.
    import spark.implicits._
    val a0 = Seq((0L, 0L, 1L), (0L, 1L, -1L), (1L, 0L, 2L)).toDF("i", "j", "v")
    val b0 = Seq((0L, 0L, 1L), (1L, 0L, 1L)).toDF("i", "j", "v")
    val (r0, k0) = bothRoutes(MatrixOps.multiplyPlanned(a0, b0))
    assert(r0 == Set((1L, 0L, 2L)) && k0 == r0, s"row join $r0, block $k0")
    val coef = Gen.choose(1L, 5L)
    check(Prop.forAllNoShrink(dims, dims, dims, coef, coef, coef) {
      (m: Long, n: Long, p: Long, fa: Long, fb: Long, fc: Long) =>
        val a = signed(m, n, fa, fb, fc)
        val b = signed(n, p, fb, fc, fa)
        val sq = signed(n, n, fc, fa, fb)
        val (rAB, kAB) = bothRoutes(MatrixOps.multiplyPlanned(a, b))
        val (rAA, kAA) = bothRoutes(MatrixOps.multiplyPlanned(sq, sq))
        rAB == kAB && rAB == nonzero(MatrixOps.matmul(a, b)) &&
          rAA == kAA && rAA == nonzero(MatrixOps.matmul(sq, sq))
    }, cases = 8)
  }
}
