package graft

import graft.operators.{MatrixGen, MatrixOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Matrix-operator semantics (SURVEY.md §5.2 items 1–2).
  *
  * The rectangular-shape cases are the named regression for the
  * reference's reducer-loop bug (`/root/reference/reducer/main.py:30`
  * iterates rows_A instead of the contraction dimension — wrong whenever
  * rows_A < cols_A). Our join/block formulations have no loop bound to
  * get wrong; these tests pin that.
  */
class MatrixSpec extends SparkSpec {

  /** Local dense oracle — the role NumPy's np.dot plays for the reference
    * (`/root/reference/test/vm_mtxmul.py:39-40`).
    */
  private def localMultiply(a: Map[(Long, Long), Long], b: Map[(Long, Long), Long],
                            m: Long, n: Long, p: Long): Map[(Long, Long), Long] =
    (for { i <- 0L until m; k <- 0L until p } yield {
      val v = (0L until n).map(j => a.getOrElse((i, j), 0L) * b.getOrElse((j, k), 0L)).sum
      (i, k) -> v
    }).toMap

  private def toMap(df: DataFrame): Map[(Long, Long), Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def matA(m: Long, n: Long) = MatrixGen.matA(spark, m, n)
  private def matB(m: Long, n: Long) = MatrixGen.matB(spark, m, n)

  test("matmul matches the local dense oracle (square)") {
    val (a, b) = (matA(12, 12), matB(12, 12))
    val expected = localMultiply(toMap(a), toMap(b), 12, 12, 12)
    assert(toMap(MatrixOps.matmul(a, b)) == expected)
  }

  test("rectangular matmul is correct when rows_A < cols_A (reference-bug regression)") {
    // 8×20 · 20×5: the reference's reducer would truncate the contraction
    // sum at j < 8 here; assert the full Σ over j < 20.
    val (m, n, p) = (8L, 20L, 5L)
    val (a, b) = (matA(m, n), matB(n, p))
    val expected = localMultiply(toMap(a), toMap(b), m, n, p)
    assert(toMap(MatrixOps.matmul(a, b)) == expected)
    assert(toMap(MatrixOps.blockMatmul(a, b, 7)) == expected)
  }

  test("blockMatmul equals matmul across block sizes (block-size invariance)") {
    val (a, b) = (matA(20, 14), matB(14, 9))
    val viaJoin = toMap(MatrixOps.matmul(a, b))
    for (bs <- Seq(1, 2, 3, 5, 7, 16, 64)) {
      assert(toMap(MatrixOps.blockMatmul(a, b, bs)) == viaJoin, s"bs=$bs")
    }
  }

  test("matmul(A, I) == A") {
    val a = matA(15, 15)
    val ident = spark.range(15).select(col("id").as("i"), col("id").as("j"), lit(1L).as("v"))
    assert(toMap(MatrixOps.matmul(a, ident)) == toMap(a))
  }

  test("transpose(A·B) == transpose(B)·transpose(A)") {
    val (a, b) = (matA(10, 12), matB(12, 7))
    // matmul emits result coordinates as (i, k); rename to the COO (i, j)
    // contract before feeding the result back into transpose.
    val ab = MatrixOps.matmul(a, b).withColumnRenamed("k", "j")
    val lhs = toMap(MatrixOps.transpose(ab))
    val rhs = toMap(MatrixOps.matmul(MatrixOps.transpose(b), MatrixOps.transpose(a))
      .withColumnRenamed("k", "j"))
    assert(lhs == rhs)
  }

  test("sparse path (zero-filtered join) equals dense path on the same product") {
    val (a, b) = (matA(16, 16), matB(16, 16))
    val dense = toMap(MatrixOps.blockMatmul(a, b, 4))
    val sparse = toMap(MatrixOps.multiplyPlanned(
      a.filter(col("v") =!= 0), b.filter(col("v") =!= 0)))
    // Sparse path omits cells whose every product term is zero; on these
    // fixtures no such cell exists, so the maps agree exactly.
    assert(sparse == dense)
  }

  test("elementwise add zero-fills missing cells via full outer join") {
    import spark.implicits._
    val a = Seq((0L, 0L, 5L), (1L, 1L, 3L)).toDF("i", "j", "v")
    val b = Seq((0L, 0L, 2L), (2L, 2L, 7L)).toDF("i", "j", "v")
    assert(toMap(MatrixOps.add(a, b)) ==
      Map((0L, 0L) -> 7L, (1L, 1L) -> 3L, (2L, 2L) -> 7L))
  }

  test("trace and sumsq agree with direct computation") {
    val a = matA(9, 9)
    val entries = toMap(a)
    val tr = MatrixOps.trace(a).collect()(0).getLong(0)
    assert(tr == (0L until 9).map(i => entries((i, i))).sum)
    val sq = MatrixOps.sumsq(a).collect()(0).getLong(0)
    assert(sq == entries.values.map(v => v * v).sum)
  }

  test("scale multiplies every entry") {
    val a = matA(6, 6)
    val scaled = toMap(MatrixOps.scale(a, 4L))
    assert(scaled == toMap(a).view.mapValues(_ * 4L).toMap)
  }

  test("matvec and power iteration match the local oracle") {
    val a = matA(10, 10)
    val entries = toMap(a)
    val x0 = spark.range(10).select(col("id").as("j"), lit(1L).as("v"))
    def localStep(x: Map[Long, Long]): Map[Long, Long] =
      (0L until 10).map { i =>
        i -> (0L until 10).map(j => entries.getOrElse((i, j), 0L) * x.getOrElse(j, 0L)).sum
      }.toMap
    val expected = Iterator.iterate((0L until 10).map(_ -> 1L).toMap)(localStep)
      .drop(3).next()
    val got = MatrixOps.powerIteration(a, x0, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("pageRank matches an independent integer reference (incl. dangling)") {
    import spark.implicits._
    // 0→1, 0→2, 1→0, 2 dangling, 3 isolated (no in/out edges).
    val adj = Seq((0L, 1L, 1L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 2L, 0L))
      .toDF("i", "j", "v")
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 0L))
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def step(r: Map[Long, Long]): Map[Long, Long] =
      (0L until 4L).map { n =>
        val in = edges.collect { case (s, d) if d == n => r(s) / deg(s) }.sum
        n -> (150000L + 85L * in / 100L)
      }.toMap
    val expected = Iterator.iterate((0L until 4L).map(_ -> 1000000L).toMap)(step)
      .drop(3).next()
    val got = MatrixOps.pageRank(adj, 4, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("dense JSON write → read roundtrips the reference interchange format") {
    val a = matA(7, 5)
    Scratch.using("mio") { dir =>
      val path = dir.resolve("m.json").toString
      graft.sources.MatrixIO.writeDenseJson(a, 7, 5, path)
      val back = graft.sources.MatrixIO.readDenseJson(spark, path)
      assert(toMap(back) == toMap(a))
    }
    // and the fixture files parse to the formula matrices
    val fx = graft.sources.MatrixIO.readDenseJson(
      spark, "fixtures/matrix_A_50x50.json")
    assert(toMap(fx) == toMap(matA(50, 50)))
  }
}
