package graft.plans

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

/** Logical exact near-dup pair join over per-document code lists `(id
  * LONG, codes ARRAY<LONG>)`, each list distinct and drawn from the
  * ascending code index `codes`: a document is the bitset of its codes'
  * index positions, ⌈|codes|/64⌉ 64-bit words wide. Every pair whose
  * intersection passes the test comes out once as `(ida, idb, c, den)`:
  * c = |x∩y|, den the ratio's denominator. `symmetric` tests Jaccard
  * c/(na+nb−c) ≥ `threshold` (den = |x∪y|, ids ordered); otherwise
  * containment c·10⁶ ≥ |x|·`t`, oriented smaller set into larger with an
  * id tie-break (den = |x|). Both require c > 0.
  *
  * [[MatMulStrategy]] plans it as [[DensePairsExec]], the grid from
  * [[DensePairsExec.grid]] unless `pinned` fixes it. `output` is a
  * constructor parameter so its attribute ids survive `copy()`.
  */
case class DensePairs(child: LogicalPlan, codes: Array[Long], t: Long, threshold: Double,
                      symmetric: Boolean, pinned: Option[Int] = None,
                      output: Seq[Attribute] = Seq("ida", "idb", "c", "den")
                        .map(AttributeReference(_, LongType)())) extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): DensePairs =
    copy(child = newChild)
}

/** [[DensePairs]] as one physical operator, a blocked Boolean GEMM with
  * an AND/popcount kernel:
  *   1. Each row becomes its bitset, hashes into one of `grid` blocks and
  *      ships to the cells of the upper-triangular grid×grid cell grid its
  *      block meets: row i of the grid plus column i above the diagonal.
  *      That is an output-grid split like [[BlockShape]]'s P×Q keys, with
  *      no contraction axis and one operand on both sides.
  *   2. One RDD shuffle with a partition per cell. A `HashPartitioner`
  *      puts Int key c in partition c, and AQE does not coalesce an RDD
  *      shuffle, so compute-heavy cells (a few MB of bitsets, N²-sized
  *      work) cannot be folded into one task.
  *   3. Each cell compares its two blocks all-pairs. Candidate generation
  *      and verification are the same exact pass, so there is no candidate
  *      blow-up and no second join.
  * A cell holds 2·(N/grid) rows, so per-task memory is bounded by the
  * grid's memory floor and a bigger corpus becomes more cells. The grid
  * is `pinned` or sized from `rows`, the row count AQE measured; a node
  * planned with neither (adaptive execution off, or an input that needed
  * no exchange) counts its input's rows when it runs, one job, so the
  * memory floor holds on every route.
  */
case class DensePairsExec(child: SparkPlan, output: Seq[Attribute], codes: Array[Long],
                          t: Long, threshold: Double, symmetric: Boolean,
                          pinned: Option[Int], rows: Option[Long]) extends UnaryExecNode {
  require(pinned.forall(_ >= 1), s"dense pair grid must be at least 1, got $pinned")

  /** The grid the plan knows: pinned, or sized from the measured rows. */
  def grid: Option[Int] = pinned.orElse(rows.map(sized))

  private def sized(n: Long): Int =
    DensePairsExec.grid(n, ((codes.length + 63) / 64).max(1), sparkContext.defaultParallelism)

  /** The planned grid's cell count, 0 while the grid is unknown. */
  def cells: Int = grid.fold(0)(g => g * (g + 1) / 2)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "pairs out"),
    "cells" -> SQLMetrics.createMetric(sparkContext, "cells"),
    "kernelTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "kernel time"))

  override def outputPartitioning: Partitioning = UnknownPartitioning(cells)

  override def simpleString(maxFields: Int): String =
    s"$nodeName grid=${grid.getOrElse("?")} cells=$cells codes=${codes.length} rows=${rows.getOrElse("?")}"

  protected override def doExecute(): RDD[InternalRow] = {
    val (codes, t, threshold, symmetric) = (this.codes, this.t, this.threshold, this.symmetric)
    val in = child.execute()
    val b = grid.getOrElse(sized(in.count()))
    val (cellCount, kernelTime, pairsOut) =
      (longMetric("cells"), longMetric("kernelTime"), longMetric("numOutputRows"))
    in.mapPartitions(_.flatMap(DensePairsExec.ship(_, codes, b)))
      .partitionBy(new HashPartitioner(b * (b + 1) / 2))
      .mapPartitionsWithIndex { (part, it) =>
        cellCount += 1
        DensePairsExec.pairs(part, it, b, t, threshold, symmetric, kernelTime, pairsOut)
      }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DensePairsExec =
    copy(child = newChild)
}

object DensePairsExec {

  /** A document as (id, bitset words, set size). */
  private type Bits = (Long, Array[Long], Int)

  /** Upper-triangular cell (i, j), i ≤ j, of a b-block grid, numbered
    * row-major 0..b(b+1)/2−1.
    */
  private def cell(b: Int, i: Int, j: Int): Int = i * b - i * (i - 1) / 2 + (j - i)

  /** Code-list row `r` as its bitset over `codes`, keyed by each cell its
    * block meets: as the left side (0) of its grid row, as the right side
    * (1) of its grid column.
    */
  private def ship(r: InternalRow, codes: Array[Long], b: Int): Iterator[(Int, (Byte, Bits))] = {
    val cs = r.getArray(1).toLongArray()
    val bits = new Array[Long](((codes.length + 63) / 64).max(1))
    cs.foreach { c => val i = java.util.Arrays.binarySearch(codes, c); bits(i >> 6) |= 1L << (i & 63) }
    val doc = (r.getLong(0), bits, cs.length)
    val blk = ((doc._1 * 0x9E3779B97F4A7C15L >>> 33) % b).toInt
    Iterator.range(blk, b).map(j => (cell(b, blk, j), (0: Byte, doc))) ++
      Iterator.range(0, blk).map(i => (cell(b, i, blk), (1: Byte, doc)))
  }

  /** Cell `part`'s passing pairs as `(ida, idb, c, den)` rows: its left
    * block against its right one, or against itself on the diagonal.
    */
  private def pairs(part: Int, it: Iterator[(Int, (Byte, Bits))], b: Int, t: Long,
                    threshold: Double, symmetric: Boolean,
                    kernelTime: SQLMetric, pairsOut: SQLMetric): Iterator[InternalRow] = {
    val left = scala.collection.mutable.ArrayBuffer.empty[Bits]
    val right = scala.collection.mutable.ArrayBuffer.empty[Bits]
    it.foreach { case (_, (side, doc)) => (if (side == 0) left else right) += doc }
    val diag = (0 until b).exists(i => cell(b, i, i) == part)
    def test(p: Bits, q: Bits): Option[(Long, Long, Long, Long)] = {
      var c = 0L
      var k = 0
      val wp = p._2; val wq = q._2
      while (k < wp.length) { c += java.lang.Long.bitCount(wp(k) & wq(k)); k += 1 }
      if (symmetric) {
        // verifyJaccard's exact test and orientation: c > 0, the same
        // IEEE double compare (both engines divide the same integers),
        // pairs id-ordered.
        if (c > 0 && c.toDouble / (p._3 + q._3 - c) >= threshold) {
          val (da, db) = if (p._1 < q._1) (p._1, q._1) else (q._1, p._1)
          Some((da, db, c, p._3.toLong + q._3 - c))
        } else None
      } else {
        // The sparse path's orientation, and the same scaled integers.
        // c > 0 is its shared-prefix-code precondition: at a threshold
        // below 1e-6, t = 0 and a zero intersection would pass.
        val (xa, xb) =
          if (p._3 < q._3 || (p._3 == q._3 && p._1 < q._1)) (p, q) else (q, p)
        if (c > 0 && c * 1000000L >= xa._3.toLong * t)
          Some((xa._1, xb._1, c, xa._3.toLong))
        else None
      }
    }
    val row = new UnsafeRow(4)
    val rowBytes = UnsafeRow.calculateBitSetWidthInBytes(4) + 32
    row.pointTo(new Array[Byte](rowBytes), rowBytes)
    // Pairs stream out one left row's hits (≤ N/grid) at a time: the
    // memory bound covers the cell's input rows, while its passing pairs
    // can approach (N/grid)² at low thresholds. A plain loop per row
    // instead of a nested iterator per pair cuts the kernel's CPU by ~40%
    // (4-core host, 20 000 docs × 18 words, 3×3 grid, two JVMs each:
    // 9.0–11.1 vs 15.7–17.6 CPU-s).
    val rs = if (diag) left else right
    Iterator.range(0, left.length).flatMap { i =>
      val t0 = System.nanoTime()
      val p = left(i)
      val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var j = if (diag) i + 1 else 0
      while (j < rs.length) { test(p, rs(j)).foreach(hits += _); j += 1 }
      kernelTime += System.nanoTime() - t0
      pairsOut += hits.length
      hits.iterator.map { h =>
        row.setLong(0, h._1); row.setLong(1, h._2); row.setLong(2, h._3); row.setLong(3, h._4)
        row: InternalRow
      }
    }
  }

  /** Smallest AND/popcount work, in 64-bit word-ops, worth one grid cell:
    * 2^23 ≈ 8.4M.
    *
    * Measured on a 4-core host (`local[4]`, the sf0.1 corpus at 1×, 2× and
    * 4×, grids 1–3 driven directly): the kernel runs 2–4 × 10^8 word-ops
    * per CPU-second, so a 2^23 cell is 20–40 ms of kernel, the order of
    * the 15–55 ms of CPU an extra cell task was measured to add; smaller
    * cells cannot pay for their task. Splitting paid at every rung, down
    * to cells of ~2^24: 5 000 docs × 6 words ran in 1.0–1.1 s on six
    * cells against 1.2–1.7 s on one, 10 000 × 11 in 1.4–1.6 s against
    * 3.2–3.5 s, 20 000 × 18 in 6.2–6.5 s against 15.1–15.8 s.
    */
  private val CellWordOps = 1L << 23

  /** The cost function: blocks per axis of the upper-triangular grid for
    * `rows` bitset rows of `w` words under `parallelism` task slots.
    *
    * The pairs cost N²·w/2 word-ops in all. The grid is the largest width
    * whose off-diagonal cells, (N/B)²·w word-ops each, still carry
    * [[CellWordOps]] — so a 500-doc, 6-word corpus runs as one cell
    * instead of the 3×3 grid a 4-core width would force on it — capped at
    * ⌈√(2·parallelism)⌉, whose B(B+1)/2 ≥ parallelism cells fill every
    * slot. The 64 MB per-block memory bound floors the result: a cell
    * holds two blocks of N/B rows of (8·w + 48) bytes, so B ≥
    * ⌈N·(8·w + 48) / 64 MB⌉ whatever the work says.
    */
  def grid(rows: Long, w: Int, parallelism: Int): Int = {
    val memB = (rows * (w * 8L + 48L) + (64L << 20) - 1) / (64L << 20)
    val parB = math.ceil(math.sqrt(2.0 * parallelism)).toLong
    val workB = (rows * math.sqrt(w.toDouble / CellWordOps)).toLong
    math.max(memB, math.min(parB, workB)).max(1L).min(Int.MaxValue).toInt
  }
}
