package graft.plans

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Layout of one block multiply: bs×bs tiles, the output tile grid split
  * P×Q (FuseME's cuboid partitioning, PAPERS.md) and the contraction axis
  * split R ways. Key (i mod P, j mod Q, k mod R) gets the tile pairs
  * A(i, k)·B(k, j) of its residues, so every triple (i, j, k) meets at
  * exactly one of the P·Q·R keys. `budget` is the per-task memory bound in
  * bytes: it caps the map-side densify buffer, and [[BlockShape.choose]]
  * keeps each key's tiles under it.
  */
final case class BlockShape(bs: Int, p: Int, q: Int, r: Int, budget: Long) {
  require(bs >= 1 && p >= 1 && q >= 1 && r >= 1 && budget >= 1,
    s"block shape needs bs, P, Q, R and budget ≥ 1, got $this")
  require(p.toLong * q * r <= Int.MaxValue, s"too many keys: $this")

  def keys: Int = p * q * r

  /** Dense key index ((i mod P)·Q + j mod Q)·R + k mod R of tile triple
    * (i, j, k): keys 0..P·Q·R−1, one partition each.
    */
  def key(i: Long, j: Long, k: Long): Int =
    ((Math.floorMod(i, p.toLong) * q + Math.floorMod(j, q.toLong)) * r +
      Math.floorMod(k, r.toLong)).toInt
}

object BlockShape {

  /** Widest tile. Past ~2 MB the kernel's streamed B tile falls out of
    * per-core cache. 4000² through `MatrixOps.blockMatmul` on a 4-core
    * AVX-512 host (`local[4]`, P = Q = 2, R = 1, warm ops of two JVMs
    * each) ran in 5.4–7.3 s at bs = 256 (`kernelTime` 13.8–18.8 CPU-s),
    * 8.2–10.8 s at 512 (21.9–27.5) and 9.1–10.8 s at 1024 (24.9–31.5).
    * The cap stays at 512 until a narrower width is measured end to end
    * as a layout change of its own.
    */
  val MaxTile = 512

  /** Most keys one multiply may run as tasks. */
  private val MaxKeys = 1 << 20

  /** Per-task memory bound: the unified memory fraction of an executor
    * heap shared by its task slots. In local mode the driver heap is the
    * executor heap and every core is a slot.
    */
  def taskBudget(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    val conf = sc.getConf
    val (heap, slots) =
      if (sc.isLocal) (Runtime.getRuntime.maxMemory, sc.defaultParallelism)
      else (conf.getSizeAsBytes("spark.executor.memory", "1g"),
            conf.getInt("spark.executor.cores", 1))
    (heap * conf.getDouble("spark.memory.fraction", 0.6) / slots.max(1))
      .toLong.max(1L)
  }

  /** The cost function. For C = A·B with A `rows`×`inner` (`nnzA` cells)
    * and B `inner`×`cols` (`nnzB` cells), on `cores` task slots with
    * `budget` bytes each, it picks (bs, P, Q, R) in this order:
    *   1. each key's tiles, (⌈gi/P⌉·⌈gk/R⌉ + ⌈gk/R⌉·⌈gj/Q⌉ + 1)·bs²·8
    *      bytes, fit the budget (else the least memory);
    *   2. at least `cores` keys, so every slot runs a key (else the most
    *      keys the grid allows; a split never exceeds its grid axis, since
    *      surplus keys would match nothing);
    *   3. the fewest shuffle bytes, Q·|A| + P·|B|, plus R·|C| when R > 1
    *      adds the partial-tile reduce. |X| is the smaller of its dense
    *      bytes (8 per cell) and its sparse bytes (12 per nonzero), the
    *      form each partial tile ships in;
    *   4. the widest tile, bs a power of two ≤ [[MaxTile]]: shuffle bytes
    *      do not depend on bs, fewer tiles cost less per-tile overhead;
    *   5. the fewest keys.
    * For a fixed (bs, P, Q) the smallest R that meets 1 and 2 is the
    * cheapest, so R is computed rather than searched. Narrower tiles are
    * tried only while the grid is narrower than the core count on some
    * axis: past that every useful split fits the grid, and a key's tile
    * bytes hardly change with bs.
    */
  def choose(rows: Long, inner: Long, cols: Long, nnzA: Long, nnzB: Long,
             cores: Int, budget: Long): BlockShape = {
    def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
    val aBytes = math.min(nnzA * 12.0, rows.toDouble * inner * 8)
    val bBytes = math.min(nnzB * 12.0, inner.toDouble * cols * 8)
    val cBytes = rows.toDouble * cols * 8
    val splitCap = math.max(cores, 64)
    var best: BlockShape = null
    var bestScore: (Double, Long, Double, Int, Long) = null
    var bs = MaxTile
    var wideEnough = false
    while (bs >= 1 && !wideEnough) {
      val gi = ceilDiv(rows, bs).max(1L)
      val gk = ceilDiv(inner, bs).max(1L)
      val gj = ceilDiv(cols, bs).max(1L)
      val tileBytes = bs.toLong * bs * 8
      val budgetTiles = budget / tileBytes
      var p = 1L
      while (p <= math.min(gi, splitCap)) {
        var q = 1L
        while (q <= math.min(gj, splitCap)) {
          val perK = ceilDiv(gi, p) + ceilDiv(gj, q)
          val fit = (budgetTiles - 1) / perK
          val rMem = if (fit >= 1) ceilDiv(gk, fit) else gk
          val r = math.min(math.max(ceilDiv(cores, p * q), rMem), gk).max(1L)
          val keys = p * q * r
          if (keys <= MaxKeys) {
            val tiles = perK * ceilDiv(gk, r) + 1
            val over = math.max(0.0, tiles.toDouble * tileBytes - budget)
            val short = math.max(0L, cores - keys)
            val bytes = q * aBytes + p * bBytes + (if (r > 1) r * cBytes else 0.0)
            val score = (over, short, bytes, -bs, keys)
            if (bestScore == null || better(score, bestScore)) {
              bestScore = score
              best = BlockShape(bs, p.toInt, q.toInt, r.toInt, budget)
            }
          }
          q += 1
        }
        p += 1
      }
      wideEnough = math.min(gi, math.min(gk, gj)) >= cores
      bs /= 2
    }
    best
  }

  private def better(a: (Double, Long, Double, Int, Long),
                     b: (Double, Long, Double, Int, Long)): Boolean =
    if (a._1 != b._1) a._1 < b._1
    else if (a._2 != b._2) a._2 < b._2
    else if (a._3 != b._3) a._3 < b._3
    else if (a._4 != b._4) a._4 < b._4
    else a._5 < b._5
}

/** A (partial) tile of one operand: tile (`row`, `col`) of bs×bs cells,
  * row-major, either `dense` or as parallel `offs` / `vals` arrays of
  * cells, where a repeated offset adds.
  */
final class TilePart(val row: Long, val col: Long, val dense: Array[Long],
                     val offs: Array[Int], val vals: Array[Long]) extends Serializable {
  def bytes: Long = if (dense != null) dense.length * 8L else offs.length * 12L

  /** Adds this part into the dense accumulator `acc`. */
  def addTo(acc: Array[Long]): Unit =
    if (dense != null) {
      var x = 0
      while (x < acc.length) { acc(x) += dense(x); x += 1 }
    } else {
      var x = 0
      while (x < offs.length) { acc(offs(x)) += vals(x); x += 1 }
    }

  /** Adds this part into `rows`, a dense tile held as its bs row arrays. */
  def addTo(rows: Array[Array[Long]]): Unit = {
    val bs = rows.length
    if (dense != null) {
      var li = 0
      while (li < bs) {
        val r = rows(li)
        val off = li * bs
        var lk = 0
        while (lk < bs) { r(lk) += dense(off + lk); lk += 1 }
        li += 1
      }
    } else {
      var x = 0
      while (x < offs.length) { rows(offs(x) / bs)(offs(x) % bs) += vals(x); x += 1 }
    }
  }
}

object TilePart {
  /** The smaller shipping form of dense tile `rows` (its bs row arrays):
    * dense (a row-major copy) or its nonzero cells.
    */
  def of(row: Long, col: Long, rows: Array[Array[Long]]): TilePart = {
    val bs = rows.length
    var nnz = 0
    rows.foreach { r =>
      var lk = 0
      while (lk < bs) { if (r(lk) != 0L) nnz += 1; lk += 1 }
    }
    if (nnz * 12L >= bs.toLong * bs * 8L) {
      val d = new Array[Long](bs * bs)
      var li = 0
      while (li < bs) { System.arraycopy(rows(li), 0, d, li * bs, bs); li += 1 }
      new TilePart(row, col, d, null, null)
    } else {
      val offs = new Array[Int](nnz)
      val vals = new Array[Long](nnz)
      var o = 0
      var li = 0
      while (li < bs) {
        val r = rows(li)
        var lk = 0
        while (lk < bs) {
          if (r(lk) != 0L) { offs(o) = li * bs + lk; vals(o) = r(lk); o += 1 }
          lk += 1
        }
        li += 1
      }
      new TilePart(row, col, null, offs, vals)
    }
  }
}

/** The block route of [[MatMul]] as one physical operator: C = A·B over
  * COO children `(i, j, v)` of LONGs, B read as B[j, k]. Three steps, all
  * inside this node:
  *   1. Densify on the map side: each child partition folds its rows into
  *      partial bs×bs tiles (duplicate cells add), each shipped as its
  *      (offset, value) cell list or, once that would be as large, dense.
  *      The fold holds at most `shape.budget` bytes and ships what it
  *      holds before passing it ([[BlockMatMulExec.densify]]).
  *   2. One RDD shuffle per operand: A tile (i, k) goes to its Q keys,
  *      B tile (k, j) to its P keys ([[BlockShape.key]]). A `HashPartitioner`
  *      of P·Q·R partitions puts Int key c in partition c, so each key is
  *      exactly one task, and AQE does not coalesce an RDD shuffle.
  *   3. Multiply and emit: the two sides of each key are zipped, partials
  *      summed per tile, and the ikj kernel runs on every tile pair that
  *      meets. With R = 1 a key holds every contraction step of its output
  *      tiles, so their nonzero cells come out directly as rows; R > 1
  *      ships partial C tiles through one more dense-key shuffle, sorted
  *      by tile, and sums them there.
  * Zero cells are never emitted (the [[MatMul]] zero rule).
  */
case class BlockMatMulExec(left: SparkPlan, right: SparkPlan,
                           output: Seq[Attribute], shape: BlockShape)
    extends BinaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "densifyTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "densify time"),
    "densifyPeak" -> SQLMetrics.createSizeMetric(sparkContext, "densify buffer peak"),
    "keyPeak" -> SQLMetrics.createSizeMetric(sparkContext, "key tiles peak"),
    "kernelTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "kernel time"),
    "kernelMadds" -> SQLMetrics.createMetric(sparkContext, "kernel multiply-adds"),
    "emitTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "emit time"),
    "aTiles" -> SQLMetrics.createMetric(sparkContext, "A tiles shipped"),
    "aBytes" -> SQLMetrics.createSizeMetric(sparkContext, "A bytes shipped"),
    "bTiles" -> SQLMetrics.createMetric(sparkContext, "B tiles shipped"),
    "bBytes" -> SQLMetrics.createSizeMetric(sparkContext, "B bytes shipped"),
    "cTiles" -> SQLMetrics.createMetric(sparkContext, "partial C tiles shipped"),
    "cBytes" -> SQLMetrics.createSizeMetric(sparkContext, "partial C bytes shipped"))

  override def outputPartitioning: Partitioning =
    UnknownPartitioning(if (shape.r == 1) shape.keys else shape.p * shape.q)

  override def simpleString(maxFields: Int): String =
    s"$nodeName bs=${shape.bs} P=${shape.p} Q=${shape.q} R=${shape.r} keys=${shape.keys}"

  protected override def doExecute(): RDD[InternalRow] = {
    import BlockMatMulExec._
    val s = shape
    val (densifyTime, densifyPeak) = (longMetric("densifyTime"), longMetric("densifyPeak"))
    val keyPeak = longMetric("keyPeak")
    val (kernelTime, kernelMadds) = (longMetric("kernelTime"), longMetric("kernelMadds"))
    val emitTime = longMetric("emitTime")
    val numOutputRows = longMetric("numOutputRows")
    val (aTiles, aBytes) = (longMetric("aTiles"), longMetric("aBytes"))
    val (bTiles, bBytes) = (longMetric("bTiles"), longMetric("bBytes"))
    val (cTiles, cBytes) = (longMetric("cTiles"), longMetric("cBytes"))
    val keyed = new HashPartitioner(s.keys)

    val aSide = left.execute().mapPartitions { rows =>
      densify(rows, s.bs, s.budget, densifyTime, densifyPeak).flatMap { t =>
        aTiles += s.q; aBytes += s.q * t.bytes
        Iterator.tabulate(s.q)(jq => (s.key(t.row, jq, t.col), t))
      }
    }.partitionBy(keyed).setName("BlockMatMul A tiles")
    val bSide = right.execute().mapPartitions { rows =>
      densify(rows, s.bs, s.budget, densifyTime, densifyPeak).flatMap { t =>
        bTiles += s.p; bBytes += s.p * t.bytes
        Iterator.tabulate(s.p)(ip => (s.key(ip, t.col, t.row), t))
      }
    }.partitionBy(keyed).setName("BlockMatMul B tiles")
    val products = aSide.zipPartitions(bSide) { (as, bs) =>
      multiply(as.map(_._2), bs.map(_._2), s.bs, kernelTime, kernelMadds, keyPeak)
    }.setName("BlockMatMul gemm")

    if (s.r == 1)
      products.mapPartitions(emit(_, s.bs, emitTime, numOutputRows))
    else {
      val perTile = new TilePartitioner(s.p, s.q)
      products.mapPartitions(_.map { case (i, j, acc) =>
        val t = TilePart.of(i, j, acc)
        cTiles += 1; cBytes += t.bytes
        ((i, j), t)
      }).repartitionAndSortWithinPartitions(perTile)
        .setName("BlockMatMul partial C")
        .mapPartitions(sumSorted(_, s.bs, emitTime, numOutputRows))
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BlockMatMulExec =
    copy(left = newLeft, right = newRight)
}

/** One tile being folded on the map side: a growing list of (offset,
  * value) cells until the list would take as many bytes as the dense
  * bs² array, then that array.
  */
private[plans] final class TileFold(bs: Int) {
  private[this] val denseBytes = bs.toLong * bs * 8
  private[this] var offs = new Array[Int](16)
  private[this] var vals = new Array[Long](16)
  private[this] var n = 0
  private[this] var dense: Array[Long] = if (16 * 12L >= denseBytes) new Array[Long](bs * bs) else null

  def bytes: Long = if (dense != null) denseBytes else offs.length * 12L
  /** Whether the next [[add]] grows the list (or turns it dense). */
  def full: Boolean = dense == null && n == offs.length
  /** [[bytes]] after the next growth. */
  def grownBytes: Long = math.min(offs.length * 24L, denseBytes).max(bytes)

  def add(off: Int, v: Long): Unit =
    if (dense != null) dense(off) += v
    else {
      if (n == offs.length) {
        if (offs.length * 24L >= denseBytes) {
          dense = new Array[Long](bs * bs)
          var x = 0
          while (x < n) { dense(offs(x)) += vals(x); x += 1 }
          offs = null; vals = null
          dense(off) += v
          return
        }
        offs = java.util.Arrays.copyOf(offs, offs.length * 2)
        vals = java.util.Arrays.copyOf(vals, vals.length * 2)
      }
      offs(n) = off; vals(n) = v; n += 1
    }

  def part(row: Long, col: Long): TilePart =
    if (dense != null) new TilePart(row, col, dense, null, null)
    else new TilePart(row, col, null,
      java.util.Arrays.copyOf(offs, n), java.util.Arrays.copyOf(vals, n))
}

/** Sends output tile (i, j) to partition (i mod P)·Q + j mod Q. */
private[plans] final class TilePartitioner(p: Int, q: Int)
    extends org.apache.spark.Partitioner {
  override def numPartitions: Int = p * q
  override def getPartition(key: Any): Int = key match {
    case (i: Long, j: Long) =>
      (Math.floorMod(i, p.toLong) * q + Math.floorMod(j, q.toLong)).toInt
  }
}

object BlockMatMulExec {

  /** Folds COO rows `(i, j, v)` into partial bs×bs tiles. A tile starts as
    * a list of (offset, value) cells and turns dense once the list would
    * take as many bytes as the dense array; duplicate cells add (in the
    * dense array here, at the key for listed ones). The tiles held take at
    * most `budget` bytes, or one fresh tile when that is larger: before a
    * tile grows or a new one starts past the bound, every held tile is
    * shipped. So a task's memory does not grow with its partition, and
    * work stays linear in its rows however scattered they arrive. Rows
    * with a null field are skipped. `peak` records the most bytes held.
    */
  def densify(rows: Iterator[InternalRow], bs: Int, budget: Long,
              densifyTime: SQLMetric, peak: SQLMetric): Iterator[TilePart] =
      new Iterator[TilePart] {
    private[this] val buffer = new java.util.HashMap[(Long, Long), TileFold]()
    private[this] var held = 0L
    private[this] var out: Iterator[TilePart] = Iterator.empty
    private[this] var lastKey: (Long, Long) = _
    private[this] var last: TileFold = _
    private[this] var done = false

    private[this] def drain(): Unit = {
      val parts = new Array[TilePart](buffer.size)
      var n = 0
      buffer.forEach { (k, f) => parts(n) = f.part(k._1, k._2); n += 1 }
      buffer.clear()
      held = 0L
      out = parts.iterator
    }

    /** A fresh tile `key`, shipping every held tile first when it would
      * pass the bound. Returns whether it shipped.
      */
    private[this] def start(key: (Long, Long)): Boolean = {
      val fresh = new TileFold(bs)
      val ship = !buffer.isEmpty && held + fresh.bytes > budget
      if (ship) drain()
      buffer.put(key, fresh)
      held += fresh.bytes
      last = fresh; lastKey = key
      ship
    }

    /** Reads rows until held tiles ship or the input ends. */
    private[this] def fill(): Unit = {
      val t0 = System.nanoTime()
      val width = bs.toLong
      var shipped = false
      while (!shipped && rows.hasNext) {
        val r = rows.next()
        if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) {
          val i = r.getLong(0); val j = r.getLong(1)
          val ti = Math.floorDiv(i, width); val tj = Math.floorDiv(j, width)
          if (last == null || ti != lastKey._1 || tj != lastKey._2) {
            val key = (ti, tj)
            last = buffer.get(key)
            lastKey = key
            if (last == null) shipped = start(key)
          }
          if (last.full && held - last.bytes + last.grownBytes > budget) {
            drain(); shipped = true
            start(lastKey)
          }
          val before = last.bytes
          last.add((Math.floorMod(i, width) * bs + Math.floorMod(j, width)).toInt,
            r.getLong(2))
          held += last.bytes - before
          if (held > peak.value) peak.set(held)
        }
      }
      densifyTime += System.nanoTime() - t0
    }

    override def hasNext: Boolean = {
      while (!out.hasNext && !done) {
        if (rows.hasNext) fill()
        else { drain(); done = true }
      }
      out.hasNext
    }
    override def next(): TilePart = {
      if (!hasNext) throw new NoSuchElementException
      out.next()
    }
  }

  /** Sums the partial tiles of one key by (row, col): `start` makes the
    * first part of a tile its accumulator, `add` adds each later part.
    */
  private def sumParts[T <: AnyRef](parts: Iterator[TilePart])(start: TilePart => T)
      (add: (TilePart, T) => Unit): java.util.HashMap[(Long, Long), T] = {
    val tiles = new java.util.HashMap[(Long, Long), T]()
    parts.foreach { t =>
      val k = (t.row, t.col)
      val acc = tiles.get(k)
      if (acc != null) add(t, acc) else tiles.put(k, start(t))
    }
    tiles
  }

  /** One key's products: every output tile (i, j) that some A(i, k),
    * B(k, j) pair of the key reaches, as (i, j, rows). A tiles are summed
    * flat (row-major); B tiles and the output accumulator are summed as bs
    * row arrays, the layout [[kernel]] needs. The accumulator is reused: it
    * is valid until the next tile is requested. `madds` counts bs per
    * nonzero A cell of each pair that meets; `peak` records the largest
    * set of tiles a key of this task held.
    */
  def multiply(as: Iterator[TilePart], bs: Iterator[TilePart], width: Int,
               kernelTime: SQLMetric, madds: SQLMetric,
               peak: SQLMetric): Iterator[(Long, Long, Array[Array[Long]])] = {
    import scala.jdk.CollectionConverters._
    val aTiles = sumParts(as) { t =>
      if (t.dense != null) t.dense
      else { val d = new Array[Long](width * width); t.addTo(d); d }
    }(_ addTo _)
    val bTiles = sumParts(bs) { t =>
      val rows = Array.ofDim[Long](width, width); t.addTo(rows); rows
    }(_ addTo _)
    if (aTiles.isEmpty || bTiles.isEmpty) return Iterator.empty
    val held = (aTiles.size + bTiles.size + 1L) * width * width * 8
    if (held > peak.value) peak.set(held)
    val byRow = aTiles.asScala.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1)
      .map { case (i, ts) =>
        (i, ts.map { case ((_, k), a) => (k, a, a.count(_ != 0L) * width.toLong) }.sortBy(_._1))
      }
    val cols = bTiles.keySet.asScala.map(_._2).toArray.sorted
    val acc = Array.ofDim[Long](width, width)
    byRow.iterator.flatMap { case (i, row) =>
      cols.iterator.flatMap { j =>
        val t0 = System.nanoTime()
        acc.foreach(java.util.Arrays.fill(_, 0L))
        var met = false
        var n = 0L
        row.foreach { case (k, a, aMadds) =>
          val b = bTiles.get((k, j))
          if (b != null) { kernel(acc, a, b, width); n += aMadds; met = true }
        }
        kernelTime += System.nanoTime() - t0
        madds += n
        if (met) Iterator.single((i, j, acc)) else Iterator.empty
      }
    }
  }

  /** acc += a·b over bs×bs tiles: `a` row-major, `acc` and `b` as their
    * bs row arrays. The ikj loop skips zero A cells, and its inner loop
    * adds av times B row lj into acc row li. Both rows are indexed by the
    * same lk, which is what lets HotSpot C2 compile that loop to SIMD
    * multiply-adds: over flat tiles, acc(li·bs + lk) += av·b(lj·bs + lk)
    * stayed scalar, since C2 cannot rule out that the two differently
    * offset accesses overlap. The additions and their order are the same
    * in both forms, so results, wrapped overflow included, are too. On a
    * 4-core AVX-512 host (`local[4]`, bs = 512, P = Q = 2, warm ops), a
    * 1000² product's `kernelTime` fell from 0.81–1.16 to 0.27–0.49 CPU-s
    * summed over its tasks, about 2.8 Gmadd per kernel-second.
    */
  def kernel(acc: Array[Array[Long]], a: Array[Long], b: Array[Array[Long]],
             bs: Int): Unit = {
    var li = 0
    while (li < bs) {
      val c = acc(li)
      val aOff = li * bs
      var lj = 0
      while (lj < bs) {
        val av = a(aOff + lj)
        if (av != 0L) {
          val br = b(lj)
          var lk = 0
          while (lk < bs) { c(lk) += av * br(lk); lk += 1 }
        }
        lj += 1
      }
      li += 1
    }
  }

  /** The nonzero cells of output tiles, held as bs row arrays, as
    * `(i, k, v)` rows.
    */
  private def emit(tiles: Iterator[(Long, Long, Array[Array[Long]])], bs: Int,
                   emitTime: SQLMetric, numOutputRows: SQLMetric): Iterator[InternalRow] = {
    val row = new UnsafeRow(3)
    row.pointTo(new Array[Byte](UnsafeRow.calculateBitSetWidthInBytes(3) + 24),
      UnsafeRow.calculateBitSetWidthInBytes(3) + 24)
    val nz = new Array[Int](bs * bs)
    tiles.flatMap { case (i, j, acc) =>
      val t0 = System.nanoTime()
      var n = 0
      var li = 0
      while (li < bs) {
        val c = acc(li)
        var lk = 0
        while (lk < bs) { if (c(lk) != 0L) { nz(n) = li * bs + lk; n += 1 }; lk += 1 }
        li += 1
      }
      emitTime += System.nanoTime() - t0
      numOutputRows += n
      val i0 = i * bs; val j0 = j * bs
      Iterator.range(0, n).map { x =>
        val li = nz(x) / bs; val lk = nz(x) % bs
        row.setLong(0, i0 + li); row.setLong(1, j0 + lk)
        row.setLong(2, acc(li)(lk))
        row: InternalRow
      }
    }
  }

  /** Sums the partial C tiles of a partition sorted by tile, and emits
    * each finished tile's nonzero cells.
    */
  private def sumSorted(parts: Iterator[((Long, Long), TilePart)], bs: Int,
                        emitTime: SQLMetric,
                        numOutputRows: SQLMetric): Iterator[InternalRow] = {
    val sorted = parts.buffered
    val acc = Array.ofDim[Long](bs, bs)
    val tiles = new Iterator[(Long, Long, Array[Array[Long]])] {
      override def hasNext: Boolean = sorted.hasNext
      override def next(): (Long, Long, Array[Array[Long]]) = {
        val key = sorted.head._1
        acc.foreach(java.util.Arrays.fill(_, 0L))
        while (sorted.hasNext && sorted.head._1 == key) sorted.next()._2.addTo(acc)
        (key._1, key._2, acc)
      }
    }
    emit(tiles, bs, emitTime, numOutputRows)
  }
}
