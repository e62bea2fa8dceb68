package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Matrix algebra over COO DataFrames with schema `(i: LONG, j: LONG, v: LONG)`.
  *
  * Re-expresses the reference's dense one-pass MapReduce multiply
  * (reference `mapper/main.py:24-41`, `reducer/main.py:28-32`) as the
  * shuffle-minimal Spark plan: an equi-join on the contraction index `j`
  * followed by a partial+final hash aggregate on `(i, k)`.
  *
  * Why this beats the reference's formulation at scale: the reference's
  * mapper replicates every A-element cols(B) times and every B-element
  * rows(A) times (`mapper/main.py:26-32`), so its shuffle volume is
  * O(|A|·p + |B|·m). The join formulation shuffles O(|A| + |B|) rows once on
  * `j`, then O(|A⋈B|) partially-aggregated rows on `(i,k)` — with map-side
  * combine the second exchange carries at most one row per (i,k) per task.
  * At 100 TB the join is a sort-merge join with AQE skew splitting; dense
  * blocks go through [[blockMatmul]] which does a local GEMM per block pair
  * (the FuseME insight, PAPERS.md:5).
  */
object MatrixOps {

  /** C = A·B. Inputs/outputs in COO form: a=(i,j,v), b=(i,j,v) read as
    * B[j,k]=v with j=row=contraction index. Result (i, k, v), exact LONG.
    * (The reference's reducer iterates the wrong bound for rectangular
    * shapes — `reducer/main.py:30`; this join formulation has no bound
    * to get wrong.)
    */
  def matmul(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("i"), col("j"), col("v").as("va"))
    val r = b.select(col("i").as("jr"), col("j").as("k"), col("v").as("vb"))
    l.join(r, col("j") === col("jr"))
      .groupBy(col("i"), col("k"))
      .agg(sum(col("va") * col("vb")).as("v"))
  }

  /** COO → dense bs×bs tiles `(bi, bj, Array[Long])` — [[blockMatmul]]'s
    * densify stage (see the scale/memory rationale at its call site).
    * Package-visible so the GEMM stage probe can time it in isolation.
    */
  private[graft] def cooToTiles(m: DataFrame, bs: Int) = {
    val spark = m.sparkSession
    import spark.implicits._
    m.select((col("i") / bs).cast("long").as("_1"),
             (col("j") / bs).cast("long").as("_2"),
             ((col("i") % bs).cast("int") * bs + (col("j") % bs).cast("int"))
               .as("_3"),
             col("v").as("_4"))
      .as[(Long, Long, Int, Long)]
      .groupByKey(t => (t._1, t._2))
      .mapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Int, Long)]) =>
        val d = Array.ofDim[Long](bs * bs)
        it.foreach(t => d(t._3) = t._4)
        (key._1, key._2, d)
      }
  }

  /** C = A·B via 2-D block partitioning — the scale path for dense inputs.
    *
    * Generalizes the reference's 1-D row/column slabs
    * (`orchestrator/main.py:88-112`) to a block grid: COO entries are
    * grouped into bs×bs tiles, tile pairs sharing a contraction block are
    * joined, each pair is multiplied locally as a dense array (GEMM —
    * cache-friendly, no per-element shuffle rows), and partial tiles are
    * summed. Shuffle volume is O(tiles) instead of O(entries·replication).
    * Result is hash-identical to [[matmul]].
    *
    * `p` × `q` is the CUBOID SPLIT of the output tile grid (FuseME,
    * PAPERS.md): the contraction join's only natural key is the k-block,
    * whose cardinality is the grid width, so a grid narrower than the
    * core count leaves cores idle. The join key is therefore (k-block,
    * i-block mod p, j-block mod q): A tile (i, k) ships to its q keys
    * (k, i mod p, ·), B tile (k, j) to its p keys (k, ·, j mod q), and each
    * tile pair meets at exactly one key, (k, i mod p, j mod q). A split
    * wider than the grid only adds keys that one side never reaches, so
    * they match nothing. The cost is (q−1)·|A| + (p−1)·|B| extra tile
    * copies; p = q = 1 is the plain k-keyed join
    * ([[graft.plans.MatMulStrategy.deriveReplication]] picks the split).
    *
    * `parts` is the partition count of the tile exchanges and of the
    * partial-tile exchange (the planner passes its estimated key count;
    * 0 takes the session's shuffle partition count). Both tile sides are
    * repartitioned to it on the join keys, so the sort-merge join reuses
    * those exchanges, and the partial-tile reduce groups on exactly its
    * repartition keys. AQE leaves an exchange with an explicit count
    * alone: it neither coalesces its partitions nor splits skewed ones.
    * Coalescing is what used to shrink the whole join (a few hundred KB
    * of compressed tiles at 1000²) to ONE task running every GEMM. Skew
    * splitting is not needed: every key holds tiles of one fixed size,
    * bs² LONGs, at most ⌈grid/p⌉ of A's and ⌈grid/q⌉ of B's, so no key
    * can grow past the others with the data.
    */
  def blockMatmul(a: DataFrame, b: DataFrame, bs: Int, p: Int = 1, q: Int = 1,
                  parts: Int = 0): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    require(p >= 1 && q >= 1, s"cuboid split must be at least 1x1, got ${p}x$q")
    val n = if (parts > 0) parts else spark.sessionState.conf.numShufflePartitions

    // COO → dense tiles through a SORT-BASED group (groupByKey/mapGroups),
    // not a collect_list hash aggregate. The former collect_list partial
    // aggregate buffered, PER MAP TASK, every entry struct of every group
    // the task touched — O(n²/tasks) heap before one byte shuffled, the
    // stage that OOM'd the 16000² one-off at the 24 GB envelope under
    // 32-way task concurrency (r10 VERDICT "Next round" 5; generation
    // itself streams — CartesianProduct and the shuffle writer are
    // iterator-to-iterator). Here the map side streams raw 28-byte
    // (bi, bj, off, v) rows into the exchange (spill-safe by
    // construction), the reduce side sorts by key (external, spill-safe)
    // and materializes ONE dense bs² tile at a time — per-task memory is
    // O(bs²) = O(tile) regardless of matrix size or task concurrency.
    // Densifying HERE also drops the per-entry struct boxing the old
    // tile-pair stage paid when scattering lists into arrays.
    // (Extracted as [[cooToTiles]] so a benchmark can time the densify
    // pipeline in isolation.)
    val aB = cooToTiles(a, bs)
      .select(col("_1").as("abi"), col("_2").as("abj"), col("_3").as("ad"),
              (col("_1") % p).cast("int").as("ap"),
              explode(lit((0 until q).toArray)).as("aq"))
      .repartition(n, col("abj"), col("ap"), col("aq"))
    val bB = cooToTiles(b, bs)
      .select(col("_1").as("bbi"), col("_2").as("bbj"), col("_3").as("bd"),
              explode(lit((0 until p).toArray)).as("bp"),
              (col("_2") % q).cast("int").as("bq"))
      .repartition(n, col("bbi"), col("bp"), col("bq"))

    // Tile pairs meeting at one cuboid key; local dense GEMM per pair.
    // (A shuffle_hash hint on the tile join was tried and cannot apply
    // here: the expansion is composed inside MatMulStrategy from the
    // ANALYZED subtree, which never passes the optimizer rule that
    // consumes ResolvedHint — Spark raises INTERNAL_ERROR. The sort-merge
    // join's per-partition sort input is a handful of tile rows, so the
    // sort itself is cheap; kept.)
    val pairs = aB.join(bB, col("abj") === col("bbi") &&
        col("ap") === col("bp") && col("aq") === col("bq"))
      .select(col("abi"), col("bbj"), col("ad"), col("bd"))
      .as[(Long, Long, Array[Long], Array[Long])]

    // Per pair: cache-friendly ikj GEMM over the primitive bs² arrays —
    // no boxing, no per-entry hash lookups (the round-7 formulation's
    // Seq.groupBy + boxed-tuple inner loop was the CPU bottleneck of the
    // 1000²/2000² sweep rungs; measured ~2x on the whole query at 2000²).
    val partialTiles = pairs.map { case (abi, bbj, ad, bd) =>
      val acc = Array.ofDim[Long](bs * bs)
      var li = 0
      while (li < bs) {
        var lj = 0
        while (lj < bs) {
          val av = ad(li * bs + lj)
          if (av != 0L) {
            val aOff = li * bs; val bOff = lj * bs
            var lk = 0
            while (lk < bs) { acc(aOff + lk) += av * bd(bOff + lk); lk += 1 }
          }
          lj += 1
        }
        li += 1
      }
      (abi, bbj, acc)
    }

    // Reduce partial TILES, not per-cell rows: the result-tile shuffle
    // carries one dense bs² array per contraction step (O(grid³) arrays)
    // instead of O(grid³·bs²) cell rows through a hash aggregate — at
    // 2000²/bs=128 that is 4096 arrays vs 67M rows, and the final cell
    // emission needs NO further aggregate. Zero cells are dropped on
    // emission — including cells whose products cancel to exact 0, which
    // [[matmul]] does emit; the planner's row-join route filters them so
    // both routes return the same rows ([[graft.plans.MatMul]]).
    // The group keys are exactly the repartition keys, so the group
    // reuses that explicit-count exchange (a `groupByKey` would append a
    // fresh key column and plan a second, coalescable one).
    //
    // MEASURED NEGATIVE (round 16, 2026-08-20): a codegen emission —
    // mapGroups returning ONE (abi, bbj, bs²-array) row, then posexplode +
    // filter(v≠0) + integer projection — was built, oracle-verified
    // (15/15 m-gates, MatrixPropSpec green), and A/B'd against this
    // iterator on an interleaved 4-round ladder (min wall, same host):
    // 2000² 13.12 vs 13.25 s, 4000² 13.04 vs 12.10 s — neutral within the
    // host band. The object boundary crosses 16 rows of 2 MB arrays either
    // way; per-cell tuple serde is not the bottleneck once cells are
    // emitted from the reduce side. Rejected to keep the executed plan
    // unchanged (plans/r16/gemm_emission_{before,after}.txt hold both
    // shapes).
    partialTiles
      .repartition(n, col("_1"), col("_2"))
      .groupBy(col("_1"), col("_2"))
      .as[(Long, Long), (Long, Long, Array[Long])]
      .flatMapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Array[Long])]) =>
        val (abi, bbj) = key
        val acc = Array.ofDim[Long](bs * bs)
        it.foreach { t =>
          val part = t._3
          var x = 0
          while (x < part.length) { acc(x) += part(x); x += 1 }
        }
        // Nonzero scan as ONE iterator (round 16): the former
        // Iterator.range(..).flatMap(Iterator.single/empty) allocated two
        // iterators per CELL — n² cells per matrix made it a measurable
        // slice of the emission pipeline at the 2000²/4000² rungs.
        new Iterator[(Long, Long, Long)] {
          private[this] var x = 0
          private[this] def skipZeros(): Unit = {
            while (x < acc.length && acc(x) == 0L) x += 1
          }
          skipZeros()
          override def hasNext: Boolean = x < acc.length
          override def next(): (Long, Long, Long) = {
            val t = (abi * bs + x / bs, bbj * bs + x % bs, acc(x))
            x += 1; skipZeros(); t
          }
        }
      }.toDF("i", "k", "v")
  }

  /** Size-derived tile width for dense n×n block GEMM: the widest tile
    * under the measured caps — fewer, bigger tiles shrink every exchange
    * (densify rows per tile, partial tiles = n³·8/bs bytes) and the
    * per-pair GEMM gets more arithmetic per byte moved. Two caps:
    *   - 512 ABSOLUTE (memory + cache, re-measured round 16): tiles are
    *     three bs² LONG arrays per task; past ~2 MB the GEMM's streamed B
    *     tile falls out of per-core cache and the kernel goes
    *     DRAM-bandwidth-bound — 4000² at bs=1000 measured 25.1 s vs
    *     14.7 s at bs=500 (reproducible, interleaved A/B). Uncapped,
    *     bs = n/4 is also a latent OOM at 64k² (3·2 GB arrays per task).
    *   - n/4 RELATIVE (round 16; was n/8): the n/8 floor existed to give
    *     the contraction join ≥ 2·cores tile pairs, but the join's
    *     parallelism now comes from the cuboid split of the output grid
    *     ([[blockMatmul]]'s `p` × `q`), not from shrinking tiles — and
    *     grid 4 beats grid 8 at equal parallelism (2000²: 3.5 s at bs=500
    *     vs 5.1 s at bs=250, with the join widened) because halving the
    *     grid halves the densify-row and partial-tile traffic.
    * Past n = 2048 the grid widens instead: per-task memory stays
    * constant while tile-pair parallelism grows as (n/512)³ — the
    * dimension a cluster actually scales with.
    */
  def sweepTile(n: Int): Int = math.max(1, math.min(n / 4, 512))

  /** PLANNER-selected multiply — the one multiply dispatcher: emits a
    * [[graft.plans.MatMul]] logical node and lets
    * [[graft.plans.MatMulStrategy]] (injected via `SparkSessionExtensions`)
    * choose the physical formulation from the operands' cost statistics —
    * broadcastable side ⇒ row join (no contraction shuffle), both sides
    * big ⇒ block GEMM with the tile width from
    * [[graft.plans.MatMulStrategy.deriveBs]] (the measured [[sweepTile]]
    * rule). Either route yields the same rows: zero cells are dropped.
    */
  def multiplyPlanned(a: DataFrame, b: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSqlShim.ofRows(a.sparkSession,
      graft.plans.MatMul.node(a.queryExecution.analyzed, b.queryExecution.analyzed))
      .withColumnRenamed("j", "k")

  /** (A·B)·C through NESTED planner-selected [[graft.plans.MatMul]] nodes.
    * The caller writes the left-deep chain; [[graft.plans
    * .MatMulReassociate]] rotates it right-deep at optimization time when
    * the cost statistics say the right operand is the small one — the
    * matrix-chain-ordering decision as a Catalyst rule, not caller code.
    */
  def multiplyPlannedChain(a: DataFrame, b: DataFrame, c: DataFrame): DataFrame = {
    val inner = graft.plans.MatMul.node(
      a.queryExecution.analyzed, b.queryExecution.analyzed)
    org.apache.spark.sql.GraftSqlShim.ofRows(a.sparkSession,
      graft.plans.MatMul.node(inner, c.queryExecution.analyzed))
      .withColumnRenamed("j", "k")
  }

  /** y = A·x for a COO vector x = (j, v): one equi-join on the contraction
    * index + hash aggregate on i — the building block of iterative methods
    * (power iteration, PageRank). Output is keyed (j, v) so it feeds the
    * next step directly. Per step the shuffle volume is O(|A| + |x|) on the
    * join plus one row per output component — at 100 TB, A partitioned by j
    * keeps every iteration's join co-located with the (re-broadcastable or
    * co-partitioned) vector.
    */
  def matvec(a: DataFrame, x: DataFrame): DataFrame = {
    val l = a.select(col("i"), col("j"), col("v").as("va"))
    val r = x.select(col("j").as("jr"), col("v").as("xv"))
    l.join(r, col("j") === col("jr"))
      .groupBy(col("i"))
      .agg(sum(col("va") * col("xv")).as("v"))
      .select(col("i").as("j"), col("v"))
  }

  /** k steps of power iteration y = Aᵏ·x₀ (exact LONG arithmetic — the
    * caller bounds k so values fit; the 50×50 fixture holds to k=4).
    */
  def powerIteration(a: DataFrame, x0: DataFrame, k: Int): DataFrame =
    (1 to k).foldLeft(x0)((x, _) => matvec(a, x))

  /** Damped PageRank over the NONZERO STRUCTURE of A (edge i→j where
    * A[i,j] ≠ 0), in exact fixed-point integer arithmetic so the result
    * is hash-deterministic and SQL-replayable — doubles would make the
    * per-node sums order-dependent across engines:
    * ranks scale by 10^6; each edge contributes ⌊r_src / outdeg_src⌋;
    * the damping step is r'_i = 150000 + ⌊85·Σ contribs / 100⌋
    * (d = 0.85, teleport 0.15, dangling mass dropped — documented
    * semantics of THIS operator, not a claim about full PageRank).
    *
    * Execution shape per iteration: one equi-join of the rank vector to
    * the edge list on src + one hash aggregate on dst — exactly the
    * matvec shuffle pattern ([[powerIteration]]); at scale the edge list
    * stays hash-partitioned by src across iterations, and the rank vector
    * (one LONG per node) is the only moving state.
    */
  def pageRank(a: DataFrame, nNodes: Long, iters: Int): DataFrame = {
    val spark = a.sparkSession
    // Edge list + degrees are loop-invariant: persist once instead of
    // re-deriving from `a` every iteration, and cut each iteration's
    // lineage (localCheckpoint) so the plan doesn't deepen by one
    // join+agg per round — the connectedComponents lesson; at iters=3
    // it's negligible, but the API takes arbitrary iters.
    val edges = a.filter(col("v") =!= 0)
      .select(col("i").as("src"), col("j").as("dst"))
      .withColumn("d", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .persist()
    val nodes = spark.range(nNodes).select(col("id").as("node"))
    var r = nodes.select(col("node"), lit(1000000L).as("r"))
    (1 to iters).foreach { _ =>
      val contrib = edges
        .join(r.select(col("node").as("src"), col("r")), "src")
        .select(col("dst"), graft.Q.intDiv(col("r"), col("d")).as("c"))
      val in = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"), col("s"))
      r = nodes.join(in, Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) +
           graft.Q.intDiv(coalesce(col("s"), lit(0L)) * 85L, lit(100L))).as("r"))
        .localCheckpoint(true)
    }
    edges.unpersist(blocking = false)
    r
  }

  /** Transpose: (i,j,v) → (j,i,v). Pure projection — no shuffle. */
  def transpose(a: DataFrame): DataFrame =
    a.select(col("j").as("i"), col("i").as("j"), col("v"))

  /** Element-wise A + B with zero-fill (full outer join on the cell key). */
  def add(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("i"), col("j"), col("v").as("va"))
    val r = b.select(col("i"), col("j"), col("v").as("vb"))
    l.join(r, Seq("i", "j"), "full_outer")
      .select(col("i"), col("j"),
        (coalesce(col("va"), lit(0L)) + coalesce(col("vb"), lit(0L))).as("v"))
  }

  /** Scalar multiply αA — narrow projection. */
  def scale(a: DataFrame, alpha: Long): DataFrame =
    a.select(col("i"), col("j"), (col("v") * alpha).as("v"))

  /** trace(A) = Σ A[i,i]. */
  def trace(a: DataFrame): DataFrame =
    a.filter(col("i") === col("j")).agg(sum(col("v")).as("trace"))

  /** Σ A[i,j]² — exact integer Frobenius norm squared. */
  def sumsq(a: DataFrame): DataFrame =
    a.agg(sum(col("v") * col("v")).as("sumsq"))
}

/** Deterministic formula-generated COO matrices.
  *
  * The reference's fixtures are random integer matrices valued 0..99
  * (`test/test.py:42-43`); for the oracle gate we need matrices both Spark
  * and DuckDB can construct bit-identically, so entries follow an affine
  * formula over the cell coordinates: v = (i·fa + j·fb + fc) mod m.
  */
object MatrixGen {
  def formula(spark: SparkSession, rows: Long, cols: Long,
              fa: Long, fb: Long, fc: Long, mod: Long): DataFrame = {
    val i = spark.range(rows).select(col("id").as("i"))
    val j = spark.range(cols).select(col("id").as("j"))
    i.crossJoin(j)
      .select(col("i"), col("j"),
        ((col("i") * fa + col("j") * fb + fc) % mod).as("v"))
  }

  /** A-side standard test matrix (values 0..96, contains exact zeros). */
  def matA(spark: SparkSession, rows: Long, cols: Long): DataFrame =
    formula(spark, rows, cols, 31, 17, 7, 97)

  /** B-side standard test matrix (values 0..88). */
  def matB(spark: SparkSession, rows: Long, cols: Long): DataFrame =
    formula(spark, rows, cols, 13, 23, 5, 89)

  /** DuckDB CTE text for the same matrices — shared by every matrix oracle. */
  def duckA(name: String, rows: Long, cols: Long): String =
    s"$name AS (SELECT i.range AS i, j.range AS j, (i.range*31 + j.range*17 + 7) % 97 AS v FROM range($rows) i, range($cols) j)"
  def duckB(name: String, rows: Long, cols: Long): String =
    s"$name AS (SELECT i.range AS i, j.range AS j, (i.range*13 + j.range*23 + 5) % 89 AS v FROM range($rows) i, range($cols) j)"
}
