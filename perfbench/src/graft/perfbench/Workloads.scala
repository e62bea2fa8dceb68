package graft.perfbench

import graft.SparkEntry
import graft.operators.{MatrixGen, MatrixOps}
import graft.plans.MatMulStrategy
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Harness-side intervals inside one op (a gate of the mix, a probe call). */
final class Subs {
  var opStart = 0L
  val spans = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  def apply[T](kind: String, name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally spans += ((kind, name, t0, System.currentTimeMillis()))
  }
}

/** Writes `oracle_sql.json` for the named gates, the file the oracle
  * checker (tools/check.py) reads beside their outputs.
  */
object Oracles {
  def write(dir: String, gates: Seq[String]): Unit = {
    val json = gates.map(g => s"${Json.str(g)}: ${Json.str(SparkEntry.oracleSql(g))}")
      .mkString("{", ", ", "}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"), json)
  }
}

/** One benchmark workload. The harness times [[stage]] inside set-up and
  * [[op]] as the measured operation; everything else is untimed.
  */
trait Workload {
  /** Builds the seeded inputs. Runs once per set-up, inside its timing. */
  def stage(spark: SparkSession): Unit
  /** Precomputes what the checks compare against (untimed, once). */
  def prepare(spark: SparkSession): Unit = ()
  /** One op; its output is fully consumed before it returns. */
  def op(spark: SparkSession, k: Int, subs: Subs): Any
  /** None when op `k`'s output is correct, else why it is not. */
  def check(spark: SparkSession, k: Int, out: Any): Option[String]
  /** Seed-derived facts recorded in the run's output. */
  def describe: Map[String, Any]
  /** Workload-specific per-layer metrics of traced op `k`. */
  def layers(spark: SparkSession, rec: Recorder, k: Int, subs: Subs): Map[String, Double] =
    Map.empty
  /** Per-layer metrics measured once per traced run, after the ops, given
    * the median traced op's wall and CPU seconds.
    */
  def probes(run: Runner, opWallS: Double, opCpuS: Double): Map[String, Double] = Map.empty
  def sqlTagger: String => String = _ => ""
  def planFacts: QueryExecution => Map[String, Double] = _ => Map.empty
}

/** gemm_dense: C = A·B for dense n×n LONG matrices from [[MatrixGen.formula]]
  * with seed-chosen coefficients (values 0–99), through the planner-selected
  * multiply. The output is consumed by one aggregate that yields its exact
  * total, its nonzero count and a few seed-chosen rows.
  */
final class GemmDense(n: Int, seed: Long) extends Workload {
  private val rnd = new scala.util.Random(seed)
  private def coef() = 1L + rnd.nextInt(99)
  val ca: (Long, Long, Long) = (coef(), coef(), coef())
  val cb: (Long, Long, Long) = (coef(), coef(), coef())
  val rows: Seq[Long] = Seq.fill(4)(rnd.nextInt(n).toLong).distinct.sorted
  private val mod = 100L
  private var a: DataFrame = _
  private var b: DataFrame = _

  private def av(i: Long, j: Long) = (i * ca._1 + j * ca._2 + ca._3) % mod
  private def bv(j: Long, k: Long) = (j * cb._1 + k * cb._2 + cb._3) % mod

  def stage(spark: SparkSession): Unit = {
    a = MatrixGen.formula(spark, n, n, ca._1, ca._2, ca._3, mod)
    b = MatrixGen.formula(spark, n, n, cb._1, cb._2, cb._3, mod)
  }

  private var expTotal = 0L
  private var expNnz = 0L
  private var expRows = Map.empty[Long, Map[Long, Long]]
  private var nnzA = 0L

  override def prepare(spark: SparkSession): Unit = {
    // Σᵢₖ C = Σⱼ (Σᵢ Aᵢⱼ)(Σₖ Bⱼₖ)
    expTotal = (0 until n).map { j =>
      (0 until n).map(i => av(i, j)).sum * (0 until n).map(k => bv(j, k)).sum
    }.sum
    // Cᵢₖ ≠ 0 iff some j has Aᵢⱼ ≠ 0 and Bⱼₖ ≠ 0 (entries are nonnegative).
    val words = (n + 63) / 64
    def bits(f: Int => Boolean): Array[Long] = {
      val w = new Array[Long](words)
      var j = 0
      while (j < n) { if (f(j)) w(j >> 6) |= 1L << (j & 63); j += 1 }
      w
    }
    val rowA = Array.tabulate(n)(i => bits(j => av(i, j) != 0))
    val colB = Array.tabulate(n)(k => bits(j => bv(j, k) != 0))
    var nnz = 0L
    for (i <- 0 until n; k <- 0 until n) {
      val x = rowA(i); val y = colB(k)
      var w = 0
      var hit = false
      while (!hit && w < words) { hit = (x(w) & y(w)) != 0; w += 1 }
      if (hit) nnz += 1
    }
    expNnz = nnz
    nnzA = rowA.map(_.map(java.lang.Long.bitCount).sum.toLong).sum
    expRows = rows.map { i =>
      i -> (0 until n).map { k =>
        k.toLong -> (0 until n).map(j => av(i, j) * bv(j, k)).sum
      }.filter(_._2 != 0).toMap
    }.toMap
  }

  def op(spark: SparkSession, k: Int, subs: Subs): Any = {
    val c = MatrixOps.multiplyPlanned(a, b)
    c.agg(sum(col("v")).as("total"),
          count(when(col("v") =!= 0, 1)).as("nnz"),
          collect_list(when(col("i").isin(rows: _*),
            struct(col("i"), col("k"), col("v")))).as("rows"))
      .collect().head
  }

  def check(spark: SparkSession, k: Int, out: Any): Option[String] = {
    val r = out.asInstanceOf[org.apache.spark.sql.Row]
    val total = r.getLong(0)
    val nnz = r.getLong(1)
    val got = r.getSeq[org.apache.spark.sql.Row](2)
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .filter(_._3 != 0).groupBy(_._1)
      .map { case (i, cells) => i -> cells.map(c => c._2 -> c._3).toMap }
    val want = expRows.filter(_._2.nonEmpty)
    if (total != expTotal) Some(s"total $total != $expTotal")
    else if (nnz != expNnz) Some(s"nonzero cells $nnz != $expNnz")
    else if (got != want) Some(s"rows ${rows.mkString(",")} differ")
    else None
  }

  def describe: Map[String, Any] = Map("n" -> n,
    "coef_a" -> Seq(ca._1, ca._2, ca._3), "coef_b" -> Seq(cb._1, cb._2, cb._3),
    "mod" -> mod, "checked_rows" -> rows)

  /** Keeps the reference loop's result live. */
  @volatile private var refSink = 0L

  private def bsNow: Int = MatMulStrategy.lastDerived.map(_._3).getOrElse(0)

  override def planFacts: QueryExecution => Map[String, Double] = { qe =>
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val groups = Plans.nodes(qe.executedPlan).filter(_.nodeName == "MapGroups")
    if (groups.isEmpty) Map("block_route" -> 0.0)
    else {
      // The partial-tile exchange feeds the topmost MapGroups (the reduce).
      val partial = Plans.nodes(groups.head).collectFirst {
        case s: ShuffleExchangeExec => Plans.metric(s, "shuffleBytesWritten")
      }.getOrElse(0L)
      Map("block_route" -> 1.0, "partial_tile_bytes" -> partial.toDouble)
    }
  }

  override def layers(spark: SparkSession, rec: Recorder, k: Int,
                      subs: Subs): Map[String, Double] = {
    val facts = rec.plansOf(k).map(_.facts).find(_.contains("block_route"))
      .getOrElse(Map.empty)
    val block = facts.getOrElse("block_route", 0.0)
    val (estN, bs) = MatMulStrategy.lastDerived match {
      case Some((_, en, b)) if block > 0 => (en.toDouble, b)
      case _ => (0.0, 0)
    }
    val grid = if (bs > 0) (n + bs - 1) / bs else 0
    val repl = if (bs > 0) MatMulStrategy.deriveReplication(
      a.queryExecution.analyzed, b.queryExecution.analyzed, bs,
      spark.sparkContext.defaultParallelism,
      MatMulStrategy.replicationHeadroom(spark)) else 0
    Map("matmul.block_route" -> block, "matmul.bs" -> bs.toDouble,
        "matmul.grid" -> grid.toDouble, "matmul.replication" -> repl.toDouble,
        "matmul.est_n" -> estN, "matmul.true_n" -> n.toDouble,
        "matmul.kernel_madds" -> madds(bs),
        "matmul.partial_tile_bytes" -> facts.getOrElse("partial_tile_bytes", 0.0),
        "matmul.partial_tile_bytes_model" ->
          (if (bs > 0) math.pow(n, 3) * 8 / bs else 0.0))
  }

  /** The kernel skips zero A cells and runs every B tile row to width bs;
    * the row-join route multiplies every A cell with a B row.
    */
  private def madds(bs: Int): Double =
    if (bs > 0) nnzA.toDouble * ((n + bs - 1) / bs) * bs else nnzA.toDouble * n

  override def probes(run: Runner, opWallS: Double, opCpuS: Double): Map[String, Double] = {
    val bs = math.max(bsNow, 1)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val gen = run.probe("generate") { _ => noop(a); noop(b) }
    val den = run.probe("densify") { _ =>
      noop(MatrixOps.cooToTiles(a, bs).toDF()); noop(MatrixOps.cooToTiles(b, bs).toDF())
    }
    // Single-threaded JVM reference: the same skip-zero i-k-j loop over a
    // 1000² slice of the same inputs, on plain arrays.
    val m = math.min(n, 1000)
    val aa = Array.tabulate(m * m)(x => av(x / m, x % m))
    val bb = Array.tabulate(m * m)(x => bv(x / m, x % m))
    val cc = new Array[Long](m * m)
    val t0 = System.nanoTime()
    var refMadds = 0L
    var i = 0
    while (i < m) {
      var j = 0
      while (j < m) {
        val x = aa(i * m + j)
        if (x != 0L) {
          var kk = 0
          val ao = i * m; val bo = j * m
          while (kk < m) { cc(ao + kk) += x * bb(bo + kk); kk += 1 }
          refMadds += m
        }
        j += 1
      }
      i += 1
    }
    val refS = (System.nanoTime() - t0) / 1e9
    refSink = cc.sum
    val densifyS = math.max(0.0, den._1 - gen._1)
    // The kernel's CPU is what the op costs beyond generate + densify.
    Map("matmul.generate_s" -> gen._1,
        "matmul.densify_s" -> densifyS,
        "matmul.join_gemm_reduce_s" -> math.max(0.0, opWallS - gen._1 - densifyS),
        "matmul.kernel_gmadds_per_cpu_s" ->
          (if (opCpuS > den._2) madds(bsNow) / 1e9 / (opCpuS - den._2) else 0.0),
        "matmul.ref_1t_gmadds_per_s" -> refMadds / 1e9 / refS)
  }
}

/** query_mix: one pass over declared gates in a seed-permuted order, over a
  * copy of the base tables whose documents carry a seeded a–z letter
  * permutation and doc_id offset (written as one Parquet file, like the
  * fixture, so `Tables.spread` sees the same scan width). Each gate's output
  * is written as Parquet for the checker. `l64_match_artifact` is one
  * [[graft.operators.MatchGraph.rebuild]], whose artifact phases and
  * candidate join the traced run reports.
  */
final class QueryMix(baseDir: String, dataDir: String, outDir: String,
                     gates: Seq[String], seed: Long) extends Workload {
  private val rnd = new scala.util.Random(seed)
  val order: Seq[String] = rnd.shuffle(gates)
  val perm: String = rnd.shuffle(('a' to 'z').toList).mkString
  val offset: Long = 1000L * (1 + rnd.nextInt(1000000))
  private var queries: Map[String, (SparkSession, String) => DataFrame] = _
  private var docs = 0L

  def stage(spark: SparkSession): Unit = {
    val all = SparkEntry.queries
    val missing = order.filterNot(all.contains)
    require(missing.isEmpty, s"unknown gates: ${missing.mkString(", ")}")
    queries = order.map(g => g -> all(g)).toMap
    val tmp = s"$dataDir/.documents"
    spark.read.parquet(s"$baseDir/documents.parquet")
      .withColumn("text", translate(col("text"), ('a' to 'z').mkString, perm))
      .withColumn("doc_id", col("doc_id") + offset)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one staged part file, got ${part.length}")
    java.nio.file.Files.move(part.head.toPath,
      new java.io.File(dataDir, "documents.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Runner.deleteTree(new java.io.File(tmp))
  }

  override def prepare(spark: SparkSession): Unit =
    docs = spark.read.parquet(s"$dataDir/documents.parquet").count()

  private def passDir(k: Int) = s"$outDir/pass$k"

  def op(spark: SparkSession, k: Int, subs: Subs): Any = {
    order.foreach { g =>
      subs("gate", g) {
        queries(g)(spark, dataDir).write.mode("overwrite").parquet(s"${passDir(k)}/$g")
      }
    }
    passDir(k)
  }

  /** Pass 0's outputs get an `oracle_sql.json` for the oracle checker; the
    * checker then compares pass 0 with the oracles and every later pass with
    * pass 0.
    */
  def check(spark: SparkSession, k: Int, out: Any): Option[String] = {
    if (k == 0) Oracles.write(passDir(0), order)
    None
  }

  def describe: Map[String, Any] = Map("gate_order" -> order, "gates" -> order.size,
    "docs" -> docs, "doc_id_offset" -> offset, "letter_permutation" -> perm)

  /** The match-graph artifact write a SQL execution performs, named by its
    * output path.
    */
  private val phaseRe =
    "(?:InsertIntoHadoopFsRelationCommand|Arguments:)\\s+\\S*/match-[^/\\s]*/(rep_pairs|pairs|components),".r

  override def sqlTagger: String => String =
    plan => phaseRe.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")

  /** The candidate join is the prefix self-join (both inputs scan the same
    * cached relation, and it pairs documents `da` and `db`); the verified
    * pairs are the rows of the `rep_pairs` write.
    */
  override def planFacts: QueryExecution => Map[String, Double] = { qe =>
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def cached(p: SparkPlan) =
      Plans.nodes(p).collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder }.toSet
    val nodes = Plans.nodes(qe.executedPlan)
    val candidates = nodes.collect {
      case j: BaseJoinExec if Set("da", "db").subsetOf(j.output.map(_.name).toSet) &&
          (cached(j.left) intersect cached(j.right)).nonEmpty =>
        "candidate_rows" -> Plans.metric(j, "numOutputRows").toDouble
    }
    val verified = nodes.collect {
      case w: DataWritingCommandExec if (w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName == "rep_pairs"
        case _ => false
      }) => "verified_pairs" -> w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L).toDouble
    }
    (candidates.sortBy(_._2) ++ verified).toMap
  }

  override def layers(spark: SparkSession, rec: Recorder, k: Int,
                      subs: Subs): Map[String, Double] = {
    val facts = rec.plansOf(k).map(_.facts)
    val cand = (0.0 +: facts.flatMap(_.get("candidate_rows"))).max
    val verified = (0.0 +: facts.flatMap(_.get("verified_pairs"))).max
    // Artifact phase i runs from the end of phase i-1's write (or the l64
    // gate's start) to the end of its own.
    val ends = rec.sqlsOf(k).filter(_.tag.nonEmpty).groupBy(_.tag)
      .map { case (t, xs) => t -> xs.map(_.end).max }.toSeq.sortBy(_._2)
    var prev = subs.spans.find(_._2 == "l64_match_artifact").map(_._3).getOrElse(subs.opStart)
    val phases = ends.map { case (t, e) =>
      subs.spans += (("phase", t, prev, e))
      val d = (e - prev) / 1e3
      prev = e
      s"match.${t}_s" -> d
    }.toMap
    subs.spans.filter(_._1 == "gate").map(s => s"mix.${s._2}_s" -> (s._4 - s._3) / 1e3).toMap ++
      phases ++
      Map("match.candidate_rows" -> cand, "match.verified_pairs" -> verified,
          "match.verify_yield" -> (if (cand > 0) verified / cand else 0.0))
  }
}
