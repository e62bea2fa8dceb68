package graft.perfbench

import graft.Engine
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the harness's one result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** Largest heap occupancy seen right after any garbage collection. */
object Heap {
  @volatile var peakBytes = 0L

  def install(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peakBytes = math.max(peakBytes, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** Host speed probe: the same fixed compute and memory work on every core
  * at once. The CPU time it takes tracks how fast an instruction runs on
  * this host right now (clock, shared caches, memory bandwidth), which on a
  * shared host drifts by tens of percent within minutes. Time its threads
  * wait for a core is not in it.
  */
object Calibration {
  private val n = 160
  private val mem = Array.tabulate(1 << 21)(_.toLong)
  @volatile private var sink = 0L

  private def work(seed: Int): Long = {
    val a = Array.tabulate(n * n)(i => ((i * 31 + seed) % 97).toLong)
    val b = Array.tabulate(n * n)(i => ((i * 17 + seed) % 89).toLong)
    val c = new Array[Long](n * n)
    var rep = 0
    while (rep < 32) {
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) {
          val x = a(i * n + j)
          var k = 0
          while (k < n) { c(i * n + k) += x * b(j * n + k); k += 1 }
          j += 1
        }
        i += 1
      }
      rep += 1
    }
    var s = 0L
    var p = seed
    var r = 0
    while (r < (1 << 23)) { s += mem(p); p = (p + 4099) & (mem.length - 1); r += 1 }
    c(n + 1) + s
  }

  /** CPU seconds per thread for `threads` threads doing one unit of work
    * each at once.
    */
  def sample(threads: Int): Double = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until threads).map(t => new Thread(() => {
      val c0 = bean.getCurrentThreadCpuTime
      val v = work(t)
      sink += v
      cpuNs.addAndGet(bean.getCurrentThreadCpuTime - c0)
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    cpuNs.get / 1e9 / threads
  }
}

/** The host's CPU time counters (`/proc/stat`, all CPUs), in jiffies. */
final case class CpuStat(busy: Long, steal: Long) {
  /** Share of the CPU time this guest's CPUs wanted since `from` that the
    * hypervisor gave to others; 0 without `/proc/stat`.
    */
  def stolenSince(from: CpuStat): Double = {
    val b = busy - from.busy
    val s = steal - from.steal
    if (b + s > 0) s.toDouble / (b + s) else 0.0
  }
}

object CpuStat {
  def read(): CpuStat =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      // user nice system idle iowait irq softirq steal
      CpuStat(v(0) + v(1) + v(2) + v(5) + v(6), if (v.length > 7) v(7) else 0L)
    } catch { case _: Exception => CpuStat(0L, 0L) }
}

final case class OpRun(k: Int, traced: Boolean, wallS: Double, cpuS: Double, stolen: Double,
                       startMs: Long, endMs: Long, error: Option[String])

/** Runs one workload: set-up, timed from JVM start, then one cold op and
  * `warm` warm ops. A traced run alternates traced and untraced warm ops so
  * the tracing overhead is measured in the same process.
  */
final class Runner(conf: Map[String, String]) {
  val workload: String = conf("workload")
  val seed: Long = conf("seed").toLong
  val warmOps: Int = conf("warm").toInt
  val traced: Boolean = conf("trace") == "1"
  val cores: Int = conf("cores").toInt
  val work: String = conf("work")
  val rec = new Recorder

  val wl: Workload = workload match {
    case "gemm_dense" => new GemmDense(conf("gemm_n").toInt, seed)
    case "query_mix" =>
      new QueryMix(conf("data"), s"$work/data", s"$work/mix", conf("gates").split(",").toSeq, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def build(): SparkSession = {
    val s = Engine.configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.driver.host", "localhost")
        .config("spark.driver.bindAddress", "127.0.0.1")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(rec.sparkListener)
    if (traced) {
      s.listenerManager.register(rec.queryListener)
      s.streams.addListener(rec.streamListener)
    }
    s
  }

  var spark: SparkSession = _
  val ops = mutable.ArrayBuffer.empty[OpRun]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 1
  private def sid(): Int = { val i = nextSpan; nextSpan += 1; i }

  /** Builds op `k`'s span tree: op → gate/phase/probe → streaming batch →
    * SQL execution → job → stage. A child belongs to the deepest span whose
    * interval holds its start.
    */
  private def opSpans(k: Int, name: String, t0: Long, t1: Long, subs: Subs): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    val op = Span(sid(), 0, k, "op", name, t0, t1)
    out += op
    // A sub-span nests in the narrowest other sub-span that holds it.
    val subSpans = mutable.ArrayBuffer.empty[Span]
    subs.spans.sortBy { case (_, _, s, e) => s - e }.foreach { case (kind, n, s, e) =>
      val p = subSpans.filter(x => x.start <= s && e <= x.end).sortBy(_.dur).headOption
      subSpans += Span(sid(), p.fold(op.id)(_.id), k, kind, n, s, e)
    }
    out ++= subSpans
    def holder(t: Long, in: Seq[Span]): Option[Span] =
      in.filter(s => s.start <= t && t <= s.end).sortBy(_.dur).headOption
    val batchSpans = rec.batchesOf(k).map { b =>
      val p = holder(b.start, subSpans.toSeq).getOrElse(op)
      Span(sid(), p.id, k, "batch", b.query, b.start, b.start + b.durMs)
    }
    out ++= batchSpans
    val sqls = rec.sqlsOf(k)
    val sqlSpan = mutable.HashMap.empty[Long, Span]
    sqls.filter(q => q.root == q.id || !sqls.exists(_.id == q.root)).foreach { q =>
      val p = holder(q.start, batchSpans).orElse(holder(q.start, subSpans.toSeq)).getOrElse(op)
      sqlSpan(q.id) = Span(sid(), p.id, k, "sql", s"sql ${q.id} ${q.tag}".trim, q.start, q.end)
    }
    sqls.filterNot(q => sqlSpan.contains(q.id)).foreach { q =>
      sqlSpan(q.id) = Span(sid(), sqlSpan(q.root).id, k, "sql", s"sql ${q.id}", q.start, q.end)
    }
    out ++= sqlSpan.values.toSeq.sortBy(_.start)
    val jobs = rec.jobsOf(k)
    val jobSpan = jobs.map { j =>
      val p = sqlSpan.get(j.sqlId)
        .orElse(holder(j.start, batchSpans)).orElse(holder(j.start, subSpans.toSeq))
        .getOrElse(op)
      j.id -> Span(sid(), p.id, k, "job", s"job ${j.id}", j.start, j.end)
    }.toMap
    out ++= jobs.map(j => jobSpan(j.id))
    rec.stagesOf(k).foreach { st =>
      val p = jobs.find(_.stageIds.contains(st.id)).map(j => jobSpan(j.id)).getOrElse(op)
      out += Span(sid(), p.id, k, "stage", s"stage ${st.id}.${st.attempt} ${st.name}",
        st.submit, st.complete)
    }
    out.toSeq
  }

  /** Layer self times of one op, by span kind, in seconds. */
  private def attribution(tree: Seq[Span]): Map[String, Double] =
    Spans.selfByKind(tree, tree.head).map { case (kind, ms) => kind -> ms / 1e3 }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def commonLayers(k: Int, run: OpRun): Map[String, Double] = {
    val st = rec.stagesOf(k)
    val jobs = rec.jobsOf(k)
    val plans = rec.plansOf(k)
    val batches = rec.batchesOf(k)
    val wallMs = (run.endMs - run.startMs).toDouble
    val longest = if (st.isEmpty) None else Some(st.maxBy(s => s.complete - s.submit))
    val skew = longest.map { s =>
      val t = s.taskRunMs.sorted
      val med = if (t.isEmpty) 0.0 else median(t.map(_.toDouble).toSeq)
      if (med > 0) t.last / med else 1.0
    }.getOrElse(1.0)
    def dur(key: String) = batches.map(_.durations.getOrElse(key, 0L)).sum / 1e3
    val stateRows = batches.groupBy(_.query).values.map(_.maxBy(_.start).stateRows).sum
    Map(
      "driver.plan_s" -> plans.map(_.planMs).sum / 1e3,
      "driver.outside_jobs_s" ->
        (wallMs - Spans.covered(jobs.map(j => (j.start, j.end)), run.startMs, run.endMs)) / 1e3,
      "driver.jobs" -> jobs.size.toDouble,
      "driver.stages" -> st.size.toDouble,
      "driver.tasks" -> st.map(_.taskRunMs.size).sum.toDouble,
      "executor.run_s" -> st.map(_.runMs).sum / 1e3,
      "executor.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "executor.cpu_util" -> run.cpuS / (run.wallS * cores),
      "executor.task_skew" -> skew,
      "exchange.write_bytes" -> st.map(_.swBytes).sum.toDouble,
      "exchange.read_bytes" -> st.map(_.srBytes).sum.toDouble,
      "exchange.records" -> st.map(_.swRecords).sum.toDouble,
      "exchange.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
      "exchange.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3,
      "scan.bytes" -> st.map(_.inBytes).sum.toDouble,
      "scan.rows" -> st.map(_.inRecords).sum.toDouble,
      "io.bytes_written" -> st.map(_.outBytes).sum.toDouble,
      "io.files_written" -> plans.map(_.filesWritten).sum.toDouble,
      "stream.batches" -> batches.size.toDouble,
      "stream.planning_s" -> dur("queryPlanning"),
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.wal_commit_s" -> (dur("walCommit") + dur("commitOffsets")),
      "stream.state_commit_s" -> batches.map(_.stateCommitMs).sum / 1e3,
      "stream.state_rows" -> stateRows.toDouble)
  }

  private def attrLayers(a: Map[String, Double]): Map[String, Double] = {
    def g(ks: String*) = ks.map(a.getOrElse(_, 0.0)).sum
    Map("attr.driver_s" -> g("op", "gate", "phase"), "attr.sql_s" -> g("sql"),
        "attr.stream_batch_s" -> g("batch"), "attr.scheduler_s" -> g("job"),
        "attr.stages_s" -> g("stage"))
  }

  private var probeId = 1000

  /** One traced call outside the ops (a per-layer probe): wall s, CPU s. */
  def probe(name: String)(body: SparkSession => Unit): (Double, Double) = {
    val k = probeId; probeId += 1
    rec.op = k
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    body(spark)
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    rec.drain(); rec.op = -1
    spans ++= opSpans(k, s"probe $name", t0, t1, new Subs).map {
      case s if s.kind == "op" => s.copy(kind = "probe")
      case s => s
    }
    (wall, rec.cpuSeconds(k))
  }

  def run(): String = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val stat0 = CpuStat.read()
    Heap.install()
    val s0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    spark = build()
    val sessionS = (System.nanoTime() - n0) / 1e9
    wl.stage(spark)
    val t1 = System.currentTimeMillis()
    val setupS = (t1 - jvmStart) / 1e3
    val setupStolen = CpuStat.read().stolenSince(stat0)
    spans += Span(sid(), 0, -1, "setup", "setup", jvmStart, t1)
    spans += Span(sid(), spans.last.id, -1, "session", "session", s0,
      s0 + (sessionS * 1e3).toLong)
    wl.prepare(spark)
    rec.drain()
    // Calibration: three samples to compile the loop, then three before every
    // op; one sample is 0.2 s and alone varies by ±15%.
    (0 until 3).foreach(_ => Calibration.sample(cores))
    val calib = mutable.ArrayBuffer.empty[Double]

    val layerRuns = mutable.ArrayBuffer.empty[(OpRun, Map[String, Double], Map[String, Double])]
    rec.sqlTagger = wl.sqlTagger
    rec.planFacts = wl.planFacts
    for (k <- 0 to warmOps) {
      val tracedOp = traced && (k == 0 || k % 2 == 1)
      rec.traced = tracedOp
      calib ++= (0 until 3).map(_ => Calibration.sample(cores))
      val subs = new Subs
      rec.op = k
      val t0 = System.currentTimeMillis()
      subs.opStart = t0
      val st0 = CpuStat.read()
      val n0 = System.nanoTime()
      val (out, err) =
        try (wl.op(spark, k, subs), None)
        catch { case e: Throwable => (null, Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))) }
      val wall = (System.nanoTime() - n0) / 1e9
      val stolen = CpuStat.read().stolenSince(st0)
      val t1 = System.currentTimeMillis()
      rec.drain()
      rec.op = -1
      val checked = err.orElse(
        try wl.check(spark, k, out)
        catch { case e: Throwable => Some(s"check failed: ${e.getClass.getName}: ${e.getMessage}".take(500)) })
      val run = OpRun(k, tracedOp, wall, rec.cpuSeconds(k), stolen, t0, t1, checked)
      ops += run
      if (tracedOp && checked.isEmpty) {
        val extra = wl.layers(spark, rec, k, subs)
        val tree = opSpans(k, s"op $k", t0, t1, subs)
        spans ++= tree
        val attr = attribution(tree)
        layerRuns += ((run, commonLayers(k, run) ++ attrLayers(attr) ++ extra, attr))
      } else if (traced) spans ++= opSpans(k, s"op $k (untraced)", t0, t1, subs)
      rec.drain()
      checked.foreach(m => System.err.println(s"[perfbench] op $k failed: $m"))
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "describe" -> wl.describe,
      "setup_s" -> setupS, "session_s" -> sessionS, "setup_stolen" -> setupStolen,
      "peak_heap_mb" -> Heap.peakBytes / 1048576.0,
      "calib_cpu_s" -> calib.toSeq,
      "ops" -> ops.map(o => Map("k" -> o.k, "traced" -> o.traced, "wall_s" -> o.wallS,
        "cpu_s" -> o.cpuS, "stolen" -> o.stolen, "error" -> o.error)))

    if (traced) {
      val warm = layerRuns.filter(_._1.k > 0)
      val pick = if (warm.nonEmpty) warm else layerRuns
      val keys = pick.flatMap(_._2.keys).distinct
      val layers = mutable.LinkedHashMap[String, Double]("engine.session_s" -> sessionS)
      keys.sorted.foreach(key => layers(key) = median(pick.map(_._2.getOrElse(key, 0.0)).toSeq))
      if (ops.forall(_.error.isEmpty))
        layers ++= wl.probes(this, median(pick.map(_._1.wallS).toSeq), median(pick.map(_._1.cpuS).toSeq))
      result("layers") = layers
      // Attribution of the median traced warm op: self time per span kind.
      val byWall = pick.sortBy(_._1.wallS)
      if (byWall.nonEmpty) {
        val mid = byWall((byWall.size - 1) / 2)
        result("attribution") = Map("op" -> mid._1.k, "op_s" -> mid._1.wallS,
          "self_s" -> mid._3)
      }
      spans += Span(0, -1, -1, "workload", workload, jvmStart, System.currentTimeMillis())
      val spanFile = new File(conf("spans"))
      spanFile.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(spanFile, "UTF-8")
      try spans.foreach { s =>
        w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
      } finally w.close()
      result("spans_file") = spanFile.getPath
    }
    Json(result)
  }
}

object Runner {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Entry point: `--key value` pairs; prints one `PERFBENCH {json}` line. */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val runner = new Runner(conf)
    val line = try runner.run() finally if (runner.spark != null) runner.spark.stop()
    println("PERFBENCH " + line)
    System.out.flush()
    sys.exit(0)
  }
}
