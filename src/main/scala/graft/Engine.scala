package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session factory with the engine's standard configuration.
  *
  * Design posture (SURVEY.md §3.2/§4.2): declarative DataFrame plans, AQE on
  * (runtime partition coalescing + skew-join splitting — the at-scale answer to
  * the reference's hardcoded `n//10` chunking, reference
  * `orchestrator/main.py:47-48`), UTC session timezone for oracle parity.
  */
object Engine {

  /** Apply the engine's standard config to a builder. Callers choose master. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Small dims (region/nation/...) must broadcast; default 10 MB is right,
    // stated explicitly because the relational suite depends on it.
    .config("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    // Spark 4.1's checksummed checkpoint writer leaks parked executor
    // threads in local mode: StateStoreSaveExec commits block forever in
    // ChecksumCancellableFSDataOutputStream.close awaiting a checksum
    // future that never completes after the streaming query stops. Each
    // leaked thread holds a task slot, progressively starving every later
    // query in the session (observed: >300 s stalls). Plain rename-based
    // checkpointing is correct for our bounded state; disable checksums.
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // The events fixture stores ts as Parquet TIMESTAMP(NANOS), which the
    // vectorized reader rejects; read nanos as LONG session-wide (only the
    // events table carries nanos, and Tables.withEventTime re-types it).
    // Set here, not as a read-time side effect in the loader.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // Spark's JVM-wide cache of generated classes defaults to 100 entries,
    // fewer than one perfbench query_mix pass generates (~146), so its LRU
    // missed on every reuse and each warm pass recompiled them all. With an
    // unbounded cache (maxEntries=0), one full graft.Verify on local[4]
    // compiles 3,246 distinct classes at sf0.001 and 3,226 at sf0.01 (2,869
    // and 2,885 once the isolation below is off), at most 77 in one gate;
    // 4096 is the next power of two. Static conf: the first codegen in a
    // JVM fixes the cache size.
    .config("spark.sql.codegen.cache.maxEntries", 4096)
    // The cache is keyed on the compiling thread's class loader as well.
    // Each streaming query runs in a clone of the session, and with
    // per-session artifact isolation the clone's tasks get a class loader
    // of their own, so every stream run recompiled its classes (21 per
    // s3_session_stream run). The engine adds no per-session jars or
    // files, so the isolation guards nothing here.
    .config("spark.sql.artifact.isolation.enabled", "false")
    // Local files go through the engine's fork-free `file:` filesystem
    // (sources/LocalFs.scala). Without native libhadoop the stock one forks
    // a `chmod` per mkdir and file create and a `readlink` per
    // getFileLinkStatus: a JFR recording of one perfbench query_mix run
    // counted 943 started processes (481 chmod, 448 readlink, the readlinks
    // all from s3's checkpoint and state-store commits); with this
    // filesystem it counts 9, none of them Hadoop's.
    // Two keys, because Hadoop resolves `file:` twice: `fs.file.impl` for
    // FileSystem (Parquet sinks and sources, the commit protocol) and
    // `fs.AbstractFileSystem.file.impl` for FileContext (streaming
    // checkpoints and the state store). FileSystem's cache is keyed on
    // scheme and user, not on conf, so the first `file:` instance in a JVM
    // wins: both must be set here, before the session's first FileSystem.get.
    .config("spark.hadoop.fs.file.impl",
      classOf[graft.sources.ForkFreeLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.sources.ForkFreeLocalFs].getName)

  /** Apply `spec`, by default `SPARK_GRAFT_CONF="k=v,k=v"`, as session-conf
    * overrides — the probe, bench and verify harnesses' shared mechanism
    * for forcing non-default paths
    * (`spark.graft.dedup.attachBroadcastCap=0` for past-cap fallback runs,
    * `spark.graft.dedup.pairSpreadMinDocs=0` to force the verify spread
    * on). Values containing ',' cannot be expressed (no probed conf needs
    * one); empty segments (trailing comma) are skipped; a segment without
    * '=' fails loudly with the offending text instead of an opaque
    * MatchError (r10 ADVICE). A `spark.graft.*` pair must name a
    * [[GraftConf]] key and hold a value in its range, or this fails
    * naming the key before any pair is set: a misspelled knob would
    * otherwise be set and never read. Returns the overrides applied, for
    * run-header logging.
    */
  def applyConfOverrides(spark: SparkSession,
      spec: String = sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
      : Seq[(String, String)] = {
    val pairs = spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val parts = kv.split("=", 2)
      require(parts.length == 2 && parts(0).nonEmpty,
        s"bad SPARK_GRAFT_CONF override (expected key=value): '$kv'")
      GraftConf.validate(parts(0), parts(1))
      (parts(0), parts(1))
    }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    pairs
  }

  /** Run `body` with the session conf pairs `kvs` set, then restore each
    * key to its prior value, or unset it if it was unset, also when `body`
    * throws.
    *
    * CONCURRENCY CONTRACT: the set/restore mutates the SHARED session
    * conf non-atomically, so scoped bodies must not run concurrently on
    * one SparkSession: interleaved scopes could leak a scoped value or
    * restore a stale one (r9 ADVICE). This matches how the engine runs
    * them (Verify/Bench execute queries serially); a caller that needs
    * concurrency should give each pipeline its own `spark.newSession()`
    * (per-session conf, shared state untouched).
    */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val conf = spark.sessionState.conf // explicit settings, not defaults
    val prior = kvs.map { case (k, _) =>
      k -> Option.when(conf.contains(k))(conf.getConfString(k))
    }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Register every fixture table under `dir` as a temp view, making
    * `spark.sql(...)` a first-class entry point (SURVEY.md §3.2 entry
    * point 2). View names are the table names (`lineitem`, `orders`, ...).
    *
    * Idempotent per (session, dir): re-registration is skipped when this
    * session already has views for the same dir (the marker lives in the
    * session conf, so cloned/new sessions re-register as they must).
    * Ten parquet loads per `sql(...)` call was pure per-query overhead.
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    val marker = "graft.views.dir"
    if (spark.conf.getOption(marker).contains(dir)) return
    Tables.names.foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(n)
    }
    spark.conf.set(marker, dir)
  }

  /** SQL entry point: register views for `dir`, then run the statement. */
  def sql(spark: SparkSession, dir: String, statement: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(statement)
  }

  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", shufflePartitions)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Loaders for the driver-generated tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema inferred once per file set.
    *
    * Without a schema, every `spark.read.parquet` call runs a one-task job
    * that reads a footer (`ParquetFileFormat.mergeSchemasInParallel`), even
    * for a single file, so a warm pass paid a Spark job per table load
    * before any of its own work. This keeps each inferred `StructType` and
    * reads with `spark.read.schema(s)`, which starts no job.
    *
    * The memo key is the path, the session's explicitly set
    * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` entries (they
    * change what inference returns: `nanosAsLong`, `binaryAsString`,
    * `inferTimestampNTZ.enabled`, ...), and the `path|len|mtime` of every
    * file under the path ([[files]]): a file set rewritten under the same
    * path is inferred afresh. One entry is kept per path and conf set, so
    * rewrites replace their entry instead of growing the memo. A schema
    * read with `spark.read.schema` is marked nullable exactly as an
    * inferred one is, so both reads plan the same relation.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val (key, listing) = schemaKey(spark, path)
    val schema = Option(schemas.get(key)).collect { case (l, s) if l == listing => s }
      .getOrElse {
        val s = spark.read.parquet(path).schema
        schemas.put(key, (listing, s))
        s
      }
    spark.read.schema(schema).parquet(path)
  }

  /** Write `df` to `path` as Parquet, replacing what is there, and record
    * the written schema as the [[parquet]] memo entry of the new files: a
    * rewritten file set would miss the memo, so its first reader would
    * otherwise run the schema job this write already knows the answer to.
    * The entry is `df`'s schema, which Spark also keeps in the footers it
    * writes; a read marks it nullable as it marks an inferred one.
    */
  def writeParquet(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").parquet(path)
    val (key, listing) = schemaKey(df.sparkSession, path)
    schemas.put(key, (listing, df.schema))
  }

  /** (path and parquet confs) -> (file listing, schema); see [[parquet]]. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[String], StructType)]()

  private def schemaKey(spark: SparkSession, path: String): (String, Seq[String]) = {
    val confs = spark.sessionState.conf.getAllConfs.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted.map { case (k, v) => s"$k=$v" }
    ((path +: confs).mkString("\n"), files(spark, path))
  }

  /** `path|len|mtime` of every file under `path` (the path itself when it
    * is a file), sorted. A recursive `listStatus`, not `listFiles`: the
    * located statuses `listFiles` builds read each file's owner and
    * permission, which the local filesystem gets by forking `ls -ld` per
    * file.
    */
  def files(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap { f =>
      if (f.isDirectory) walk(f.getPath) else Seq(f)
    }
    walk(root).map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").sorted
  }

  /** Scale-adaptive spread for a CPU-heavy first stage over a narrow scan
    * (optimization guide §2.5, "input skew … repartition immediately after
    * the read"). A small table arrives as one file / one row group, so its
    * scan yields a single split and everything pipelined into it — explode,
    * shingling, hashing, per-row scoring — runs on one core while the rest
    * of the session idles (measured: the l34 bigram explode+aggregate
    * 2.9 s single-split vs 0.55 s spread at sf0.1). Round-robin repartition
    * to the session's parallelism when, and only when, the plan is narrower
    * than that: a production-scale table already scans as >= cores splits,
    * so this never adds a data-sized shuffle where the scan parallelizes by
    * itself. Round-robin (not hash-by-key) keeps per-partition balance and,
    * with Spark's default sort-before-repartition, is deterministic under
    * task retry for deterministic inputs such as these scans.
    *
    * Callers must only use it where downstream results are independent of
    * row order/placement (counts, mins, sorted aggregates) — every gated
    * consumer is, and the oracle hash checks pin that.
    */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // unbounded frames size their own batches
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (scanWidth(df) < p) df.repartition(p) else df
  }

  /** Estimated scan parallelism of `df`'s file-source leaves, WITHOUT
    * planning the frame (r15 VERDICT item 7 / ADVICE: the previous
    * `df.rdd.getNumPartitions` probe instantiated a throwaway physical
    * plan per call — double planning on every gated operator — and with
    * AQE would eagerly EXECUTE upstream stages if a caller ever passed a
    * plan containing an exchange). This reads the analyzed plan's
    * `HadoopFsRelation` leaves and replays Spark's own split arithmetic
    * (`FilePartition.maxSplitBytes`: maxSplit = min(maxPartitionBytes,
    * max(openCostInBytes, totalBytes/minPartitionNum)), files padded with
    * the open cost and greedily packed) from the file index's cached
    * listing — metadata the driver already holds; no QueryExecution, no
    * jobs. The packing estimate ceil(totalCost/maxSplit) is within ±1 of
    * the true count at the extremes the DECISION cares about: a single
    * small fixture file estimates 1–2 (≪ cores ⇒ spread fires) and a
    * production-scale table estimates ≥ minPartitionNum ≥ cores (⇒ strict
    * no-op), so estimate slop never changes which regime a scan lands in.
    * Widths of multiple file leaves SUM (a union of narrow scans is as
    * narrow as the sum, matching the old probe). Plans with NO file leaf
    * (cached/local relations — no current call site, spread wraps
    * scan-rooted narrow plans per the contract above) keep the old
    * `.rdd` probe as the fallback.
    */
  private def scanWidth(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val session = df.sparkSession
    val conf = session.sessionState.conf
    val fileLeaves = df.queryExecution.analyzed.collectLeaves().collect {
      // type-test, not a constructor pattern: LogicalRelation's arity has
      // changed across Spark releases and only the relation field matters.
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation]
    }
    if (fileLeaves.isEmpty) return df.rdd.getNumPartitions
    val widths = fileLeaves.map { fs =>
      val openCost = conf.filesOpenCostInBytes
      val totalCost = fs.location.listFiles(Nil, Nil)
        .iterator.flatMap(_.files).map(_.getLen + openCost).sum
      val minParts = conf.filesMinPartitionNum
        .getOrElse(session.sparkContext.defaultParallelism).max(1)
      val maxSplit = math.min(conf.filesMaxPartitionBytes,
        math.max(openCost, totalCost / minParts)).max(1L)
      math.max(1L, (totalCost + maxSplit - 1) / maxSplit)
    }
    math.min(widths.sum, Int.MaxValue.toLong).toInt
  }

  /** The events fixture has shipped `ts` in two physical shapes across
    * testdata generations: Parquet TIMESTAMP(NANOS) — which Spark's
    * vectorized reader rejects outright, hence the session-wide
    * `spark.sql.legacy.parquet.nanosAsLong` in `Engine.configure` reading
    * nanos as LONG — and plain TIMESTAMP(MICROS) without timezone, which
    * Spark reads as TIMESTAMP_NTZ. [[withEventTime]] normalizes either to
    * the same microsecond TimestampType under the UTC session, matching
    * the floor DuckDB's `epoch_us` applies, so oracle parity holds for
    * both generations.
    */
  def loadEventsRaw(spark: SparkSession, dir: String): DataFrame = {
    // Defensive: Engine.configure sets this session-wide, but the loader
    // must also work under a bare SparkSession (r3 ADVICE) — without
    // nanosAsLong the vectorized reader rejects a TIMESTAMP(NANOS)
    // fixture outright. (A legacy schema-conversion flag with no effect
    // on non-nanos files; the timezone-sensitive half of the contract
    // lives in [[withEventTime]], which pins UTC only for the duration
    // of its own analysis — r7 ADVICE: no session-global tz mutation.)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(spark, s"$dir/events.parquet")
  }

  /** Fixture `ts` (nanos LONG or NTZ micros) → microsecond TimestampType.
    * The NTZ→TZ cast re-reads the wall-clock fields in the session
    * timezone. That zone is bound to the Cast at ANALYSIS time
    * (`withColumn` analyzes eagerly, and ResolveTimeZone freezes the
    * session zone into the expression), so pinning UTC around this call
    * alone is sufficient AND side-effect-free: the caller's session
    * timezone is restored before returning, and the returned frame keeps
    * UTC semantics wherever it is later composed or executed.
    */
  def withEventTime(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        Engine.withConf(raw.sparkSession, "spark.sql.session.timeZone" -> "UTC") {
          raw.withColumn("ts", col("ts").cast("timestamp"))
        }
      case _ => raw
    }
  }

  def loadEvents(spark: SparkSession, dir: String): DataFrame =
    withEventTime(loadEventsRaw(spark, dir))
}
