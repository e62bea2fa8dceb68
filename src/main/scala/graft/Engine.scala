package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** Apply `SPARK_GRAFT_CONF="k=v,k=v"` session-conf overrides — the probe
    * and bench harnesses' shared mechanism for forcing non-default paths
    * (`spark.graft.dedup.attachBroadcastCap=0` for past-cap fallback runs,
    * `spark.graft.dedup.pairSpread=off` for the 1× spread A/B). Values
    * containing ',' cannot be expressed (no probed conf needs one); empty
    * segments (trailing comma) are skipped; a segment without '=' fails
    * loudly with the offending text instead of an opaque MatchError
    * (r10 ADVICE). Returns the overrides applied, for run-header logging.
    */
  def applyConfOverrides(spark: SparkSession): Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(
      _.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
        val parts = kv.split("=", 2)
        require(parts.length == 2 && parts(0).nonEmpty,
          s"bad SPARK_GRAFT_CONF override (expected key=value): '$kv'")
        spark.conf.set(parts(0), parts(1))
        (parts(0), parts(1))
      })

  /** A numeric `spark.graft.*` setting, `None` when unset. A malformed
    * value fails here with its key named, never as a bare
    * NumberFormatException mid-query or a silent fall-back to a default.
    */
  def confLong(spark: SparkSession, key: String): Option[Long] =
    spark.conf.getOption(key).map(raw => raw.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"$key must be an integer, got '$raw'")))

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
    else spark.read.parquet(s"$dir/$name.parquet")

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
    spark.read.parquet(s"$dir/events.parquet")
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
        val spark = raw.sparkSession
        val prior = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try raw.withColumn("ts", col("ts").cast("timestamp"))
        finally spark.conf.set("spark.sql.session.timeZone", prior)
      case _ => raw
    }
  }

  def loadEvents(spark: SparkSession, dir: String): DataFrame =
    withEventTime(loadEventsRaw(spark, dir))
}
