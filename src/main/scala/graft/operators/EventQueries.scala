package graft.operators

import graft.{Engine, Gate, Q, Scratch, Tables}
import graft.functions.TextFunctions
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** J/S queries over the `events` table (SURVEY.md §2.2).
  *
  * Batch forms here are the hash-gated declarations; the streaming forms live
  * in [[graft.streaming.EventStreams]] and must converge to the same final
  * state (verified by s4, which executes a genuine Structured Streaming query
  * over the parquet source and hashes its complete-mode result, and by
  * MemoryStream unit specs for late/out-of-order data).
  */
object EventQueries {

  private def ev(s: SparkSession, d: String) = Tables.load(s, d, "events")

  /** Unbounded view of the events fixture: readStream over the same
    * parquet (raw nanos-LONG schema, pathGlobFilter to pin the file),
    * re-typed to microsecond timestamps exactly like the batch loader —
    * the entry point for every streaming-gated query below.
    */
  private def evStream(s: SparkSession, d: String): DataFrame = {
    val rawSchema = Tables.loadEventsRaw(s, d).schema
    Tables.withEventTime(
      s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
  }

  /** Build a bounded event stream that ends with END-OF-STREAM SENTINEL
    * rows (one per requested event_type, user_id −1, value 0), run `body`
    * over it, and clean up the scratch inputs afterwards (the memory sink
    * holds the result — the copies are dead weight once the query stops).
    *
    * Why sentinels: watermark-gated emissions (session timeouts, outer-
    * join null rows) only fire when the watermark PASSES their deadline,
    * which never happens at the natural end of a bounded stream. A
    * production bounded replay closes the books the same way. The
    * sentinel ts is DERIVED from the data — max(ts) + the 2 h watermark +
    * 30 min gap + a day of margin — so the flush guarantee survives any
    * fixture regeneration; sentinel rows are filtered from every gated
    * output by their negative user_id.
    */
  private def sentinelStream(s: SparkSession, d: String, types: Seq[String])(
      body: DataFrame => DataFrame): DataFrame = {
    val raw = Tables.loadEventsRaw(s, d)
    Scratch.using("sentinel") { root =>
      val dir = java.nio.file.Files.createDirectory(root.resolve("stream"))
      // Files.copy on a directory copies it as an EMPTY dir — a regenerated
      // Spark-written fixture (a directory of part files) would silently
      // stream zero rows. Fail loudly instead.
      val src = java.nio.file.Paths.get(s"$d/events.parquet")
      require(java.nio.file.Files.isRegularFile(src),
        s"sentinelStream needs a single-file events fixture; $src is not a regular file")
      java.nio.file.Files.copy(src, dir.resolve("events.parquet"))
      // Sentinel placement works off the NORMALIZED event time, then the
      // sentinel value is materialized back in whatever physical type this
      // fixture generation stores (nanos LONG / NTZ micros — see
      // [[Tables.withEventTime]]), so the stream dir stays schema-uniform.
      val maxRow = Tables.withEventTime(raw)
        .agg(max(unix_micros(col("ts")))).head()
      require(!maxRow.isNullAt(0), s"events fixture at $src is empty")
      val sentinelMicros =
        maxRow.getLong(0) + (2L * 3600 + 30L * 60 + 24L * 3600) * 1000000L
      val sentinelTs: Any = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => sentinelMicros * 1000L
        case org.apache.spark.sql.types.TimestampNTZType =>
          java.time.LocalDateTime.ofEpochSecond(
            sentinelMicros / 1000000L,
            ((sentinelMicros % 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
        case _ =>
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            sentinelMicros / 1000000L, (sentinelMicros % 1000000L) * 1000L))
      }
      val rows: java.util.List[org.apache.spark.sql.Row] =
        scala.jdk.CollectionConverters.SeqHasAsJava(
          types.zipWithIndex.map { case (t, i) =>
            org.apache.spark.sql.Row(-1L - i, sentinelTs, -1L, t, 0.0, "{}")
          }).asJava
      // Staged OUTSIDE the stream dir (the file source lists it).
      Scratch.writeSingleParquet(s.createDataFrame(rows, raw.schema),
        root.resolve("staging"), dir.resolve("zz_sentinel.parquet"))
      body(Tables.withEventTime(
        s.readStream.schema(raw.schema)
          .option("pathGlobFilter", "*.parquet")
          .parquet(dir.toString)))
    }
  }

  private val rocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val changelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Run `body` with the RocksDB state-store provider pinned (the
    * transformWithState gates s28/s29/s30 — the arbitrary-state API
    * requires it).
    */
  private def withRocksDb[A](s: SparkSession)(body: => A): A =
    // Changelog checkpointing for every RocksDB-backed bounded gate
    // (round 16): each micro-batch commit ships the batch's CHANGE SET
    // instead of a full store snapshot — commit cost ∝ changes, not state
    // size, the posture the s26 gate exists to prove and the only one
    // that survives 100 TB state. Measured at sf0.1 (6-gate TWS subset,
    // min-of-3, the changelog side under the HEAVIER host load by its own
    // gauge): 16.44 → 15.71 s, s28 2.57 → 1.89 s. Respect a caller/A-B
    // override (SPARK_GRAFT_CONF can force =false).
    Engine.withConf(s, rocksDbProvider,
      changelogKey -> s.conf.getOption(changelogKey).getOrElse("true"))(body)

  /** The s28/s29/s30 two-batch accretion setup (factored round 15 — the
    * r14-self-review no-verbatim-copies rule): split `df` into a base
    * (even doc_id) and an increment (odd doc_id) parquet file with PINNED
    * modification times so the maxFilesPerTrigger=1 file source processes
    * base-then-increment as two micro-batches, hand `body` the stream
    * directory, clean up after.
    */
  private def withBaseIncrementStream[A](df: DataFrame)
      (body: String => A): A =
    Scratch.using("phasestream") { root =>
      val dir = java.nio.file.Files.createDirectory(root.resolve("stream"))
      def writeOne(part: DataFrame, name: String, mtime: Long): Unit = {
        val dst = dir.resolve(name)
        Scratch.writeSingleParquet(part, root.resolve("staging"), dst)
        require(dst.toFile.setLastModified(mtime),
          s"cannot pin mtime of $dst — batch order would be undefined")
      }
      val now = System.currentTimeMillis()
      writeOne(df.filter(col("doc_id") % 2 === 0), "0_base.parquet",
               now - 60000)
      writeOne(df.filter(col("doc_id") % 2 === 1), "1_inc.parquet",
               now - 30000)
      body(dir.toString)
    }

  /** The s19/s26 two-incarnation restart run (see s19) under the bounded
    * state width plus `stateConfs`, the state backend's confs.
    */
  private def restartRecovery(s: SparkSession, d: String, sink: String,
                              stateConfs: (String, String)*): DataFrame = {
    val raw = Tables.loadEventsRaw(s, d)
    Scratch.using("restart") { root =>
      val dir = java.nio.file.Files.createDirectory(root.resolve("stream"))
      EventStreams.withBoundedStateParts(s, stateConfs: _*) {
        def addHalf(m: Int): Unit =
          Scratch.writeSingleParquet(raw.filter(col("event_id") % 2 === m),
            root.resolve("staging"), dir.resolve(s"half$m.parquet"))
        def run(): DataFrame = {
          val stream = Tables.withEventTime(
            s.readStream.schema(raw.schema).parquet(dir.toString))
          val q = EventStreams.tumblingCounts(stream).writeStream
            .format("memory").queryName(sink).outputMode("complete")
            .option("checkpointLocation", root.resolve("ckpt").toString)
            .start()
          try q.processAllAvailable() finally q.stop()
          s.table(sink)
        }
        addHalf(0)
        run()                              // incarnation 1: evens only
        addHalf(1)
        run()                              // incarnation 2: resumes, adds odds
          .orderBy("ws", "event_type").localCheckpoint(true)
      }
    }
  }

  private val s1Oracle =
    """SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val s17Oracle =
    """SELECT epoch_us(date_trunc('hour', c.ts)) AS ws, COUNT(*) AS n_pairs
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id
      | AND epoch_us(v.ts) BETWEEN epoch_us(c.ts) - 3600000000 AND epoch_us(c.ts)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val s16Oracle =
    """SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type,
      |  COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val chainedOracle =
    """WITH w10 AS (
      |  SELECT (epoch_us(ts) // 600000000) * 600000000 AS w10s, event_type,
      |         COUNT(*) AS n10
      |  FROM events GROUP BY 1, 2)
      |SELECT (w10s // 3600000000) * 3600000000 AS ws, event_type,
      |       CAST(SUM(n10) AS BIGINT) AS n, COUNT(*) AS n_sub
      |FROM w10 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val slidingOracle =
    """WITH slid AS (
      |  SELECT (epoch_us(ts) // 900000000 - k.range) * 900000000 AS ws, event_type
      |  FROM events, range(4) k)
      |SELECT ws, event_type, COUNT(*) AS n
      |FROM slid GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val sessionOracle =
    """WITH marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
      |         OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), numbered AS (
      |  SELECT user_id, ts,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT user_id, epoch_us(MIN(ts)) AS session_start,
      |       epoch_us(MAX(ts)) AS session_last, COUNT(*) AS n_events
      |FROM numbered GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  private val dedupOracle =
    """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      |FROM (SELECT DISTINCT ON (event_id) * FROM events
      |      ORDER BY event_id, ts, user_id, event_type)
      |ORDER BY event_id""".stripMargin

  // Micros on BOTH sides of every cross-row comparison: Spark compares
  // its micro-truncated timestamps, so the oracle compares epoch_us too
  // (the fixtures are micro-aligned today; this keeps the gate honest if
  // they ever carry sub-microsecond nanos).
  private val intervalOracle =
    """SELECT c.event_id AS click_id, v.event_id AS view_id,
      |       c.user_id, epoch_us(c.ts) AS c_ts_us, epoch_us(v.ts) AS v_ts_us
      |FROM events c JOIN events v
      |  ON c.user_id = v.user_id
      | AND c.event_type = 'click' AND v.event_type = 'view'
      | AND epoch_us(v.ts) BETWEEN epoch_us(c.ts) - 3600000000 AND epoch_us(c.ts)
      |ORDER BY click_id, view_id""".stripMargin

  private val semiOracle =
    """SELECT c.event_id AS click_id, c.user_id, epoch_us(c.ts) AS ts_us
      |FROM events c
      |WHERE c.event_type = 'click' AND EXISTS (
      |  SELECT 1 FROM events v
      |  WHERE v.event_type = 'view' AND v.user_id = c.user_id
      |    AND epoch_us(v.ts)
      |        BETWEEN epoch_us(c.ts) - 3600000000 AND epoch_us(c.ts))
      |ORDER BY click_id""".stripMargin

  private val asofOracle =
    """WITH u AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
      |    MAX(CASE WHEN event_type = 'view'
      |             THEN struct_pack(ts_us := epoch_us(ts), id := event_id) END)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
      |  FROM events)
      |SELECT event_id, user_id, ts_us,
      |       m.ts_us AS view_ts_us, m.id AS view_event_id
      |FROM u WHERE event_type = 'click' ORDER BY event_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    // J1 — JSON scalar extraction: props is a JSON string {"k": int}.
    Gate("j1_json_extract", { (s, d) =>
      val sch = StructType(Seq(StructField("k", IntegerType)))
      ev(s, d)
        .withColumn("k", from_json(col("props"), sch).getField("k").cast("long"))
        .groupBy(col("event_type"))
        .agg(Q.avgInt4(col("k")).as("avg_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      s"""WITH kv AS (
         |  SELECT event_type,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |  FROM events)
         |SELECT event_type,
         |  ${Q.duckRound4Ratio("SUM(k)", "COUNT(k)")} AS avg_k,
         |  COUNT(*) AS n
         |FROM kv GROUP BY 1 ORDER BY 1""".stripMargin),

    // S1 (batch form) — tumbling 1-hour windows.
    Gate("s1_tumbling_window", (s, d) =>
      ev(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), Q.sumMoney(col("value")).as("sum_value"))
        .select(Q.micros(col("window.start")).as("ws"), col("event_type"),
                col("n"), col("sum_value"))
        .orderBy("ws", "event_type"),
      s1Oracle),

    // S2 (batch form) — sliding 1-hour window every 15 minutes.
    Gate("s2_sliding_window", (s, d) =>
      ev(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(Q.micros(col("window.start")).as("ws"), col("event_type"), col("n"))
        .orderBy("ws", "event_type"),
      slidingOracle),

    // S3 (batch form) — session windows per user, 30-minute gap.
    Gate("s3_session_window", (s, d) =>
      ev(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("t0"), max(col("ts")).as("t1"))
        .select(col("user_id"), Q.micros(col("t0")).as("session_start"),
                Q.micros(col("t1")).as("session_last"), col("n_events"))
        .orderBy("user_id", "session_start"),
      sessionOracle),

    // S14 (batch form) — two-level window rollup: 10-minute counts
    // re-aggregated into hours. Same plan family as the chained stream.
    Gate("s14_chained_window", (s, d) =>
      ev(s, d)
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n10"))
        .groupBy(window(window_time(col("window")), "1 hour"), col("event_type"))
        .agg(sum(col("n10")).as("n"), count(lit(1)).as("n_sub"))
        .select(Q.micros(col("window.start")).as("ws"), col("event_type"),
                col("n"), col("n_sub"))
        .orderBy("ws", "event_type"),
      chainedOracle),

    // S14 (stream form) — CHAINED stateful operators in ONE streaming
    // query (Spark ≥3.5 multi-stateful pipeline): tumbling 10-minute agg
    // whose finalized windows feed a second 1-hour windowed agg, append
    // mode (the only mode chained aggs support — each hour row emits
    // exactly once when the watermark passes). The sentinel advances the
    // watermark past every real hour window so the bounded replay emits
    // them all; the sentinel's own windows never finalize (watermark
    // stops 2 h short of it) and are belt-and-braces filtered by type.
    Gate("s14_chained_stream", (s, d) =>
      sentinelStream(s, d, Seq("sentinel")) { stream =>
        EventStreams.runToCompletion(
            s, EventStreams.chainedCounts(stream), "s14_sink", mode = "append")
          .filter(col("event_type") =!= "sentinel")
          .orderBy("ws", "event_type")
      },
      chainedOracle),

    // S16 (batch form) — dedup→aggregate: the events table doubled by
    // self-union, deduplicated on event_id, then hourly counts. The
    // batch twin of the chained-stateful stream below; duplicates are
    // full-row identical so batch dropDuplicates' arbitrary pick is
    // value-deterministic.
    Gate("s16_dedup_window", { (s, d) =>
      val e = ev(s, d)
      e.unionAll(e)
        .dropDuplicates("event_id")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(Q.micros(col("window.start")).as("ws"), col("event_type"),
                col("n"))
        .orderBy("ws", "event_type")
    },
      // The doubled-then-dedup'd stream must reproduce the CLEAN hourly
      // counts — same shape as s1 minus the value sum.
      s16Oracle),

    // S16 (stream form) — heterogeneous multi-stateful pipeline: the
    // stream unioned with itself (every event arrives twice),
    // dropDuplicatesWithinWatermark, then a tumbling hourly count — dedup
    // state and window state chained in ONE streaming query, append mode.
    // The hour counts equal the clean batch counts exactly iff the dedup
    // layer suppressed every duplicate before it reached the aggregate —
    // that equality is the hashed contract. Sentinel advances the
    // watermark so every real hour finalizes; its own never does.
    Gate("s16_dedup_stream", (s, d) =>
      sentinelStream(s, d, Seq("sentinel")) { stream =>
        EventStreams.runToCompletion(
            s, EventStreams.dedupThenWindow(stream.unionAll(stream)),
            "s16_sink", mode = "append")
          .filter(col("event_type") =!= "sentinel")
          .orderBy("ws", "event_type")
      },
      s16Oracle),

    // S4 — the real streaming path: readStream over the same parquet,
    // watermark + tumbling agg, complete mode run to completion. Must equal
    // the batch S1 computation (same oracle).
    Gate("s4_streaming_final_state", (s, d) =>
      EventStreams.runToCompletion(
          s, EventStreams.tumblingCounts(evStream(s, d)), "s4_sink")
        .orderBy("ws", "event_type"),
      s1Oracle),

    // S23 — the same tumbling aggregate under Trigger.AvailableNow: the
    // BACKFILL trigger processes the available backlog in bounded
    // micro-batches and terminates ITSELF (s4's default trigger runs
    // until externally stopped) — the catch-up/replay mode a production
    // pipeline runs after downtime, same query, same checkpoint. Shares
    // s1's oracle: the trigger changes scheduling, never the result.
    Gate("s23_available_now", (s, d) =>
      EventStreams.runAvailableNow(
          s, EventStreams.tumblingCounts(evStream(s, d)), "s23_sink")
        .orderBy("ws", "event_type"),
      // The AvailableNow trigger changes scheduling, never the result.
      s1Oracle),

    // S2/S3/S5 streaming gates (VERDICT r3 "Next round" 6): the SLIDING,
    // SESSION, and DEDUP builders run as genuine Structured Streaming
    // queries to completion, hashed against the same batch oracles as
    // their batch forms — so the streaming plans themselves (windowed
    // state store aggs, session-window merge, dedup state) are inside the
    // correctness gate, not just MemoryStream unit specs.
    Gate("s2_sliding_stream", (s, d) =>
      EventStreams.runToCompletion(
          s, EventStreams.slidingCounts(evStream(s, d)), "s2_stream_sink")
        .orderBy("ws", "event_type"),
      slidingOracle),

    Gate("s3_session_stream", (s, d) =>
      EventStreams.runToCompletion(
          s, EventStreams.sessions(evStream(s, d)), "s3_stream_sink")
        .orderBy("user_id", "session_start"),
      sessionOracle),

    // Dedup emits first-arrival rows (append mode). The fixture's
    // duplicate event_ids are full-row identical (verified: arg_min(ts)
    // row == first file row for every dup group at every SF), so
    // first-arrival equals the oracle's min-ts DISTINCT ON choice.
    Gate("s5_dedup_stream", { (s, d) =>
      val deduped = EventStreams.dedup(evStream(s, d))
        .select(col("event_id"), col("user_id"), col("event_type"),
                Q.micros(col("ts")).as("ts_us"))
      EventStreams.runToCompletion(s, deduped, "s5_stream_sink", mode = "append")
        .orderBy("event_id")
    },
      dedupOracle),

    // S6 (batch form) — interval join: each click matched to the same
    // user's views within the preceding hour. An equi-join on user_id
    // with a range residual — NOT a range-only join, so the plan is a
    // plain shuffled hash/sort-merge join at any scale.
    Gate("s6_interval_join", { (s, d) =>
      val e = ev(s, d)
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
                col("ts").as("c_ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
                col("ts").as("v_ts"))
      c.join(v,
          col("c_user") === col("v_user") &&
          col("v_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") <= col("c_ts"))
        .select(col("click_id"), col("view_id"), col("c_user").as("user_id"),
                Q.micros(col("c_ts")).as("c_ts_us"),
                Q.micros(col("v_ts")).as("v_ts_us"))
        .orderBy("click_id", "view_id")
    },
      intervalOracle),

    // S6 (streaming form) — the same interval join as a genuine
    // stream-stream join (two readStream sources, watermarks both sides,
    // bounded state), run to completion and hashed against the same
    // batch oracle.
    Gate("s6_interval_stream", (s, d) =>
      EventStreams.runToCompletion(
          s, EventStreams.intervalJoin(evStream(s, d), evStream(s, d)),
          "s6_stream_sink", mode = "append")
        .orderBy("click_id", "view_id"),
      intervalOracle),

    // S24 — multi-source streaming union: TWO independent file sources
    // (clicks feed, views feed) unioned into one tumbling aggregate in a
    // single query — the N-topic ingest rollup. The min-across-sources
    // watermark semantics is the operator; final state must equal the
    // batch union, per-type filtered.
    Gate("s24_union_stream", (s, d) =>
      EventStreams.runToCompletion(s,
          EventStreams.unionCounts(
            evStream(s, d).filter(col("event_type") === "click"),
            evStream(s, d).filter(col("event_type") === "view")),
          "s24_stream_sink")
        .orderBy("ws", "event_type"),
      // Two sources, one aggregate: the union must equal the batch rollup
      // over exactly the two unioned types.
      """SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type IN ('click', 'view')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // S17 (batch form) — join→aggregate: the S6 interval join rolled up
    // into hourly matched-pair counts, the batch twin of the chained
    // stream below.
    Gate("s17_join_window", { (s, d) =>
      val e = ev(s, d)
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      c.join(v, col("c_user") === col("v_user") &&
               col("v_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
               col("v_ts") <= col("c_ts"))
        .groupBy(window(col("c_ts"), "1 hour"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(Q.micros(col("window.start")).as("ws"), col("n_pairs"))
        .orderBy("ws")
    },
      s17Oracle),

    // S17 (stream form) — the third heterogeneous multi-stateful chain:
    // stream-stream interval join state feeding windowed-agg state in ONE
    // append-mode query (s14 = agg→agg, s16 = dedup→agg). Sentinels on
    // both input types advance both watermarks past every real click hour
    // so the rollup emits; the sentinel pair's own far-future window
    // never finalizes (watermark stops 2 h short of it).
    Gate("s17_join_stream", (s, d) =>
      sentinelStream(s, d, Seq("click", "view")) { stream =>
        EventStreams.runToCompletion(
            s, EventStreams.joinThenWindow(stream, stream),
            "s17_sink", mode = "append")
          .orderBy("ws")
      },
      s17Oracle),

    // S19 — CHECKPOINT RESTART RECOVERY: the tumbling aggregate run as
    // TWO streaming query incarnations over one checkpoint — half the
    // events (even ids, hours interleaved with the odd half) land before
    // a clean stop, the rest after a restart. The resumed query must NOT
    // re-read the committed half (offset log) and MUST restore every
    // open window's state (state store) — an undercount means lost
    // state, so hashing the final table against the whole-input batch
    // oracle pins the exactly-once resume path, the streaming guarantee
    // a production pipeline actually lives on (failover, deploys).
    Gate("s19_restart_recovery", (s, d) => restartRecovery(s, d, "s19_sink"),
      // The resumed query's final table equals the whole-input aggregate.
      s1Oracle),

    // S26 — s19's restart-recovery contract on ROCKSDB state with
    // CHANGELOG CHECKPOINTING: instead of uploading a full state-store
    // snapshot per micro-batch commit, the store ships only the batch's
    // change set and snapshots in the background — the recovery-cost
    // lever for large stateful jobs (commit cost ∝ changes, not state
    // size; the 100 TB regime has sessionization state far larger than
    // any one batch's delta). The two-incarnation run proves a restart
    // RECOVERS from changelog replay (incarnation 2 reconstructs its
    // state from snapshot + changelogs before adding the odd half);
    // the oracle is the same batch twin as s19 — one contract, third
    // state backend configuration (default HDFS ckpt → RocksDB →
    // RocksDB+changelog).
    Gate("s26_changelog_restart", (s, d) =>
      restartRecovery(s, d, "s26_sink", rocksDbProvider, changelogKey -> "true"),
      s1Oracle),

    // J5 — JSON GENERATION roundtrip: typed struct → `to_json` string →
    // `from_json` back to the struct, aggregated. J1/J2/J3 prove the
    // read side of semi-structured; this proves the WRITE side is its
    // exact inverse (the shape of every JSON event emitted to a queue or
    // export boundary). Cents travel as LONGs inside the JSON — no float
    // text formatting in the roundtrip.
    Gate("j5_json_roundtrip", { (s, d) =>
      val cents = (Q.dec2(col("value")) * 100).cast("long")
      ev(s, d)
        .select(to_json(struct(col("event_id"), col("event_type"),
                               cents.as("cents"))).as("j"))
        .select(from_json(col("j"), org.apache.spark.sql.types.StructType
          .fromDDL("event_id BIGINT, event_type STRING, cents BIGINT")).as("r"))
        .groupBy(col("r.event_type").as("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("r.cents")).as("cents"))
        .orderBy("event_type")
    },
      // A lossless to_json∘from_json roundtrip aggregates like the source.
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS BIGINT) AS cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // S20 — stream-static ANTI join: the stream deduplicated against a
    // STATIC base index (every third event_id stands in for yesterday's
    // committed corpus) before the per-type rollup — the streaming form
    // of l23's incremental ingest dedup. Complete mode; the base
    // broadcasts and the anti join re-plans per micro-batch.
    Gate("s20_static_anti_stream", (s, d) =>
      EventStreams.runToCompletion(
          s, EventStreams.staticAntiCounts(
               evStream(s, d),
               ev(s, d).filter(col("event_id") % 3 === 0)
                 .select(col("event_id"))),
          "s20_sink")
        .orderBy("event_type"),
      // Only events outside the static base index reach the rollup.
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS BIGINT) AS cents
        |FROM events WHERE event_id % 3 != 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // J6 — XML GENERATION roundtrip: the j5 contract through the XML
    // functions — typed struct → `to_xml` element string → `from_xml`
    // back, aggregated. Together with io14 (file-level XML) this covers
    // both XML surfaces: whole-file exchange and per-record columns (the
    // message-queue / legacy-feed shape). Cents travel as LONGs.
    Gate("j6_xml_roundtrip", { (s, d) =>
      val cents = (Q.dec2(col("value")) * 100).cast("long")
      ev(s, d)
        .select(to_xml(struct(col("event_id"), col("event_type"),
                              cents.as("cents"))).as("x"))
        .select(from_xml(col("x"), org.apache.spark.sql.types.StructType
          .fromDDL("event_id BIGINT, event_type STRING, cents BIGINT")).as("r"))
        .groupBy(col("r.event_type").as("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("r.cents")).as("cents"))
        .orderBy("event_type")
    },
      // Same inverse contract through to_xml ∘ from_xml.
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS BIGINT) AS cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // S18 — state-store introspection: run the per-type complete-mode
    // aggregate as a true streaming query, then read the FINAL STATE out
    // of the checkpoint via Spark's `statestore` source — not the memory
    // sink. For a complete-mode aggregate the store IS the aggregate, so
    // hashing the store's (key, buffer) rows against the batch oracle
    // proves the persisted state itself is correct — the audit/debug path
    // a production stateful pipeline reaches for when sink output and
    // expectation disagree. Cents are summed as per-row LONGs so the
    // state buffer is integer-exact, engine- and arrival-order-free.
    Gate("s18_state_reader", (s, d) =>
      EventStreams.runThenReadState(
          s, evStream(s, d)
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"),
                 sum((Q.dec2(col("value")) * 100).cast("long")).as("cents")),
          "s18_state") { ckpt =>
        s.read.format("statestore").load(ckpt)
          .select(col("key.event_type").as("event_type"),
                  col("value.count").as("n"),
                  col("value.sum").as("cents"))
      }.orderBy("event_type"),
      // The state store holds exactly the complete-mode aggregate.
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS BIGINT) AS cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // S7 — AS-OF join: every click picks the latest view (≤ its ts) by
    // the same user, via the union+window merge formulation
    // ([[AsOfJoin.asOf]]) — one shuffle on user_id, no range explosion.
    Gate("s7_asof_join", { (s, d) =>
      val e = ev(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_event_id"))
      AsOfJoin.asOf(clicks, views, Seq("user_id"), "ts", "view_event_id")
        .select(col("event_id"), col("user_id"), Q.micros(col("ts")).as("ts_us"),
                Q.micros(col("asof").getField("ts")).as("view_ts_us"),
                col("asof").getField("view_event_id").as("view_event_id"))
        .orderBy("event_id")
    },
      asofOracle),

    // S7b — the remaining merge_asof directions: FORWARD (earliest view at
    // or after each click — the "next state" lookup: next checkpoint,
    // next quote, next sensor reading) and NEAREST (closer of the two,
    // equal distance preferring backward — the stated deterministic
    // convention). Same one-shuffle merge formulation as s7: nearest costs
    // one partition sort carrying TWO window frames, never a range
    // explosion. The oracle replays both frames over the raw events table
    // and the identical distance arithmetic in exact micros.
    Gate("s7b_asof_directions", { (s, d) =>
      val e = ev(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_event_id"))
      val fwd = AsOfJoin.asOf(clicks, views, Seq("user_id"), "ts",
          "view_event_id", direction = "forward")
        .select(col("event_id"), col("user_id"), Q.micros(col("ts")).as("ts_us"),
                Q.micros(col("asof").getField("ts")).as("fwd_view_ts_us"),
                col("asof").getField("view_event_id").as("fwd_view_event_id"))
      val near = AsOfJoin.asOf(clicks, views, Seq("user_id"), "ts",
          "view_event_id", direction = "nearest")
        .select(col("event_id"),
                col("asof").getField("view_event_id").as("near_view_event_id"))
      fwd.join(near, "event_id").orderBy("event_id")
    },
      """WITH u AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |    MAX(CASE WHEN event_type = 'view'
        |             THEN struct_pack(ts_us := epoch_us(ts), id := event_id) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b,
        |    MIN(CASE WHEN event_type = 'view'
        |             THEN struct_pack(ts_us := epoch_us(ts), id := event_id) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |            RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f
        |  FROM events)
        |SELECT event_id, user_id, ts_us,
        |  f.ts_us AS fwd_view_ts_us, f.id AS fwd_view_event_id,
        |  CASE WHEN b IS NULL THEN f.id WHEN f IS NULL THEN b.id
        |       WHEN (f.ts_us - ts_us) < (ts_us - b.ts_us) THEN f.id
        |       ELSE b.id END AS near_view_event_id
        |FROM u WHERE event_type = 'click' ORDER BY event_id""".stripMargin),

    // S8 — stream-static join: the event stream joined to a broadcast
    // static dimension derived from the batch table (per-type cents total
    // + count), aggregated per type in complete mode. Exercises the
    // stateless enrichment join Structured Streaming plans per micro-batch.
    Gate("s8_stream_static", { (s, d) =>
      val stats = ev(s, d).groupBy(col("event_type"))
        .agg(Q.sumCents(col("value")).as("vc"), count(lit(1)).as("vn"))
      EventStreams.runToCompletion(
          s, EventStreams.staticEnrichedCounts(evStream(s, d), stats),
          "s8_stream_sink")
        .orderBy("event_type")
    },
      """WITH st AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS vc,
        |    COUNT(*) AS vn
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) * st.vn > st.vc
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM events e JOIN st USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // J2 — MapType surface: props parsed as MAP<STRING,LONG> (schema-free,
    // unlike J1's fixed struct), exploded to (key, value) rows, aggregated
    // per (event_type, key). The dynamic-keys path a pipeline takes when
    // event payloads carry open-ended attributes.
    Gate("j2_props_map", { (s, d) =>
      val m = from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.LongType))
      ev(s, d)
        .select(col("event_type"), explode(m).as(Seq("key", "v")))
        .groupBy(col("event_type"), col("key"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
        .orderBy("event_type", "key")
    },
      """WITH kv AS (
        |  SELECT event_type, key,
        |    CAST(json_extract_string(props, key) AS BIGINT) AS v
        |  FROM (SELECT event_type, props, unnest(json_keys(props)) AS key
        |        FROM events))
        |SELECT event_type, key, COUNT(*) AS n,
        |  CAST(SUM(v) AS BIGINT) AS sum_v
        |FROM kv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // J4 — MAP higher-order functions chained over the parsed props map:
    // map_filter (drop small values) → map_zip_with (self-zip, v+v) →
    // transform_values (+1), then exploded and aggregated. The lambda
    // surface J2's plain explode never touches; v' = 2v+1 keeps the
    // arithmetic exact in LONG so the oracle replays it literally.
    Gate("j4_map_hof", { (s, d) =>
      val m = from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.LongType))
      ev(s, d)
        .withColumn("m", m)
        .withColumn("m2", expr(
          """transform_values(
            |  map_zip_with(map_filter(m, (k, v) -> v >= 50),
            |               map_filter(m, (k, v) -> v >= 50),
            |               (k, a, b) -> a + b),
            |  (k, v) -> v + 1)""".stripMargin))
        .select(col("event_type"), explode(col("m2")).as(Seq("key", "v2")))
        .groupBy(col("event_type"), col("key"))
        .agg(count(lit(1)).as("n"), sum(col("v2")).as("sum_v2"))
        .orderBy("event_type", "key")
    },
      // The HOF chain collapses to v' = 2v+1 on entries with v >= 50 —
      // replayed as plain arithmetic on the extracted kv pairs.
      """WITH kv AS (
        |  SELECT event_type, key,
        |    CAST(json_extract_string(props, key) AS BIGINT) AS v
        |  FROM (SELECT event_type, props, unnest(json_keys(props)) AS key
        |        FROM events))
        |SELECT event_type, key, COUNT(*) AS n,
        |  CAST(SUM(v * 2 + 1) AS BIGINT) AS sum_v2
        |FROM kv WHERE v >= 50 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // J3 — VARIANT semi-structured path: props ingested ONCE as the
    // binary VARIANT type (parse_json), then typed extraction
    // (variant_get) — Spark 4's answer to repeated get_json_object
    // string re-parsing: parse once, extract many times from the binary
    // encoding. Same aggregate and oracle as J1's string path, proving
    // the two ingestion routes agree value-for-value.
    Gate("j3_variant", { (s, d) =>
      ev(s, d)
        .withColumn("pv", parse_json(col("props")))
        .select(col("event_type"),
                variant_get(col("pv"), "$.k", "long").as("k"))
        .groupBy(col("event_type"))
        .agg(Q.avgInt4(col("k")).as("avg_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      // Sign-aware JSON extraction (json_extract_string keeps '-'), non-null
      // count as the AVG divisor (matching Spark's count(k)), and the
      // tie-free integer ROUND formula every other ratio oracle uses.
      s"""WITH kv AS (
         |  SELECT event_type,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |  FROM events)
         |SELECT event_type,
         |  ${Q.duckRound4Ratio("SUM(k)", "COUNT(k)")} AS avg_k,
         |  COUNT(*) AS n
         |FROM kv GROUP BY 1 ORDER BY 1""".stripMargin),

    // J7 — `variant_explode`: the TABLE-VALUED generator over VARIANT
    // objects (one row per key) — the third leg of the variant surface:
    // j3 proves typed point-extraction (`variant_get`), this proves
    // whole-object iteration without re-parsing per key (j2's MapType
    // route forces one declared value type; variant keeps per-entry
    // types until the cast). Lateral-correlated TVF through the parser.
    Gate("j7_variant_explode", (s, d) => graft.Engine.sql(s, d,
      """SELECT event_type, t.key AS k, COUNT(*) AS n,
        |  CAST(SUM(CAST(t.value AS BIGINT)) AS BIGINT) AS sum_v
        |FROM events, LATERAL variant_explode(parse_json(props)) AS t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      // Keys genuinely come from the JSON (json_keys + bare-key
      // re-extraction — injection-proof for keys containing quotes or
      // backslashes, unlike '$."<key>"' string concatenation), not a
      // hardcoded 'k' — the gate checks the dynamic-key machinery.
      // Same replay as j2 — the variant TVF route must agree with the
      // string-JSON key iteration value-for-value.
      """WITH kv AS (
        |  SELECT event_type, key,
        |    CAST(json_extract_string(props, key) AS BIGINT) AS v
        |  FROM (SELECT event_type, props, unnest(json_keys(props)) AS key
        |        FROM events))
        |SELECT event_type, key AS k, COUNT(*) AS n,
        |  CAST(SUM(v) AS BIGINT) AS sum_v
        |FROM kv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // S9 — time-series gap-fill: per event_type, the FULL hourly spine
    // from its first to its last event (integer epoch-micros sequence —
    // calendar densification without timestamp-type hazards), zero-filled
    // where no events landed. The resample/regularize step every
    // training-telemetry pipeline runs before windowed features; spine
    // generation is O(hours) per type, exploded in parallel, never a
    // driver loop.
    Gate("s9_gapfill", { (s, d) =>
      val hourUs = 3600000000L
      val wsOf = (Q.micros(col("ts")) - pmod(Q.micros(col("ts")), lit(hourUs)))
      val e = ev(s, d).select(col("event_type"), wsOf.as("ws"), col("value"))
      val spine = e.groupBy(col("event_type"))
        .agg(min(col("ws")).as("w0"), max(col("ws")).as("w1"))
        .select(col("event_type"),
                explode(sequence(col("w0"), col("w1"), lit(hourUs))).as("ws"))
      val counts = e.groupBy(col("event_type"), col("ws"))
        .agg(count(lit(1)).as("n"), Q.sumMoney(col("value")).as("sv"))
      spine.join(counts, Seq("event_type", "ws"), "left")
        .select(col("event_type"), col("ws"),
                coalesce(col("n"), lit(0L)).as("n"),
                coalesce(col("sv"), lit(0.0)).as("sum_value"))
        .orderBy("event_type", "ws")
    },
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS ws, value
        |  FROM events),
        |spine AS (
        |  SELECT event_type,
        |    unnest(range(MIN(ws), MAX(ws) + 1, 3600000000)) AS ws
        |  FROM e GROUP BY event_type),
        |counts AS (
        |  SELECT event_type, ws, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |  FROM e GROUP BY 1, 2)
        |SELECT s.event_type, s.ws,
        |  COALESCE(c.n, 0) AS n, COALESCE(c.sv, 0.0) AS sum_value
        |FROM spine s LEFT JOIN counts c
        |  ON s.event_type = c.event_type AND s.ws = c.ws
        |ORDER BY 1, 2""".stripMargin),

    // S11 — custom-state sessionization through the oracle gate: the
    // flatMapGroupsWithState builder ([[EventStreams.customSessions]])
    // run as a true streaming query. Timeout-emitted operators need the
    // watermark to pass every session's deadline before end-of-stream, so
    // the source directory carries an END-OF-STREAM SENTINEL event (far
    // future, user_id −1) — the close-of-books pattern a production
    // bounded replay uses. The sentinel's own session never times out
    // (nothing follows it) and is filtered; every REAL session must be
    // emitted exactly once, equal to the batch gaps-and-islands oracle.
    Gate("s11_custom_sessions", { (s, d) =>
      import s.implicits._
      sentinelStream(s, d, Seq("sentinel")) { stream =>
        val typed = stream
          .select(col("user_id"), col("ts"), col("value"))
          .as[EventStreams.UserEvent]
        val sess = EventStreams.customSessions(typed).toDF
        EventStreams.runToCompletion(s, sess, "s11_sink", mode = "append")
          .filter(col("user_id") >= 0)
          .orderBy("user_id", "session_start")
      }
    },
      // The custom-state operator must reproduce the batch gaps-and-islands
      // sessionization exactly — counts and exact cents sums per session.
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
        |         OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), numbered AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, epoch_us(MIN(ts)) AS session_start,
        |       epoch_us(MAX(ts)) AS session_last, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS sum_cents
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    // S13 — the S11 sessionization through Spark 4's transformWithState
    // (the successor arbitrary-state API): named ValueState + explicit
    // event-time timers on RocksDB-backed state. The provider conf is
    // query-scoped (around the bounded run — the operator
    // REQUIRES RocksDB; the other gates keep the default store). Same
    // sentinel close-of-books pattern and the same gaps-and-islands
    // oracle as S11 — two arbitrary-state APIs, one declared semantics.
    Gate("s13_tws_sessions", { (s, d) =>
      import s.implicits._
      Engine.withConf(s, rocksDbProvider) {
        sentinelStream(s, d, Seq("sentinel")) { stream =>
          val typed = stream
            .select(col("user_id"), col("ts"), col("value"))
            .as[EventStreams.UserEvent]
          val sess = EventStreams.twsSessions(typed).toDF
          EventStreams.runToCompletion(s, sess, "s13_sink", mode = "append")
            .filter(col("user_id") >= 0)
            .orderBy("user_id", "session_start")
        }
      }
    },
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
        |         OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), numbered AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, epoch_us(MIN(ts)) AS session_start,
        |       epoch_us(MAX(ts)) AS session_last, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS sum_cents
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    // S21 — transformWithState MAP STATE (`MapState[event_type → agg]` +
    // a ValueState activity clock — the multi-slot keyed-sub-aggregate
    // layout s13's single ValueState doesn't exercise), with PERIODIC
    // EVICTION semantics: 30 min of user inactivity flushes and CLEARS
    // the user's map (state bounded by ACTIVE users), and the flushed
    // partials are summed downstream — the bounded-state rollup shape of
    // a production pipeline. Exactly-once per event across partials ⇒ the
    // summed sink equals the batch per-(user, type) group-by (the oracle).
    Gate("s21_tws_typecounts", { (s, d) =>
      import s.implicits._
      Engine.withConf(s, rocksDbProvider) {
        sentinelStream(s, d, Seq("sentinel")) { stream =>
          val typed = stream
            .select(col("user_id"), col("ts"), col("event_type"), col("value"))
            .as[EventStreams.TypedEvent]
          val flushed = EventStreams.twsTypeCounts(typed).toDF
          EventStreams.runToCompletion(s, flushed, "s21_sink", mode = "append")
            .filter(col("user_id") >= 0)
            .groupBy(col("user_id"), col("event_type"))
            .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
            .orderBy("user_id", "event_type")
        }
      }
    },
      // transformWithState must reproduce the same batch sessionization as
      // the flatMapGroupsWithState path — one oracle, two state APIs.
      // The flushed partials summed downstream must equal the whole-input
      // per-(user, type) rollup — loss or double-count in any eviction
      // cycle breaks the hash.
      """SELECT user_id, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // S27 — transformWithState LIST STATE: the third state shape of the
    // arbitrary-state API (ValueState s13, MapState s21, ListState here)
    // — an append-only per-user event BUFFER, digested at session close
    // into a row that includes a position-weighted checksum over the
    // session's events in (ts, event_id) order. The checksum is the
    // point: it is computable only from the RETAINED rows (a running
    // fold can't know an event's final position while later — or late
    // but in-watermark — events can still land before it), so the gate
    // fails if the buffer loses, duplicates, or mis-orders any append
    // across micro-batches. Same RocksDB scoping as s13/s21; appends
    // are O(delta) merge-writes there — the at-scale reason ListState
    // exists instead of rewriting a ValueState[Seq].
    Gate("s27_tws_liststate", { (s, d) =>
      import s.implicits._
      Engine.withConf(s, rocksDbProvider) {
        sentinelStream(s, d, Seq("sentinel")) { stream =>
          val typed = stream
            .select(col("user_id"), col("event_id"), col("ts"), col("value"))
            .as[EventStreams.IdEvent]
          val digests = EventStreams.twsSessionDigests(typed).toDF
          EventStreams.runToCompletion(s, digests, "s27_sink", mode = "append")
            .filter(col("user_id") >= 0)
            .orderBy("user_id", "session_start")
        }
      }
    },
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
        |         OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, event_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked
        |), pos AS (
        |  SELECT user_id, sid, ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, sid
        |                       ORDER BY ts, event_id) AS rn
        |  FROM numbered)
        |SELECT user_id, epoch_us(MIN(ts)) AS session_start,
        |       epoch_us(MAX(ts)) AS session_last, COUNT(*) AS n_events,
        |       CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |       CAST(SUM(rn * cents) AS BIGINT) AS weighted_cents
        |FROM pos GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    // S28 — STREAMING FINGERPRINT DEDUP INDEX: the streaming twin of
    // l23's incremental ingest. Documents split into a base file (even
    // doc_id) and an increment file (odd), streamed OLDEST-FIRST one
    // file per micro-batch (pinned modification times), each row mapped
    // to its l11 rolling fingerprint (row-local — no aggregation before
    // the stateful op), and classified by a transformWithState
    // ValueState index keyed on the fingerprint: first arrival claims
    // the slot (`first`, canonical id), every later arrival — same or
    // later batch — emits `dup` against the stored canonical. The
    // increment batch classifying against state built by the base batch
    // is the cross-batch index lookup a production ingest runs; the
    // oracle replays it in closed form (canonical = min even doc_id if
    // the fingerprint appears in the base, else min doc_id).
    Gate("s28_fp_index_stream", { (s, d) =>
      import s.implicits._
      withRocksDb(s) {
        val raw = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("text"))
        withBaseIncrementStream(raw) { dir =>
          val stream = s.readStream.schema(raw.schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(dir)
            .select(TextFunctions.rollingFingerprint("text").as("fingerprint"),
                    col("doc_id"))
            .as[EventStreams.FpDoc]
          val statuses = EventStreams.fpIndexStatuses(stream).toDF
          EventStreams.runToCompletion(s, statuses, "s28_sink",
                                       mode = "append")
            .orderBy("doc_id")
        }
      }
    },
      // Closed-form replay of the two-batch index accretion: the base
      // (even doc_id) batch runs first, so a fingerprint seen in the base
      // has canonical = min even doc_id and every odd arrival is a dup;
      // a fingerprint born in the increment elects min odd. The
      // fingerprint expression is l11's rolling min-hash replay. Sub-window
      // texts (fingerprint −1) bypass the index: canonical = self, 'nofp'
      // (round 15 — the sentinel-collapse fix from the r14 ADVICE).
      """WITH fpt AS (
        |  SELECT doc_id,
        |  CASE WHEN length(text) >= 8 THEN
        |    list_min(list_transform(range(1, length(text) - 6), i ->
        |      (CAST(ascii(substring(text, i,     1)) AS BIGINT) * 27512614111
        |     + CAST(ascii(substring(text, i + 1, 1)) AS BIGINT) * 887503681
        |     + CAST(ascii(substring(text, i + 2, 1)) AS BIGINT) * 28629151
        |     + CAST(ascii(substring(text, i + 3, 1)) AS BIGINT) * 923521
        |     + CAST(ascii(substring(text, i + 4, 1)) AS BIGINT) * 29791
        |     + CAST(ascii(substring(text, i + 5, 1)) AS BIGINT) * 961
        |     + CAST(ascii(substring(text, i + 6, 1)) AS BIGINT) * 31
        |     + CAST(ascii(substring(text, i + 7, 1)) AS BIGINT)) % 1000000007))
        |  ELSE CAST(-1 AS BIGINT) END AS fingerprint
        |  FROM documents),
        |canon AS (
        |  SELECT fingerprint,
        |    COALESCE(MIN(CASE WHEN doc_id % 2 = 0 THEN doc_id END),
        |             MIN(doc_id)) AS canonical_id
        |  FROM fpt WHERE fingerprint != -1 GROUP BY 1)
        |SELECT f.doc_id, f.fingerprint,
        |  CASE WHEN f.fingerprint = -1 THEN f.doc_id
        |       ELSE c.canonical_id END AS canonical_id,
        |  CASE WHEN f.fingerprint = -1 THEN 'nofp'
        |       WHEN f.doc_id = c.canonical_id THEN 'first' ELSE 'dup' END
        |    AS status
        |FROM fpt f LEFT JOIN canon c ON c.fingerprint = f.fingerprint
        |ORDER BY f.doc_id""".stripMargin),

    // S29 — STREAMING KMV CARDINALITY MONITOR: l62's bottom-k distinct
    // sketch as accreting stream state. Documents stream base-then-
    // increment (the s28 two-file setup), each micro-batch folds its
    // word-3-gram hashes into a per-language ValueState sketch, and the
    // post-batch estimate is emitted with a phase counter — the
    // "distinct-universe growth" dashboard of a continuous ingest, with
    // no history rescans (k·8 bytes of state per language). Because the
    // KMV state is a pure set function, phase 1 must equal the batch
    // sketch of the even docs and phase 2 the batch sketch of the whole
    // corpus (l62's own values) — which is exactly what the oracle
    // replays; any cross-batch state loss or double-fold hash-fails.
    Gate("s29_kmv_monitor_stream", { (s, d) =>
      import s.implicits._
      withRocksDb(s) {
        val raw = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        withBaseIncrementStream(raw) { dir =>
          val grams = s.readStream.schema(raw.schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(dir)
            .select(col("lang"), expr("word_ngrams(text, 3)").as("g"))
            .select(col("lang"),
              ((TextFunctions.tokenHash("g") * 2654435761L) % 2147483647L)
                .as("h2"))
            .as[EventStreams.LangHash]
          val phases = EventStreams.kmvMonitor(grams).toDF
          EventStreams.runToCompletion(s, phases, "s29_sink",
                                       mode = "append")
            .orderBy("lang", "phase")
        }
      }
    },
      // Gaps-and-islands sessionization in (ts, event_id) order — a TOTAL
      // order, unlike s13's ts-only — then a per-session position-weighted
      // cents checksum: rn·cents summed over the session replays the
      // ListState buffer's sorted digest exactly. Any lost, duplicated, or
      // mis-ordered append changes some event's rn and breaks the hash.
      // The KMV state is a pure set function, so the streaming accretion
      // is replayed in closed form: phase 1 = the batch bottom-256 of the
      // even (base-file) docs' gram hashes, phase 2 = of the whole corpus;
      // same integer estimator as l62.
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), t -> t != '') AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, lang, unnest(list_transform(range(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM w WHERE len(ws) >= 3),
        |h AS (
        |  SELECT doc_id, lang,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       list_transform(range(1, length(g) + 1),
        |                      i -> CAST(ascii(substring(g, i, 1)) AS BIGINT))),
        |     (acc, c) -> (acc * 31 + c) % 1000003) * 2654435761) % 2147483647
        |      AS h2
        |  FROM grams),
        |p1 AS (SELECT DISTINCT lang, h2 FROM h WHERE doc_id % 2 = 0),
        |p2 AS (SELECT DISTINCT lang, h2 FROM h),
        |b1 AS (SELECT lang, h2,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h2) AS rn
        |       FROM p1),
        |b2 AS (SELECT lang, h2,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h2) AS rn
        |       FROM p2),
        |u AS (
        |  SELECT lang, CAST(1 AS BIGINT) AS phase,
        |    CAST(COUNT(*) AS BIGINT) AS n_sketch, CAST(MAX(h2) AS BIGINT) AS hk
        |  FROM b1 WHERE rn <= 256 GROUP BY 1
        |  UNION ALL
        |  SELECT lang, CAST(2 AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT), CAST(MAX(h2) AS BIGINT)
        |  FROM b2 WHERE rn <= 256 GROUP BY 1)
        |SELECT lang, phase, n_sketch, hk,
        |  CASE WHEN n_sketch < 256 THEN n_sketch
        |       ELSE (CAST(255 AS BIGINT) * 2147483647) // hk END
        |    AS est_distinct
        |FROM u ORDER BY lang, phase""".stripMargin),

    // S30 — STREAMING NEAR-DUP LSH INDEX: the BANDING twin of s28 (which
    // classifies exact fingerprint identity), the streaming form of l2b
    // the way s29 is of l62. Documents stream base-then-increment; each
    // arrival carries its ROW-LOCAL 64-lane MinHash signature (the
    // seed-free affine family ((2k+3)·x + k²+7k+1) mod (2³¹−1) over its
    // own distinct word-3-gram poly-hash codes — no aggregation before
    // the stateful op) exploded into 16 band rows,
    // keyed by exact band content (band index + 4 lane values), and a
    // per-bucket transformWithState ListState is the persistent LSH
    // index: every arrival is verified against its bucket's stored docs
    // (≥ 52/64 matching lanes — estimate ≥ 0.8125) and then indexed. A
    // pair is emitted the moment its LATER doc arrives — the increment
    // matching against base-built state is the cross-batch near-dup
    // lookup a production ingest runs continuously. Pair existence is a
    // pure set function (order-free), so the oracle replays it in closed
    // form; duplicates from multi-band agreement collapse in the batch
    // read-back (distinct), and the spec pins that cross-batch pairs —
    // base doc matched by increment doc — actually occur.
    Gate("s30_lsh_index_stream", { (s, d) =>
      import s.implicits._
      withRocksDb(s) {
        val raw = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("text"))
        withBaseIncrementStream(raw) { dir =>
          // WORD 3-gram basis, not char shingles: this corpus's 3-char
          // universe saturates (l2's high-background-similarity regime),
          // which makes char-level MinHash buckets corpus-sized and the
          // estimates background-inflated — measured 74 665 "pairs" at
          // sf0.01 on the char basis vs a match-sized set on word grams.
          // Word grams are what production MinHash dedup shingles anyway
          // (Lee et al. 2022; The Stack), and the l62 oracle already
          // replays the gram + poly-hash arithmetic. Signature + banding
          // run as ONE typed flatMap per doc — see
          // [[EventStreams.bandRows]] for why not an expression chain.
          val banded = s.readStream.schema(raw.schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(dir)
            .select(col("doc_id"), col("text")).as[(Long, String)]
            .flatMap { case (id, text) => EventStreams.bandRows(id, text) }
          val pairs = EventStreams.lshIndexPairs(banded).toDF
          EventStreams.runToCompletion(s, pairs, "s30_sink", mode = "append")
            .distinct()
            .withColumn("est_j", Q.round4Ratio(col("n_matches"), lit(64L)))
            .orderBy("da", "db")
        }
      }
    },
      // Closed-form replay of the LSH index accretion: pair existence is a
      // pure set function of the signatures (order decides only detection
      // TIME), so the oracle computes the 64-lane MinHash per doc (the l57
      // affine-family replay over distinct shingle codes), bands of 4 lanes
      // joined on exact band content, and keeps pairs with >= 52 matching
      // lanes — exactly the processor's criterion, batch-free.
      s"""WITH w AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> t != '') AS ws
         |  FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(g) + 1),
         |                     i -> CAST(ascii(substring(g, i, 1)) AS BIGINT))),
         |      (acc, c) -> (acc * 31 + c) % 1000003) AS code
         |  FROM (SELECT doc_id,
         |          unnest(list_transform(range(1, len(ws) - 1),
         |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
         |        FROM w WHERE len(ws) >= 3)),
         |mh AS (
         |  SELECT doc_id, k.range AS k,
         |    MIN((code * (k.range * 2 + 3)
         |         + (k.range * k.range + k.range * 7 + 1))
         |        % 2147483647) AS mh
         |  FROM sh CROSS JOIN range(64) k GROUP BY 1, 2),
         |bands AS (
         |  SELECT doc_id, k // 4 AS bnd, list(mh ORDER BY k) AS bl
         |  FROM mh GROUP BY doc_id, bnd),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bands a JOIN bands b
         |    ON a.bnd = b.bnd AND a.bl = b.bl AND a.doc_id < b.doc_id),
         |m AS (
         |  SELECT c.da, c.db,
         |    CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_matches
         |  FROM cand c
         |  JOIN mh x ON x.doc_id = c.da
         |  JOIN mh y ON y.doc_id = c.db AND y.k = x.k
         |  GROUP BY 1, 2)
         |SELECT da, db, n_matches,
         |  ${Q.duckRound4Ratio("n_matches", "64")} AS est_j
         |FROM m WHERE n_matches >= 52
         |ORDER BY da, db""".stripMargin),

    // S31 — STREAMING GRAM INDEX (sub-document span dedup): the streaming
    // form of l65 the way s28 is of l1 — documents stream base-then-
    // increment, each exploded into word-6-gram occurrences keyed by the
    // gram, and a per-gram ValueState is the persistent span index: the
    // first occurrence ever claims the slot, every later one (same batch
    // or later) emits a duplicate verdict. The sunk (doc_id, s) verdicts
    // finish through l65's own masking epilogue ([[DedupOps.spanMask]]),
    // so batch and stream provably share the mask. Arrival order =
    // (parity, doc_id, s) under the even-base/odd-increment split, which
    // the oracle replays in its first-occurrence rank — 145 occurrence
    // verdicts differ from l65's (doc_id, s) order at sf0.01, so the
    // gate pins genuinely cross-batch semantics, not a l65 clone.
    Gate("s31_span_index_stream", { (s, d) =>
      import s.implicits._
      withRocksDb(s) {
        val raw = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("text"))
        withBaseIncrementStream(raw) { dir =>
          // THE batch generator, applied to the unbounded frame (every op
          // in it is streaming-compatible): batch l65 and streaming s31
          // tokenize/slice identically by construction, not by copy.
          val occ = DedupOps.spanOccurrences(
              s.readStream.schema(raw.schema)
                .option("pathGlobFilter", "*.parquet")
                .option("maxFilesPerTrigger", "1")
                .parquet(dir), 6)
            .as[EventStreams.GramOcc]
          val dups = EventStreams.spanIndexDups(occ).toDF
          val sunk = EventStreams.runToCompletion(s, dups, "s31_sink",
                                                  mode = "append")
          DedupOps.spanMask(raw, sunk, 6).orderBy("doc_id")
        }
      }
    },
      // l65's span-dedup replay under STREAMING ARRIVAL ORDER: the base
      // (even doc_id) batch processes first, so first-occurrence rank
      // orders by (doc_id % 2, doc_id, s) instead of l65's (doc_id, s) —
      // everything else (coverage union, ordered string_agg mask) is the
      // l65 oracle verbatim. A cross-batch state loss (an increment
      // occurrence not masked by a base-built gram slot) hash-fails here.
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x != '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(r.s AS BIGINT) AS s,
        |    array_to_string(w[r.s + 1 : r.s + 6], ' ') AS gram
        |  FROM t, unnest(range(0, greatest(len(w) - 5, 0))) AS r(s)),
        |d AS (
        |  SELECT doc_id, s FROM (
        |    SELECT doc_id, s,
        |      ROW_NUMBER() OVER (PARTITION BY gram
        |                         ORDER BY doc_id % 2, doc_id, s) AS rn
        |    FROM g) WHERE rn > 1),
        |cov AS (
        |  SELECT DISTINCT d.doc_id, d.s + o.o AS p
        |  FROM d, unnest(range(0, 6)) AS o(o)),
        |pos AS (
        |  SELECT doc_id, CAST(r.p AS BIGINT) AS p, w[r.p + 1] AS word
        |  FROM t, unnest(range(0, len(w))) AS r(p)),
        |kept AS (
        |  SELECT pos.doc_id, pos.p, pos.word
        |  FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
        |  WHERE cov.p IS NULL),
        |k AS (
        |  SELECT doc_id, COUNT(*) AS nk,
        |    string_agg(word, ' ' ORDER BY p) AS ct
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
        |  CAST(len(t.w) - COALESCE(k.nk, 0) AS BIGINT) AS n_dup_tokens,
        |  COALESCE(k.ct, '') AS clean_text
        |FROM t LEFT JOIN k ON t.doc_id = k.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // S12 — LEFT OUTER stream-stream join: the interval join (S6) in its
    // outer form, where an unmatched click must STILL emit (null view
    // side) — and may only do so once the watermark proves no match can
    // arrive. That state-expiry emission is the hardest stream-stream
    // semantics; end-of-stream alone never triggers it, so the source
    // carries click+view sentinels (user −1) that advance BOTH sides'
    // watermarks past every real row. Hash equals the batch LEFT JOIN.
    // S15 (batch form) — the interval EXISTS: clicks with at least one
    // same-user view in the preceding hour, via a LEFT SEMI join (one
    // output row per click regardless of match count).
    Gate("s15_interval_semi", { (s, d) =>
      val e = ev(s, d)
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
                col("ts").as("c_ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      c.join(v,
          col("c_user") === col("v_user") &&
          col("v_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") <= col("c_ts"), "left_semi")
        .select(col("click_id"), col("c_user").as("user_id"),
                Q.micros(col("c_ts")).as("ts_us"))
        .orderBy("click_id")
    },
      semiOracle),

    // S15 (stream form) — LEFT SEMI stream-stream join: the streaming
    // EXISTS. A matched click emits once on first match (never per-match
    // fan-out); an unmatched click is dropped silently when the watermark
    // proves no view can arrive. Sentinels on both types close the books.
    Gate("s15_semi_stream", (s, d) =>
      sentinelStream(s, d, Seq("click", "view")) { stream =>
        EventStreams.runToCompletion(
            s, EventStreams.intervalJoinSemi(stream, stream),
            "s15_sink", mode = "append")
          .filter(col("user_id") >= 0)
          .orderBy("click_id")
      },
      semiOracle),

    Gate("s12_interval_left_stream", (s, d) =>
      sentinelStream(s, d, Seq("click", "view")) { stream =>
        EventStreams.runToCompletion(
            s, EventStreams.intervalJoinOuter(stream, stream),
            "s12_sink", mode = "append")
          .filter(col("user_id") >= 0)
          .orderBy("click_id", "view_id")
      },
      // Outer form: a click with no view in its window emits one null-view
      // row. No click mixes null and non-null view_ids, so the null-
      // ordering difference between engines can never surface in the sort.
      """SELECT c.event_id AS click_id, v.event_id AS view_id,
        |       c.user_id, epoch_us(c.ts) AS c_ts_us, epoch_us(v.ts) AS v_ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND epoch_us(v.ts) BETWEEN epoch_us(c.ts) - 3600000000 AND epoch_us(c.ts)
        |ORDER BY click_id, view_id""".stripMargin),

    // S25 — FULL OUTER stream-stream interval join (round 9): unmatched
    // rows from BOTH sides emit on watermark expiry — the reconciliation
    // join neither s6 (inner) nor s12 (left outer) expresses. The total
    // export order runs over NULL-proof coalesced keys: Spark sorts ASC
    // NULLS FIRST while DuckDB defaults NULLS LAST, so a raw (click_id,
    // view_id) order would shuffle the unmatched-view block across
    // engines; COALESCE(·, -1) pins one order both engines share (real
    // ids are ≥ 0, and within the null-click block view_ids are
    // distinct). Sentinels on both types close the books; their rows
    // (user −1 on either surviving side) are filtered.
    Gate("s25_interval_full_stream", (s, d) =>
      sentinelStream(s, d, Seq("click", "view")) { stream =>
        EventStreams.runToCompletion(
            s, EventStreams.intervalJoinFull(stream, stream),
            "s25_sink", mode = "append")
          .filter(col("user_id") >= 0)
          .orderBy(coalesce(col("click_id"), lit(-1L)),
                   coalesce(col("view_id"), lit(-1L)))
      },
      """SELECT c.event_id AS click_id, v.event_id AS view_id,
        |       COALESCE(c.user_id, v.user_id) AS user_id,
        |       epoch_us(c.ts) AS c_ts_us, epoch_us(v.ts) AS v_ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND epoch_us(v.ts) BETWEEN epoch_us(c.ts) - 3600000000 AND epoch_us(c.ts)
        |ORDER BY COALESCE(c.event_id, -1), COALESCE(v.event_id, -1)""".stripMargin),

    // S10 — foreachBatch ETL: the stream lands in a parquet table via the
    // foreachBatch sink (each micro-batch written with the BATCH writer —
    // the production API for sinks streaming has no native writer for),
    // then the landed table is aggregated per type. Gates that the
    // batch-writer path loses nothing: counts, exact cents sums, and
    // micro timestamps must survive stream → parquet → scan.
    Gate("s10_foreachbatch", { (s, d) =>
      Scratch.using("s10") { scratch =>
        val projected = evStream(s, d).select(
          col("event_type"), col("value"), Q.micros(col("ts")).as("ts_us"))
        // Eagerly materialize the (tiny) aggregate so the landed parquet
        // can be deleted before returning — the landed table is the lazy
        // source of the result otherwise.
        EventStreams.foreachBatchEtl(s, projected, s"$scratch/landed")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), Q.sumMoney(col("value")).as("sum_value"),
               max(col("ts_us")).as("last_us"))
          .orderBy("event_type")
          .localCheckpoint(true)
      }
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MAX(epoch_us(ts)) AS last_us
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // S22 — the NATIVE parquet file sink: micro-batches commit atomically
    // into the `_spark_metadata` manifest and readers list the directory
    // THROUGH it — Spark's exactly-once contract for file outputs, where
    // s10's foreachBatch leaves idempotence to the user. The landed table
    // must aggregate identically to the source (the oracle); the manifest
    // listing itself (stray files invisible) is pinned by StreamingSpec.
    Gate("s22_file_sink", { (s, d) =>
      Scratch.using("s22") { scratch =>
        val projected = evStream(s, d).select(
          col("event_id"), col("event_type"), col("value"),
          Q.micros(col("ts")).as("ts_us"))
        EventStreams.fileSinkEtl(s, projected, s"$scratch/landed")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), Q.sumMoney(col("value")).as("sum_value"),
               min(col("event_id")).as("min_id"), max(col("ts_us")).as("last_us"))
          .orderBy("event_type")
          .localCheckpoint(true)
      }
    },
      // The manifest-listed landed table must aggregate exactly like the
      // source — a lost or double-committed micro-batch breaks the hash.
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MIN(event_id) AS min_id, MAX(epoch_us(ts)) AS last_us
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // S5 (batch form) — dedup by event_id keeping the MIN-ts row (total
    // tie-break ts, user_id, event_type), so the semantics are deterministic
    // even under real duplicates — matching the oracle's DISTINCT ON
    // ordering instead of dropDuplicates' arbitrary-row choice. The
    // stateful within-watermark variant is exercised in the MemoryStream
    // spec.
    Gate("s5_dedup_events", { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_id"))
        .orderBy(col("ts").asc, col("user_id").asc, col("event_type").asc)
      ev(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
                Q.micros(col("ts")).as("ts_us"))
        .orderBy("event_id")
    },
      dedupOracle))
}
