package graft

import java.sql.Timestamp

import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming semantics under out-of-order and late data
  * (SURVEY.md §5.2 item 4): final state equals the batch computation, and
  * watermark-expired events are dropped in append mode.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import StreamingSpec.Ev

  private def t(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  /** Epoch micros of 2024-01-01 00:00 UTC + h hours — window-start values. */
  private def ws(h: Int): Long = 1704067200000000L + h * 3600000000L

  /** Run `body` with the RocksDB state-store provider. */
  private def withRocksDb[A](body: => A): A =
    Engine.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  private def runStream(events: Seq[Seq[Ev]],
                        build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        mode: String, name: String) = {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = build(ms.toDF()).writeStream
      .format("memory").queryName(name)
      .outputMode(mode)
      .start()
    try {
      events.foreach { batch => ms.addData(batch); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  test("tumbling aggregate final state equals batch despite out-of-order delivery") {
    // Three hours of events delivered shuffled across micro-batches.
    val evs = Seq(
      Ev(1, t(10), 1, "a", 1.0), Ev(2, t(70), 1, "a", 2.0),
      Ev(3, t(130), 2, "b", 3.0), Ev(4, t(20), 2, "a", 4.0),
      Ev(5, t(75), 1, "b", 5.0), Ev(6, t(15), 1, "a", 6.0))
    val outOfOrder = Seq(Seq(evs(2), evs(0)), Seq(evs(4), evs(3)), Seq(evs(1), evs(5)))
    val got = runStream(outOfOrder, EventStreams.tumblingCounts, "complete", "t_ooo")
      .orderBy("ws", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))

    val batch = evs.toDF()
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
           sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_micros($"window.start").as("ws"), $"event_type", $"n", $"sum_value")
      .orderBy("ws", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))

    assert(got.toSeq == batch.toSeq)
  }

  test("append-mode window emits once the watermark passes and drops too-late data") {
    // Batch 1: events at minute 10 and 200 (watermark 2h → wm = 200-120 = 80,
    // so the hour-0 window [0,60) closes and emits).
    // Batch 2: a very late event at minute 5 — behind the watermark; it must
    // NOT resurrect the already-emitted hour-0 window.
    val batches = Seq(
      Seq(Ev(1, t(10), 1, "a", 1.0), Ev(2, t(200), 1, "a", 2.0)),
      Seq(Ev(3, t(5), 1, "a", 100.0)))
    val got = runStream(batches, EventStreams.tumblingCounts, "append", "t_late")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // Only the hour-0 window has been finalized; it contains exactly event 1.
    assert(got.toSeq == Seq((ws(0), "a", 1L, 1.0)))
  }

  test("union of two sources: the LAGGING source's watermark gates finalization") {
    // Two independent MemoryStreams unioned into one append-mode tumbling
    // aggregate (the s24 shape). Source A races ahead (minute 200 → its
    // own watermark would close hour 0); source B still sits at minute 30.
    // The query watermark is the MIN across sources, so hour 0 must NOT
    // emit until B also advances — the cross-source consistency contract.
    implicit val sq = spark.sqlContext
    val a = MemoryStream[Ev]
    val b = MemoryStream[Ev]
    val q = EventStreams.unionCounts(a.toDF(), b.toDF()).writeStream
      .format("memory").queryName("t_union_wm").outputMode("append")
      .start()
    try {
      a.addData(Ev(1, t(10), 1, "click", 1.0), Ev(2, t(200), 1, "click", 2.0))
      b.addData(Ev(3, t(20), 2, "view", 3.0), Ev(4, t(30), 2, "view", 4.0))
      q.processAllAvailable()
      assert(spark.table("t_union_wm").isEmpty,
             "hour 0 finalized while source B's watermark was still inside it")
      // B catches up past hour 0 + watermark; now hour 0 emits from BOTH feeds.
      b.addData(Ev(5, t(210), 2, "view", 5.0))
      q.processAllAvailable()
      val got = spark.table("t_union_wm")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2))
      assert(got.toSeq == Seq((ws(0), "click", 1L, 1.0), (ws(0), "view", 2L, 7.0)))
    } finally q.stop()
  }

  test("chained windowed aggs emit each hour exactly once; late data stays dead") {
    // Hour 0 holds four events across three distinct 10-minute sub-windows
    // (0, 10, 20). Batch 2's far-future event pushes the watermark past the
    // hour-0 end, so BOTH stateful operators finalize it: the 10-minute
    // layer emits three sub-window rows, the hour layer folds them into one
    // row. Batch 3's event is behind the watermark — it must not resurrect
    // either layer's closed windows.
    val batches = Seq(
      Seq(Ev(1, t(5), 1, "a", 1.0), Ev(2, t(12), 1, "a", 2.0),
          Ev(3, t(25), 2, "a", 3.0), Ev(4, t(12), 2, "a", 4.0)),
      Seq(Ev(5, t(400), 1, "a", 5.0)),
      Seq(Ev(6, t(8), 1, "a", 6.0)))
    val got = runStream(batches, EventStreams.chainedCounts, "append", "t_chained")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // Exactly ONE finalized row: hour 0 with n=4 events over n_sub=3
    // sub-windows. The minute-400 hour is still open (wm = 280 < 420).
    assert(got.toSeq == Seq((ws(0), "a", 4L, 3L)))
  }

  test("dedup→window chain suppresses duplicates before the hour finalizes") {
    // Hour 0 carries events 1, 2 (type a) and 3 (type b); 1 duplicates
    // within its batch, 2 duplicates ACROSS batches — both must be
    // absorbed by the dedup state before the window layer counts. The
    // minute-400 event only advances the watermark past hour 0.
    val batches = Seq(
      Seq(Ev(1, t(5), 1, "a", 1.0), Ev(2, t(12), 1, "a", 2.0),
          Ev(1, t(5), 1, "a", 1.0)),
      Seq(Ev(2, t(12), 1, "a", 2.0), Ev(3, t(30), 2, "b", 3.0)),
      Seq(Ev(9, t(400), 1, "z", 9.0)))
    val got = runStream(batches, EventStreams.dedupThenWindow, "append", "t_s16")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2))
    // Clean counts, not doubled; the minute-400 hour is still open.
    assert(got.toSeq == Seq((ws(0), "a", 2L), (ws(0), "b", 1L)))
  }

  test("join→window chain rolls matched pairs into click-hours exactly once") {
    // click@10 matches view@5 (within its preceding hour); click@70
    // matches view@65 but NOT view@5 (65 min gap). The watermarks sit
    // ABOVE the event_type filters, so the advancing sentinels must be a
    // click AND a view (a third type would be filtered out before ever
    // reaching either watermark node); their own hour-8 pair never
    // finalizes because the watermark stops 2 h short of it.
    val batches = Seq(
      Seq(Ev(1, t(10), 1, "click", 0.0), Ev(2, t(5), 1, "view", 0.0),
          Ev(3, t(65), 1, "view", 0.0)),
      Seq(Ev(4, t(70), 1, "click", 0.0)),
      Seq(Ev(8, t(500), 9, "click", 9.0), Ev(9, t(500), 9, "view", 9.0)))
    val got = runStream(batches, df => EventStreams.joinThenWindow(df, df),
                        "append", "t_s17")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq((ws(0), 1L), (ws(1), 1L)))
  }

  test("statestore read of a complete-mode aggregate equals the batch rollup") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(Seq(Ev(1, t(10), 1, "a", 1.5), Ev(2, t(20), 2, "b", 2.0),
                   Ev(3, t(30), 1, "a", 0.25)))
    val agg = ms.toDF().groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           sum(($"value".cast("decimal(18,2)") * 100).cast("long")).as("cents"))
    val got = EventStreams.runThenReadState(spark, agg, "t_s18") { ckpt =>
      spark.read.format("statestore").load(ckpt)
        .select($"key.event_type", $"value.count".as("n"),
                $"value.sum".as("cents"))
    }.orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 2L, 175L), ("b", 1L, 200L)))
  }

  test("restart recovery: resumed incarnation equals the whole-input batch") {
    val d = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("s19_restart_recovery")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val want = SparkEntry.queries("s1_tumbling_window")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("s28 fingerprint index: cross-batch state classifies the increment") {
    val d = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("s28_fp_index_stream")(spark, d)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // Independent batch derivation: canonical = min even doc_id when the
    // fingerprint appears in the base batch, else min doc_id overall.
    val fps = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.rollingFingerprint("text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val canon = fps.filter(_._2 != -1L).groupBy(_._2).map { case (fp, ds) =>
      val ids = ds.map(_._1)
      fp -> ids.filter(_ % 2 == 0).minOption.getOrElse(ids.min)
    }
    // Sentinel rows (fp = −1, sub-window texts) bypass the index: 'nofp',
    // canonical = self (round 15).
    val want = fps.map { case (id, fp) =>
      id -> (if (fp == -1L) ((fp, id, "nofp"))
             else ((fp, canon(fp), if (id == canon(fp)) "first" else "dup")))
    }.toMap
    assert(got == want)
    // The interesting case must exist in the fixture: an odd (increment)
    // doc classified dup against an EVEN canonical — state built in batch
    // 1 consulted in batch 2. Without it the gate degenerates to
    // within-batch dedup.
    assert(want.exists { case (id, (_, c, st)) =>
      id % 2 == 1 && c % 2 == 0 && st == "dup" },
      "fixture has no cross-batch dup — the gate would not exercise state")
    // ORDER-sensitivity proof: a fingerprint whose smallest doc_id is ODD
    // must still elect its smallest EVEN doc (the base batch ran first).
    // If the two files collapsed into one batch — or processed
    // newest-first — the min-id-overall rule would elect the odd doc and
    // these keys would diverge (25 such fingerprints at this sf).
    val orderSensitive = fps.groupBy(_._2).filter { case (_, ds) =>
      val ids = ds.map(_._1)
      ids.exists(_ % 2 == 0) && ids.min % 2 == 1
    }
    assert(orderSensitive.nonEmpty,
      "fixture has no order-sensitive fingerprint — batch order unpinned")
    orderSensitive.foreach { case (fp, ds) =>
      val evenMin = ds.map(_._1).filter(_ % 2 == 0).min
      ds.foreach { case (id, _) =>
        assert(got(id)._2 == evenMin, s"fp $fp: doc $id elected ${got(id)._2}")
      }
    }
  }

  test("fp index sentinel: sub-window docs pass through as nofp, never dups") {
    // r14 ADVICE: rollingFingerprint emits −1 for texts shorter than its
    // 8-char window; routing those through the index would collapse ALL
    // short docs onto one state key and classify them as mutual dups
    // regardless of content. They must bypass the stateful op: status
    // 'nofp', canonical = self — in the same batch AND across batches.
    import graft.streaming.EventStreams.{FpDoc, FpStatus}
    implicit val sq = spark.sqlContext
    withRocksDb {
      val ms = MemoryStream[FpDoc]
      val statuses = EventStreams.fpIndexStatuses(ms.toDS())
      val q = statuses.writeStream
        .format("memory").queryName("t_fp_nofp").outputMode("append").start()
      try {
        // Batch 1: two distinct short docs (both fp −1) + one real fp.
        ms.addData(Seq(FpDoc(-1L, 10), FpDoc(-1L, 11), FpDoc(42L, 12)))
        q.processAllAvailable()
        // Batch 2: another short doc + a real dup of fp 42.
        ms.addData(Seq(FpDoc(-1L, 20), FpDoc(42L, 21)))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("t_fp_nofp").as[FpStatus].collect()
        .map(s => s.doc_id -> ((s.canonical_id, s.status))).toMap
      assert(got == Map(
        10L -> ((10L, "nofp")), 11L -> ((11L, "nofp")),
        12L -> ((12L, "first")), 20L -> ((20L, "nofp")),
        21L -> ((12L, "dup"))), s"got $got")
    }
  }

  test("s30 LSH index: gate pairs equal an independent replay, cross-batch") {
    val d = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("s30_lsh_index_stream")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // Independent replay in plain Scala: word 3-grams, the poly fold,
    // the 64-lane affine family, band agreement, >= 52-lane verify.
    val docsArr = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def sigOf(text: String): Option[Array[Long]] = {
      val toks = text.split(" ").filter(_.nonEmpty).toSeq
      if (toks.length < 3) return None
      val codes = toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
        .map(_.codePoints.toArray
          .foldLeft(0L)((acc, cp) => (acc * 31 + cp) % 1000003L))
      Some(Array.tabulate(64)(k => codes
        .map(c => (c * (2L * k + 3) + (k.toLong * k + 7L * k + 1)) % 2147483647L)
        .min))
    }
    val sigs = docsArr.flatMap { case (id, t) => sigOf(t).map(id -> _) }
    val want = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      (ia, sa) = sigs(i)
      (ib, sb) = sigs(j)
      if (0 until 16).exists(b => (0 until 4).forall(x => sa(b*4+x) == sb(b*4+x)))
      m = (0 until 64).count(x => sa(x) == sb(x))
      if m >= 52
    } yield (math.min(ia, ib), math.max(ia, ib)) -> m.toLong).toMap
    assert(want.nonEmpty, "fixture has no near-dup pairs — vacuous gate")
    assert(got == want)
    // The interesting case must exist: a pair split across the base
    // (even) and increment (odd) files — detected only because the
    // increment arrival consulted state built by the base batch.
    assert(want.keys.exists { case (a, b) => a % 2 != b % 2 },
      "fixture has no cross-batch near-dup — the gate would not exercise state")
  }

  test("LSH index state: the pair emits in the batch its later doc arrives") {
    import graft.streaming.EventStreams.{BandRow, LshPair}
    implicit val sq = spark.sqlContext
    withRocksDb {
      val ms = MemoryStream[BandRow]
      val q = EventStreams.lshIndexPairs(ms.toDS()).toDF.writeStream
        .format("memory").queryName("t_lsh_idx").outputMode("append").start()
      try {
        val sigA = Array.tabulate(64)(_.toLong)
        val sigB = sigA.clone(); sigB(63) = 999L          // 63/64 matches
        val sigC = Array.tabulate(64)(k => 1000L + k)     // unrelated
        def rows(id: Long, sig: Array[Long]) = (0 until 16).map(b =>
          BandRow(b, sig(b*4), sig(b*4+1), sig(b*4+2), sig(b*4+3), id, sig))
        // Batch 1 indexes A and C: no pairs yet.
        ms.addData(rows(1, sigA) ++ rows(5, sigC))
        q.processAllAvailable()
        assert(spark.table("t_lsh_idx").isEmpty,
          "no pair may emit before the later doc arrives")
        // Batch 2: B lands in 15 of A's 16 band buckets (the last band
        // differs) — the cross-batch lookup must find A in state and
        // emit exactly one distinct pair with 63 matching lanes.
        ms.addData(rows(2, sigB))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("t_lsh_idx").as[LshPair].collect().toSeq.distinct
      assert(got == Seq(LshPair(1, 2, 63)), s"got $got")
    }
  }

  test("s31 span index: gate masks equal an independent arrival-order replay") {
    val d = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("s31_span_index_stream")(spark, d)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // Independent replay in plain Scala: word 6-grams, first occurrence
    // under the STREAMING arrival order (parity, doc_id, s) — even docs
    // are the base batch — coverage union, mask, re-join.
    val n = 6
    val docsArr = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .sortBy { case (id, _) => (id % 2, id) }
    val toks = docsArr.map { case (id, t) =>
      id -> t.split(" ").filter(_.nonEmpty).toVector }
    val seen = scala.collection.mutable.Set.empty[String]
    val dup = scala.collection.mutable.Map.empty[Long, List[Int]]
    var crossBatch = false
    val firstParity = scala.collection.mutable.Map.empty[String, Long]
    for ((id, w) <- toks; s <- 0 to w.length - n) {
      val g = w.slice(s, s + n).mkString(" ")
      if (!seen.add(g)) {
        dup(id) = s :: dup.getOrElse(id, Nil)
        if (id % 2 == 1 && firstParity(g) == 0L) crossBatch = true
      } else firstParity(g) = id % 2
    }
    val want = toks.map { case (id, w) =>
      val cov = dup.getOrElse(id, Nil).flatMap(s => s until s + n).toSet
      val kept = w.zipWithIndex.collect { case (t, i) if !cov(i) => t }
      id -> ((w.length.toLong, (w.length - kept.length).toLong,
              kept.mkString(" ")))
    }.toMap
    assert(got == want)
    assert(want.exists(_._2._2 > 0), "fixture has no duplicated span — vacuous")
    // The interesting case must exist: an odd (increment) occurrence
    // masked by a gram slot BUILT IN THE BASE BATCH — cross-batch state.
    assert(crossBatch,
      "fixture has no cross-batch span dup — the gate would not exercise state")
    // ORDER-sensitivity proof: some gram's smallest doc_id is odd while
    // an even doc also carries it — the base batch ran first, so the even
    // occurrence survives and the odd one masks (the reverse of l65's
    // (doc_id, s) order). Verified against l65's own batch output.
    val l65 = graft.operators.DedupOps
      .spanDedup(spark.read.parquet(s"$d/documents.parquet"), n)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(want.exists { case (id, (_, nd, _)) => l65(id) != nd },
      "streaming order indistinguishable from batch order at this sf")
  }

  test("span index state: an increment occurrence masks against base state") {
    import graft.streaming.EventStreams.{GramOcc, SpanDup}
    implicit val sq = spark.sqlContext
    withRocksDb {
      val ms = MemoryStream[GramOcc]
      val q = EventStreams.spanIndexDups(ms.toDS()).toDF.writeStream
        .format("memory").queryName("t_span_idx").outputMode("append").start()
      try {
        // Batch 1: gram g1 occurs at (doc 2, s 0) and (doc 4, s 3) — the
        // smaller (doc, s) claims the slot, the other emits in-batch.
        ms.addData(Seq(GramOcc("g1", 4L, 3L), GramOcc("g1", 2L, 0L)))
        q.processAllAvailable()
        assert(spark.table("t_span_idx").as[SpanDup].collect().toSet ==
          Set(SpanDup(4L, 3L)), "in-batch later occurrence must emit dup")
        // Batch 2: g1 again (cross-batch dup) + a fresh gram (kept).
        ms.addData(Seq(GramOcc("g1", 3L, 1L), GramOcc("g2", 3L, 5L)))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("t_span_idx").as[SpanDup].collect().toSet
      assert(got == Set(SpanDup(4L, 3L), SpanDup(3L, 1L)), s"got $got")
    }
  }

  test("s29 KMV monitor: per-batch sketch readings equal the phase replays") {
    val d = "/root/testdata/sf0.001"
    val M = 2147483647L
    def h2(gram: String): Long = {
      var acc = 0L
      gram.foreach { c => acc = (acc * 31 + c.toLong) % 1000003L }
      (acc * 2654435761L) % M
    }
    val rows = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def phaseSketch(keep: Long => Boolean): Map[String, Seq[Long]] =
      rows.filter(t => keep(t._1)).groupBy(_._2).view.mapValues { rs =>
        rs.flatMap { case (_, _, text) =>
          val ts = text.split(' ').filter(_.nonEmpty)
          ts.sliding(3).filter(_.length == 3).map(g => h2(g.mkString(" ")))
        }.toSet.toSeq.sorted.take(256)
      }.toMap
    def reading(lang: String, phase: Long, sk: Seq[Long]) = {
      val est = if (sk.size < 256) sk.size.toLong else 255L * M / sk.last
      (lang, phase) -> ((sk.size.toLong, sk.last, est))
    }
    val want =
      phaseSketch(_ % 2 == 0).map { case (l, s) => reading(l, 1L, s) } ++
      phaseSketch(_ => true).map { case (l, s) => reading(l, 2L, s) }
    val got = SparkEntry.queries("s29_kmv_monitor_stream")(
        spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getAs[Long]("n_sketch"), r.getAs[Long]("hk"),
          r.getAs[Long]("est_distinct")))).toMap
    assert(got == want)
    // Both the saturated-estimator path and genuine phase-2 growth must
    // be exercised, or the gate degenerates.
    assert(want.values.exists(_._1 == 256L), "no saturated sketch in fixture")
    assert(want.exists { case ((l, p), (_, hk1, _)) =>
      p == 1L && hk1 != want((l, 2L))._2
    }, "no language's sketch changed between phases — accretion untested")
  }

  test("s26 changelog restart equals the whole-input batch") {
    val d = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("s26_changelog_restart")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val want = SparkEntry.queries("s1_tumbling_window")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("changelog checkpointing writes per-batch .changelog files (the lever engaged)") {
    // Without this check a conf typo would silently fall back to full
    // per-commit snapshots — same answers, none of the recovery-cost win
    // the s26 gate exists to exercise.
    implicit val sq = spark.sqlContext
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")
    Scratch.using("t-chlog") { ckpt => Engine.withConf(spark, confs: _*) {
      val ms = MemoryStream[Ev]
      val q = EventStreams.tumblingCounts(ms.toDF()).writeStream
        .format("memory").queryName("t_s26c").outputMode("complete")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        ms.addData(Seq(Ev(1, t(10), 1, "a", 1.0)))
        q.processAllAvailable()
        ms.addData(Seq(Ev(2, t(70), 1, "b", 2.0)))
        q.processAllAvailable()
      } finally q.stop()
      val changelogs = java.nio.file.Files.walk(ckpt)
        .filter((p: java.nio.file.Path) => p.toString.endsWith(".changelog"))
        .count()
      assert(changelogs > 0,
        "RocksDB changelog checkpointing produced no .changelog files")
    }}
  }

  test("s10 replayed micro-batch lands idempotently (batchId-keyed overwrite)") {
    // foreachBatch is AT-LEAST-ONCE: a crash between the sink write and
    // the checkpoint commit re-runs the batch with the SAME batchId on
    // restart. The batchId-keyed overwrite writer must land the replay on
    // top of the original instead of appending a duplicate. Simulated
    // here by deleting the last checkpoint commit marker after a clean
    // run — the restart then re-delivers the final batch.
    val half0 = Seq(Ev(1, t(10), 1, "a", 1.0), Ev(2, t(70), 1, "b", 2.0))
    val half1 = Seq(Ev(3, t(130), 2, "c", 3.0), Ev(4, t(20), 2, "d", 4.0))
    val calls = new java.util.concurrent.atomic.AtomicInteger
    Scratch.using("t-fb") { root =>
      val Seq(src, out, ckpt) = Seq("src", "out", "ckpt").map(root.resolve)
      def addFiles(rows: Seq[Ev]): Unit =
        rows.toDF().coalesce(1).write.mode("append").parquet(src.toString)
      def run(): Unit = {
        val stream = spark.readStream.schema(half0.toDF().schema)
          .parquet(src.toString)
        val q = stream.writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            calls.incrementAndGet()
            EventStreams.idempotentBatchWrite(out.toString)(b, id)
          }
          .option("checkpointLocation", ckpt.toString)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      addFiles(half0); run()          // batch 0
      addFiles(half1); run()          // batch 1
      def landedIds(): Seq[Long] = spark.read.parquet(out.toString)
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(landedIds() == Seq(1L, 2L, 3L, 4L))
      // Simulate the failure window: batch 1's sink write survived, its
      // commit marker did not.
      val commits = java.nio.file.Files.list(ckpt.resolve("commits"))
      val last = scala.jdk.CollectionConverters.IteratorHasAsScala(
          commits.iterator()).asScala.toSeq
        .filter(_.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
      commits.close()
      java.nio.file.Files.delete(last)
      // The local checkpoint FS is checksummed — the marker's .crc
      // sidecar must go with it or the replayed commit's rename fails.
      java.nio.file.Files.deleteIfExists(
        last.resolveSibling(s".${last.getFileName}.crc"))
      run()                           // restart replays batch 1
      assert(calls.get() == 3, s"expected a replayed third batch, got ${calls.get()}")
      assert(landedIds() == Seq(1L, 2L, 3L, 4L),
        "replayed batch must overwrite its own directory, not append duplicates")
    }
  }

  test("stream-static anti join drops base-index ids before the rollup") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val base = Seq(2L, 4L).toDF("event_id")
    val agg = EventStreams.staticAntiCounts(ms.toDF(), base)
    val q = agg.writeStream.format("memory").queryName("t_s20")
      .outputMode("complete").start()
    try {
      ms.addData(Seq(Ev(1, t(10), 1, "a", 1.0), Ev(2, t(11), 1, "a", 2.0),
                     Ev(3, t(12), 1, "b", 0.5), Ev(4, t(13), 1, "b", 9.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_s20").orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 1L, 100L), ("b", 1L, 50L)))
  }

  test("streaming dedup keeps one row per event_id within the watermark") {
    val batches = Seq(
      Seq(Ev(1, t(10), 1, "a", 1.0), Ev(2, t(11), 1, "a", 2.0)),
      Seq(Ev(1, t(12), 9, "z", 9.0)),   // duplicate id, different payload
      Seq(Ev(3, t(13), 2, "b", 3.0)))
    val got = runStream(batches, EventStreams.dedup, "append", "t_dedup")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("flatMapGroupsWithState custom sessions emit once with count+sum on timeout") {
    import graft.streaming.EventStreams.{UserEvent, UserSession}
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[UserEvent]
    val sessions = EventStreams.customSessions(ms.toDS(), gapMinutes = 30)
    val q = sessions.writeStream
      .format("memory").queryName("t_custom_sess").outputMode("append").start()
    try {
      // Session A: user 1, events at minutes 0 and 10 (values 1.5, 2.5).
      ms.addData(Seq(UserEvent(1, t(0), 1.5), UserEvent(1, t(10), 2.5)))
      q.processAllAvailable()
      // Advance event time far enough that watermark (2h behind) passes
      // session A's gap deadline → the timeout fires and emits it.
      ms.addData(Seq(UserEvent(2, t(300), 9.0)))
      q.processAllAvailable()
      ms.addData(Seq(UserEvent(2, t(600), 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_custom_sess").as[UserSession].collect()
      .map(s => (s.user_id, s.n_events, s.sum_cents)).sorted
    // Session A closed by timeout: 2 events, 400 cents total. User 2's
    // first session (min 300) closes when the watermark reaches min
    // 300+30 (the min-600 batch sets watermark to min 480... not yet) —
    // so exactly user 1's session is emitted.
    assert(got.contains((1L, 2L, 400L)))
    assert(got.forall(_._1 == 1L) || got.contains((2L, 1L, 900L)))
  }

  test("transformWithState sessions: extension deletes the stale timer, emits once") {
    import graft.streaming.EventStreams.{UserEvent, UserSession}
    implicit val sq = spark.sqlContext
    withRocksDb {
      val ms = MemoryStream[UserEvent]
      val sessions = EventStreams.twsSessions(ms.toDS(), gapMinutes = 30)
      val q = sessions.writeStream
        .format("memory").queryName("t_tws_sess").outputMode("append").start()
      try {
        // User 1: events at minutes 0 and 10 → open session, timer at 40.
        ms.addData(Seq(UserEvent(1, t(0), 1.5), UserEvent(1, t(10), 2.5)))
        q.processAllAvailable()
        // Minute 35 extends the session (25 < 30 gap): the minute-40 timer
        // must be DELETED, or it would close a live session prematurely.
        ms.addData(Seq(UserEvent(1, t(35), 0.5)))
        q.processAllAvailable()
        // Advance the watermark (2h behind) past minute 65 → timer fires,
        // the session emits exactly once with all three events.
        ms.addData(Seq(UserEvent(2, t(300), 9.0)))
        q.processAllAvailable()
        ms.addData(Seq(UserEvent(2, t(600), 1.0)))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("t_tws_sess").as[UserSession].collect()
        .map(s => (s.user_id, s.n_events, s.sum_cents)).toSeq.sorted
      assert(got.count(_._1 == 1L) == 1, s"user-1 session must emit once: $got")
      assert(got.contains((1L, 3L, 450L)), s"3 events, 450 cents: $got")
    }
  }

  test("transformWithState map state: eviction flushes partials that sum to the total") {
    import graft.streaming.EventStreams.{TypedEvent, UserTypeCount}
    implicit val sq = spark.sqlContext
    withRocksDb {
      val ms = MemoryStream[TypedEvent]
      val counts = EventStreams.twsTypeCounts(ms.toDS(), gapMinutes = 30)
      val q = counts.writeStream
        .format("memory").queryName("t_tws_map").outputMode("append").start()
      try {
        // Burst 1: user 1 clicks twice, views once (minutes 0-10).
        ms.addData(Seq(TypedEvent(1, t(0), "click", 1.0),
                       TypedEvent(1, t(5), "view", 2.0),
                       TypedEvent(1, t(10), "click", 3.0)))
        q.processAllAvailable()
        // Watermark driver: minute 300+120 ⇒ wm minute 180 > 10+30 —
        // burst 1 must flush (and the map must CLEAR).
        ms.addData(Seq(TypedEvent(2, t(300), "click", 9.0)))
        q.processAllAvailable()
        // Burst 2 for user 1 (minute 400): a fresh partial, not a
        // continuation — if eviction failed to clear, click would carry 3.
        ms.addData(Seq(TypedEvent(1, t(400), "click", 5.0)))
        q.processAllAvailable()
        // Advance the watermark past burst 2's deadline.
        ms.addData(Seq(TypedEvent(2, t(700), "view", 1.0)))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("t_tws_map").as[UserTypeCount].collect()
        .map(c => (c.user_id, c.event_type, c.n, c.cents)).toSeq
      val u1 = got.filter(_._1 == 1L)
      // Burst 1 partials: click (2, 400 cents), view (1, 200 cents).
      assert(u1.contains((1L, "click", 2L, 400L)), s"burst-1 click: $got")
      assert(u1.contains((1L, "view", 1L, 200L)), s"burst-1 view: $got")
      // Burst 2 is a FRESH partial — eviction cleared the map.
      assert(u1.contains((1L, "click", 1L, 500L)), s"burst-2 click: $got")
      // Partials sum to the per-(user, type) totals.
      val clickTotal = u1.filter(_._2 == "click").map(_._4).sum
      assert(clickTotal == 900L, s"click partials must sum to 900: $got")
    }
  }

  test("transformWithState list state: out-of-order appends digest in event order") {
    import graft.streaming.EventStreams.{IdEvent, SessionDigest}
    implicit val sq = spark.sqlContext
    withRocksDb {
      val ms = MemoryStream[IdEvent]
      val digests = EventStreams.twsSessionDigests(ms.toDS(), gapMinutes = 30)
      val q = digests.writeStream
        .format("memory").queryName("t_tws_list").outputMode("append").start()
      try {
        // Session 1 for user 1 delivered OUT OF ORDER across two batches:
        // arrival order (id 3, id 1) then (id 2) — event-time order is
        // 1 (min 0, 100c), 2 (min 5, 200c), 3 (min 10, 300c).
        ms.addData(Seq(IdEvent(1, 3, t(10), 3.0), IdEvent(1, 1, t(0), 1.0)))
        q.processAllAvailable()
        ms.addData(Seq(IdEvent(1, 2, t(5), 2.0)))
        q.processAllAvailable()
        // A ≥30-min jump in the SAME batch closes session 1 inline and
        // starts session 2 (id 4, min 60, 400c).
        ms.addData(Seq(IdEvent(1, 4, t(60), 4.0)))
        q.processAllAvailable()
        // Advance the watermark (2 h behind) past session 2's deadline.
        ms.addData(Seq(IdEvent(2, 9, t(700), 9.0)))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("t_tws_list").as[SessionDigest].collect()
        .map(s => (s.user_id, s.n_events, s.sum_cents, s.weighted_cents))
        .toSeq.sorted
      // Weighted checksum in EVENT order: 1·100 + 2·200 + 3·300 = 1400 —
      // arrival order (3,1,2) would read 1·300 + 2·100 + 3·200 = 1100.
      assert(got.contains((1L, 3L, 600L, 1400L)),
        s"session-1 digest must weight by event order: $got")
      assert(got.contains((1L, 1L, 400L, 400L)), s"session-2 digest: $got")
      assert(got.count(_._1 == 1L) == 2, s"user 1 closes exactly twice: $got")
    }
  }

  test("file sink: _spark_metadata manifest governs the read; stray files are invisible") {
    import graft.streaming.EventStreams.UserEvent
    implicit val sq = spark.sqlContext
    Scratch.using("fsink-spec") { out =>
      val ms = MemoryStream[UserEvent]
      ms.addData(Seq(UserEvent(1, t(0), 1.0), UserEvent(2, t(5), 2.0)))
      EventStreams.fileSinkEtl(spark, ms.toDF(), s"$out/landed")
      assert(new java.io.File(s"$out/landed/_spark_metadata").exists,
             "file sink must write its transaction manifest")
      val committed = spark.read.parquet(s"$out/landed").count()
      assert(committed == 2)
      // A stray parquet file (a crashed writer's orphan, a manual copy)
      // lands in the directory but NOT in the manifest — the read must
      // not see its rows. This is the exactly-once file-listing contract.
      spark.createDataFrame(Seq((99L, t(1), 9.9)))
        .toDF("user_id", "ts", "value")
        .coalesce(1).write.parquet(s"$out/stray")
      val strayPart = new java.io.File(s"$out/stray").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(strayPart.toPath,
        java.nio.file.Paths.get(s"$out/landed/zz_stray.parquet"))
      assert(spark.read.parquet(s"$out/landed").count() == committed,
             "manifest-listed read must ignore files outside the manifest")
    }
  }

  test("AvailableNow + maxFilesPerTrigger: backlog lands over MULTIPLE atomic commits") {
    // s22/s23 prove the manifest contract and self-terminating backfill;
    // this pins the RATE-LIMITING discipline between them: a 4-file
    // backlog consumed 1 file per trigger must land as >=4 separate
    // atomic manifest commits — the bounded-micro-batch behavior a
    // 100 TB backfill relies on (state and sink commits sized by the
    // trigger cap, not by backlog size) — with the SAME final table as
    // the batch read.
    Scratch.using("mfpt") { root =>
      (0 until 4).foreach { i =>
        spark.range(i * 10, i * 10 + 10).selectExpr("id", "id * 2 AS v")
          .coalesce(1).write.mode("append").parquet(s"$root/in")
      }
      val sch = spark.read.parquet(s"$root/in").schema
      val stream = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val q = stream.writeStream.format("parquet")
        .option("path", s"$root/landed")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val commits = new java.io.File(s"$root/landed/_spark_metadata")
        .listFiles().map(_.getName).filter(_.forall(_.isDigit))
      assert(commits.length >= 4,
             s"rate limiting must split the backlog into >=4 manifest " +
             s"commits, got: ${commits.toSeq.sorted}")
      val landed = spark.read.parquet(s"$root/landed")
      assert(landed.count() == 40)
      assert(landed.agg(sum("v")).head.getLong(0) ==
             spark.read.parquet(s"$root/in").agg(sum("v")).head.getLong(0))
    }
  }

  test("rate-limited restart mid-backlog: offsets resume, nothing reprocessed") {
    // The closest sandbox-honest stand-in for a production source's
    // offset discipline (no Kafka broker in the container): a rate-
    // limited file source run as TWO incarnations over ONE checkpoint.
    // Incarnation 1 drains a 3-file backlog 1 file per trigger and
    // terminates; 3 more files arrive; incarnation 2 must resume FROM
    // THE OFFSET LOG — its commits continue the batch numbering and the
    // landed table holds each input row exactly once (a duplicate = a
    // replayed offset, a gap = a skipped file; either breaks the count
    // or the distinct-id set). This is `startingOffsets`/
    // `maxOffsetsPerTrigger` semantics expressed through the file
    // source's maxFilesPerTrigger + checkpoint, the engine-side half a
    // broker-backed source would reuse unchanged.
    Scratch.using("resume") { root =>
      def addFiles(r: Range): Unit = r.foreach { i =>
        spark.range(i * 10, i * 10 + 10).selectExpr("id", "id * 2 AS v")
          .coalesce(1).write.mode("append").parquet(s"$root/in")
      }
      addFiles(0 until 3)
      val sch = spark.read.parquet(s"$root/in").schema
      def run(): Unit = {
        val q = spark.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
          .writeStream.format("parquet")
          .option("path", s"$root/landed")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run()
      assert(spark.read.parquet(s"$root/landed").count() == 30,
             "first incarnation must land exactly the first backlog")
      addFiles(3 until 6)
      run()
      val landed = spark.read.parquet(s"$root/landed")
      assert(landed.count() == 60,
             "resumed incarnation must process ONLY the new files — a " +
             "replayed offset would land >60 rows, a skipped file <60")
      assert(landed.select("id").distinct().count() == 60,
             "every input row exactly once across both incarnations")
      // The offset log continued: batch ids 0..5 across the two
      // incarnations, one per rate-limited trigger, no renumbering.
      val commits = new java.io.File(s"$root/ckpt/commits")
        .listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toInt)
      assert(commits.toSet == (0 until 6).toSet,
             s"offset log must continue across the restart, got ${commits.sorted.toSeq}")
    }
  }

  test("stream-stream interval join matches views in the preceding hour only") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = EventStreams.intervalJoin(ms.toDF(), ms.toDF()).writeStream
      .format("memory").queryName("t_ijoin").outputMode("append")
      .start()
    try {
      ms.addData(Seq(
        Ev(10, t(30), 1, "view", 0),   // 70 min before the click — too old
        Ev(11, t(50), 1, "view", 0),   // 50 min before — in window
        Ev(14, t(100), 1, "view", 0),  // same instant — inclusive bound
        Ev(13, t(90), 2, "view", 0),   // other user
        Ev(12, t(110), 1, "view", 0),  // after the click
        Ev(1, t(100), 1, "click", 0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_ijoin")
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 11L), (1L, 14L)))
  }

  test("semi interval join emits a matched click once, drops unmatched silently") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = EventStreams.intervalJoinSemi(ms.toDF(), ms.toDF()).writeStream
      .format("memory").queryName("t_sjoin").outputMode("append")
      .start()
    try {
      ms.addData(Seq(
        Ev(11, t(50), 1, "view", 0),    // in click 1's window
        Ev(14, t(100), 1, "view", 0),   // second match — must NOT fan out
        Ev(1, t(100), 1, "click", 0),   // matched click
        Ev(2, t(100), 2, "click", 0)))  // no view for user 2
      q.processAllAvailable()
      // Push the watermark far past click 2's window: the unmatched click
      // must still produce nothing (semi, not outer).
      ms.addData(Seq(Ev(99, t(600), 9, "view", 0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_sjoin").select("click_id").collect()
      .map(_.getLong(0)).toSeq
    assert(got == Seq(1L), s"expected exactly one row for click 1, got $got")
  }

  test("outer interval join: no premature null row; late view converts the match") {
    implicit val sq = spark.sqlContext
    val cs = MemoryStream[Ev]
    val vs = MemoryStream[Ev]
    val q = EventStreams.intervalJoinOuter(cs.toDF(), vs.toDF()).writeStream
      .format("memory").queryName("t_ojoin").outputMode("append")
      .start()
    def rows() = spark.table("t_ojoin")
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    try {
      // Click with no view yet: the outer row must NOT emit — a match
      // could still arrive until the watermark passes its window.
      cs.addData(Seq(Ev(1, t(100), 1, "click", 0)))
      q.processAllAvailable()
      assert(rows().isEmpty, "outer row emitted before watermark proof")
      // A LATE view inside the window arrives → inner match emits.
      vs.addData(Seq(Ev(20, t(60), 1, "view", 0)))
      q.processAllAvailable()
      assert(rows() == Set((1L, 20L)))
      // A second click that will never match; far-future rows on BOTH
      // sides push the watermarks past its window → null row emits, and
      // click 1 does NOT additionally emit a null row.
      cs.addData(Seq(Ev(2, t(120), 7, "click", 0)))
      q.processAllAvailable()
      cs.addData(Seq(Ev(90, t(5000), 99, "click", 0)))
      vs.addData(Seq(Ev(91, t(5000), 99, "view", 0)))
      q.processAllAvailable()
      assert(rows() == Set((1L, 20L), (2L, -1L), (90L, 91L)))
    } finally q.stop()
  }

  test("full outer interval join: BOTH sides' unmatched rows emit once on watermark proof") {
    implicit val sq = spark.sqlContext
    val cs = MemoryStream[Ev]
    val vs = MemoryStream[Ev]
    val q = EventStreams.intervalJoinFull(cs.toDF(), vs.toDF()).writeStream
      .format("memory").queryName("t_fjoin").outputMode("append")
      .start()
    def rows() = spark.table("t_fjoin")
      .select("click_id", "view_id").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
                 if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    try {
      // A matched pair, a click that will never match, and a view that
      // will never match (no user-3 click follows within the hour).
      cs.addData(Seq(Ev(1, t(100), 1, "click", 0),
                     Ev(2, t(120), 7, "click", 0)))
      vs.addData(Seq(Ev(20, t(60), 1, "view", 0),
                     Ev(30, t(80), 3, "view", 0)))
      q.processAllAvailable()
      assert(rows() == Set((1L, 20L)),
        "only the inner match may emit before watermark proof")
      // Far-future rows on BOTH sides push both watermarks past every
      // window: the unmatched click emits its null-view row AND the
      // unmatched view emits its null-click row — each exactly once, and
      // the matched pair does not re-emit.
      cs.addData(Seq(Ev(90, t(5000), 99, "click", 0)))
      vs.addData(Seq(Ev(91, t(5000), 99, "view", 0)))
      q.processAllAvailable()
      assert(rows() == Set((1L, 20L), (2L, -1L), (-1L, 30L), (90L, 91L)),
        s"full outer must surface unmatched rows from BOTH sides, got ${rows()}")
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch against the static dim") {
    // Static dim: per-type exact cents total + count (what s8 derives from
    // the batch table). Type 'a': values 1.0, 3.0 → vc=400 cents, vn=2;
    // events above the type average (2.0) → only the 3.0 one.
    val stats = Seq(("a", 400L, 2L), ("b", 500L, 1L))
      .toDF("event_type", "vc", "vn")
    val batches = Seq(
      Seq(Ev(1, t(10), 1, "a", 1.0), Ev(2, t(20), 1, "a", 3.0)),
      Seq(Ev(3, t(30), 2, "b", 5.0))) // 5.0 == its own average, not above
    val got = runStream(batches,
        ev => EventStreams.staticEnrichedCounts(ev, stats),
        "complete", "t_ss_join")
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 2L, 1L), ("b", 1L, 0L)))
  }

  test("session windows merge events within the gap and split across it") {
    val evs = Seq(
      Ev(1, t(0), 1, "a", 0), Ev(2, t(10), 1, "a", 0), Ev(3, t(25), 1, "a", 0),
      // 31-minute silence → new session for user 1
      Ev(4, t(56), 1, "a", 0),
      Ev(5, t(100), 2, "a", 0))
    val got = runStream(Seq(evs), EventStreams.sessions, "complete", "t_sess")
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 3L), (1L, 1L), (2L, 1L)))
  }
}

object StreamingSpec {
  /** Top-level so Spark can derive an Encoder (inner classes need outer
    * scopes the analyzer can't reach).
    */
  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)
}
