package graft

import graft.operators.DedupOps
import org.apache.spark.sql.DataFrame

/** Forces the past-cap shuffled-hash fallback branches of the near-dup
  * pipelines — the branches the 8× probe never reaches (its sets frame
  * is 61 MB ≪ the 512 MB attach cap), so without this spec a mis-hinted
  * fallback would surface only past probe scale, exactly where it can't
  * be debugged (r9 verdict finding 2). Each test asserts BOTH directions:
  * the fallback output is row-identical to the broadcast plan's, and the
  * executed plans really do take a shuffled HASH join (never sort-merge —
  * sorting the array-attached/fan-out stream was the r8 8× OOM).
  *
  * Also pins the r9 ADVICE contracts: a non-positive session
  * `autoBroadcastJoinThreshold` means NEVER broadcast (the operator caps
  * widen the session threshold, they don't override the off-switch), and
  * the caps themselves are session-tunable via `spark.graft.dedup.*` — a
  * malformed value fails naming its key instead of falling back.
  */
class DedupFallbackSpec extends SparkSpec {
  import spark.implicits._

  /** Near-dup-bearing fixture: exact dups, a near-dup, distinct docs. */
  private def corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different text with other content here"),
    (4L, "spark engines shuffle partitions across executors"),
    (5L, "a paragraph lifted into a much longer document"),
    (6L, "prefix a paragraph lifted into a much longer document and " +
         "then padded with plenty of additional unrelated words after")
  ).toDF("doc_id", "text")

  private def pairsOf(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Run `body` with session conf overrides, restoring afterwards. */
  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The fallback contract is per-JOIN, not per-plan: with broadcasts
    * globally off the PLANNER may legitimately sort-merge the
    * candidate-generation joins (big-big equi-joins on `code` — SMJ is
    * Spark's normal choice there), but the OPERATOR-hinted attach joins
    * — the ones carrying the array-attached / fan-out stream, keyed on
    * the pair ids — must be shuffled hash (`forbiddenSmjKeys`).
    */
  private def assertHashNeverSortMerge(plans: () => Seq[String],
                                       what: String,
                                       forbiddenSmjKeys: Seq[String]): Unit = {
    awaitUntil(() => plans().exists(_.contains("ShuffledHashJoin")))
    val ps = plans()
    assert(ps.exists(_.contains("ShuffledHashJoin")),
      s"$what: expected a ShuffledHashJoin in some executed plan")
    // Only the JOIN KEYS identify the attach joins — the pair ids also
    // ride candidate-join lines as pushed filter conditions. Parse the
    // left-keys bracket: `SortMergeJoin [<leftKeys>], [<rightKeys>], …`.
    val badSmj = ps.flatMap(_.linesIterator)
      .filter(_.contains("SortMergeJoin"))
      .filter { l =>
        val keys = l.substring(l.indexOf("SortMergeJoin"))
          .dropWhile(_ != '[').takeWhile(_ != ']')
        forbiddenSmjKeys.exists(k => keys.contains(k + "#"))
      }
    assert(badSmj.isEmpty,
      s"$what: the attach fallback must never sort-merge — sorting the " +
        s"array-attached stream was the r8 8× OOM; got:\n${badSmj.mkString("\n")}")
  }

  test("prefixJaccardPairs fallback (session broadcast off) is hash-join and row-identical") {
    // 7 docs sit far below denseMinDocs, so this is the SPARSE prefix join
    // whose verify attaches the code sets by (da, db).
    val expected = pairsOf(DedupOps.prefixJaccardPairs(corpus, 0.5))
    assert(expected.nonEmpty)
    val (got, plans) =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        capturePlans(pairsOf(DedupOps.prefixJaccardPairs(corpus, 0.5)))
      }
    assert(got == expected)
    assertHashNeverSortMerge(plans, "prefixJaccardPairs", Seq("da", "db"))
  }

  test("containmentPairs fallback (session broadcast off) is hash-join and row-identical") {
    // denseUniverseMax=0 pins the SPARSE prefix join this spec is about —
    // the attach strategy under a disabled session broadcast; the tiny
    // corpus's 3-gram universe would otherwise route to the dense bitset
    // path (round 12), which has no attach join to assert on.
    val (expected, _) = withConf("spark.graft.dedup.denseUniverseMax" -> "0") {
      capturePlans(DedupOps.containmentPairs(corpus, 0.9).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    }
    assert(expected.nonEmpty)
    val (got, plans) =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
               "spark.graft.dedup.denseUniverseMax" -> "0") {
        capturePlans(DedupOps.containmentPairs(corpus, 0.9).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
      }
    assert(got == expected)
    assertHashNeverSortMerge(plans, "containmentPairs", Seq("xa", "xb"))
  }

  test("verifyJaccard past-cap attach (tiny operator cap) matches the broadcast plan") {
    val sh = DedupOps.shingles(corpus, 3)
    val cand = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (5L, 6L))
      .toDF("da", "db")
    val expected = pairsOf(
      DedupOps.verifyJaccard(sh, allCandidates = false, cand, 0.5))
    assert(expected.nonEmpty)
    // Cap → 0 AND session threshold → 1 byte: the operator cap no longer
    // admits the sets frame and the session threshold (still positive —
    // broadcasts allowed in principle) is too small, so the attach must
    // take the shuffled-hash branch.
    val (got, plans) = withConf(
      "spark.graft.dedup.attachBroadcastCap" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "1") {
      capturePlans(pairsOf(
        DedupOps.verifyJaccard(sh, allCandidates = false, cand, 0.5)))
    }
    assert(got == expected)
    assertHashNeverSortMerge(plans, "verifyJaccard attach", Seq("da", "db"))
  }

  test("a malformed numeric dedup conf fails naming its key") {
    // A typo'd cap must neither surface as a bare NumberFormatException
    // mid-query nor silently run with the default.
    Seq("spark.graft.dedup.denseUniverseMax" -> "16k",
        "spark.graft.dedup.attachBroadcastCap" -> "512MB",
        "spark.graft.dedup.pairSpreadMinDocs" -> "many").foreach {
      case (key, bad) =>
        val e = withConf(key -> bad) {
          intercept[IllegalArgumentException] {
            DedupOps.prefixJaccardPairs(corpus, 0.5).count()
          }
        }
        assert(e.getMessage.contains(key) && e.getMessage.contains(bad),
          s"$key: ${e.getMessage}")
    }
  }

  test("verify pair spread is count-conditional: auto-off on a small corpus, forced by conf") {
    // Round 11: the pair-key verify spread pays at probe scale (l2 8×
    // 72.6 → 31.5 s) but its extra exchange measured ~3 s per gate at 1×
    // (same-host A/B, SURVEY §5.2 round-11 (d)), so verifyJaccard now
    // auto-disables it below `pairSpreadMinDocs` (default 16 000) on the
    // sets count it already measures. This pins all three paths — auto
    // (tiny corpus → NO (da, db) exchange), conf-forced on, and
    // threshold-lowered auto-on — and that output is identical across
    // them (the spread is layout-only).
    // The candidate DISTINCT inserts its own (da, db) exchange
    // (ENSURE_REQUIREMENTS); the spread is the EXPLICIT repartition,
    // which Spark tags REPARTITION_BY_NUM — that tag is the detector.
    def spreadExchange(p: String): Boolean = p.linesIterator.exists(l =>
      l.contains("hashpartitioning(da#") && l.contains("db#") &&
        l.contains("REPARTITION_BY_NUM"))
    def run(conf: (String, String)*): (Set[(Long, Long, Double)], Boolean) =
      // denseUniverseMax=0 pins the SPARSE prefix+verify path whose spread
      // exchange this spec is about (round 12: the tiny corpus's 3-gram
      // universe would otherwise route to the dense bitset kernel, which
      // has no verify exchange to detect).
      withConf(conf :+ ("spark.graft.dedup.denseUniverseMax" -> "0"): _*) {
        val (rows, plans) = capturePlans(
          pairsOf(DedupOps.prefixJaccardPairs(corpus, 0.8)))
        awaitUntil(() => plans().nonEmpty)
        (rows, plans().exists(spreadExchange))
      }
    val (auto, autoSpread) = run()
    assert(auto.nonEmpty)
    assert(!autoSpread,
      "7 docs < pairSpreadMinDocs: the (da, db) repartition must be absent")
    val (forced, forcedSpread) = run("spark.graft.dedup.pairSpread" -> "on")
    assert(forced == auto && forcedSpread,
      "pairSpread=on must force the (da, db) exchange at identical output")
    val (lowT, lowTSpread) = run("spark.graft.dedup.pairSpreadMinDocs" -> "1")
    assert(lowT == auto && lowTSpread,
      "a corpus at/above pairSpreadMinDocs must auto-enable the spread")
  }
}
