package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over a document corpus `(doc_id, text, ...)`:
  * exact (content-hash group-by), exact n-gram Jaccard (the verification
  * pass), and prefix-filtered near-dup joins (the candidate-generation
  * path, [[prefixJaccardPairs]] / [[containmentPairs]]).
  *
  * Scale design: exact all-pairs Jaccard is inherently quadratic, so at scale
  * the flow is shingle → prefix-filter candidates (equi-join on globally
  * rare codes — no cross product, no false negatives) → exact-Jaccard
  * verification restricted to candidate pairs, or, on a saturated shingle
  * universe, one blocked bitset pass that generates and verifies at once.
  *
  * Two lessons from profiling are baked in:
  *  - shingles travel as compact LONG codes ([[TextFunctions.shingleCode]],
  *    injective for ASCII) from the first projection on — long equality and
  *    hashing are several times cheaper than UTF8String's;
  *  - on corpora with HIGH background similarity (the fixture corpus draws
  *    from a ~30-word vocabulary, background j ≈ 0.5) candidate generation
  *    prunes poorly. Verification must therefore be strictly linear in
  *    candidates: one sorted intersect of the two docs' code sets per
  *    pair, explicitly repartitioned so AQE's size-based coalescing (the
  *    arrays are small in BYTES) doesn't serialize the CPU-heavy
  *    intersects into one task.
  */
object DedupOps {

  /** Exact dedup: group by sha2(text), keep the smallest doc_id. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))

  /** INCREMENTAL ingestion classification (L23): snapshot-split the corpus
    * by doc_id parity (even = base, odd = arriving increment) and give
    * every arriving doc exactly one status:
    *   - `exact_dup` — its text already in base (hash-index anti-lookup)
    *     or a smaller-id twin inside the same increment;
    *   - `near_dup`  — survives exact but has a SimHash neighbor
    *     (Hamming ≤ `maxHamming`) in BASE — the fingerprint-index lookup;
    *   - `ingested`  — novel.
    * Reuses [[SimHashOps.simhashPairs]] over the union and keeps cross-side pairs
    * only; a production pass band-joins increment fingerprints directly
    * against the persisted base fingerprint index — same plan shape,
    * minus the within-side candidates.
    */
  def incrementalClassify(docs: DataFrame, maxHamming: Int = 1): DataFrame = {
    val incr = docs.filter(col("doc_id") % 2 === 1)
    val baseTexts = docs.filter(col("doc_id") % 2 === 0)
      .select(sha2(col("text"), 256).as("th")).distinct()
      .withColumn("in_base", lit(true))
    val nearSet = SimHashOps.simhashPairs(docs, maxHamming)
      .filter((col("da") % 2) =!= (col("db") % 2))
      .select(when(col("da") % 2 === 1, col("da")).otherwise(col("db"))
                .as("doc_id"))
      .distinct().withColumn("near_base", lit(true))
    val wTxt = Window.partitionBy(col("th")).orderBy(col("doc_id"))
    incr.withColumn("th", sha2(col("text"), 256))
      .withColumn("rn", row_number().over(wTxt))
      .join(baseTexts, Seq("th"), "left")
      .join(nearSet, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("rn") > 1 || coalesce(col("in_base"), lit(false)), "exact_dup")
          .when(coalesce(col("near_base"), lit(false)), "near_dup")
          .otherwise("ingested"))
      .select(col("doc_id"), col("lang"), col("status"))
  }

  /** (doc_id, code) pairs — distinct character n-gram codes per doc.
    * Codes are the injective ASCII packing of the n-gram
    * ([[TextFunctions.shingleCode]]), so Jaccard over codes equals Jaccard
    * over the n-grams themselves.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"),
        explode(TextFunctions.charShingles("text", n)).as("sh"))
      .select(col("doc_id"), TextFunctions.shingleCode("sh").cast("long").as("code"))

  /** Exact Jaccard ≥ threshold over all pairs (the small-scale/verification
    * formulation; quadratic in corpus size — see [[prefixJaccardPairs]] for
    * scale).
    */
  def jaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3): DataFrame = {
    val sh = shingles(docs, n)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val a = sh.select(col("doc_id").as("da"), col("code"))
    val b = sh.select(col("doc_id").as("db"), col("code"))
    a.join(b, "code").filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc_id").as("da"), col("nsh").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("nsh").as("nb")), "db")
      .filter(col("c").cast("double") / (col("na") + col("nb") - col("c"))
                >= threshold)
      .select(col("da"), col("db"),
        graft.Q.round4Ratio(col("c"), col("na") + col("nb") - col("c"))
          .as("jaccard"))
  }

  /** Payload-size estimates understate the in-memory broadcast relation —
    * UnsafeRow field offsets, array headers, and the HashedRelation's
    * load-factor slack roughly double the raw 8 B/value arithmetic — so
    * every cap comparison pads the estimate 2× before comparing: an
    * unpadded estimate near the 512 MB cap is a latent driver OOM.
    */
  private val BroadcastEstimatePad = 2L

  /** The operator broadcast decision, shared by every attach site, over a
    * persisted per-doc `sets` frame (`codes` arrays): its doc count and
    * the attach. One driver action measures the frame (8 bytes per code
    * plus per-row overhead; Catalyst cannot see through the aggregate that
    * built it) and warms the cache both attach joins reuse. The decision
    * widens the session's auto-broadcast threshold to the operator cap
    * (the attach economics are operator knowledge Catalyst lacks), but
    * never overrides a non-positive session threshold —
    * `autoBroadcastJoinThreshold = -1` is the standard "this driver cannot
    * afford broadcasts" switch and it must win. Past the decision the
    * fallback is always a shuffled HASH join, never sort-merge: the
    * streamed side in these pipelines is the byte-heavy
    * array-attached/fan-out frame, whose per-task sort ran out of memory
    * at the 8× rung.
    */
  private def attachStrategy(sets: DataFrame): (Long, DataFrame => DataFrame) = {
    val spark = sets.sparkSession
    val Array(nDocs, nCodes) = sets
      .agg(count(lit(1)), sum(size(col("codes")))).head().toSeq
      .map(v => Option(v).fold(0L)(_.toString.toLong)).toArray
    val session = spark.sessionState.conf.autoBroadcastJoinThreshold
    val cap = graft.GraftConf.attachBroadcastCap.get(spark)
    (nDocs,
     if (session > 0 && nCodes * 8L + nDocs * 32L <= math.max(session, cap) / BroadcastEstimatePad)
       broadcast
     else _.hint("shuffle_hash"))
  }

  /** Run `body` — which must EXECUTE its heavy work before returning
    * (every near-dup pipeline here ends in an eager [[materialize]]) —
    * with AQE's INITIAL shuffle width raised to 256, so byte-aware
    * coalescing OWNS every planner-inserted exchange instead of
    * inheriting the session's pinned width. Per-task memory is fixed
    * while candidate volume grows superlinearly with the corpus, so any
    * exchange pinned at the session width is a latent OOM: the 8× probe
    * rung died sorting the array-attached verify stream through 32
    * partitions, and l2's 8× rung ran 2.7× faster at 256. AQE starts
    * fine-grained and coalesces DOWN by measured bytes — at 1× every
    * exchange lands at the same ~32 partitions (parallelismFirst targets
    * the core count), at 8× the byte-heavy ones keep the width they need.
    * User-specified repartitions (the verify spread) are untouched. Scoped
    * by [[graft.Engine.withConf]], whose concurrency contract applies.
    */
  private def withWideAqe[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A =
    graft.Engine.withConf(spark,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256")(body)

  /** Exact-Jaccard verification of candidate pairs `(da, db)`: one
    * codegen'd two-pointer intersect per pair over the two docs' sorted
    * code sets — cost strictly linear in |candidates|·avg-set-size, immune
    * to hot-shingle fan-out.
    *
    * Plan shape (profiled at sf0.1, 3.4M candidates on the
    * high-background fixture): exactly TWO joins attach the per-doc code
    * sets; set sizes ride along as `size(codes)` (an array-header read, no
    * separate sizes aggregate or join), so the threshold filter collapses
    * the candidate stream immediately after the intersect. The per-doc
    * sets frame is broadcast when its measured bytes fit the session's
    * broadcast threshold — Catalyst can't see through `collect_list` to
    * make that call itself (stats on an aggregate are unknown), so the
    * operator supplies them; past the threshold (the 100 TB regime, where
    * |docs| rows of arrays are cluster-wide data) it degrades to the
    * shuffled join with explicit repartitioning on the candidate stream —
    * the verification rows are tiny in bytes but CPU-heavy, and AQE would
    * coalesce them into one task otherwise.
    */
  def verifyJaccard(sh: DataFrame, candidates: DataFrame,
                    threshold: Double): DataFrame = {
    val spark = sh.sparkSession
    val sets = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("code"))).as("codes"),
           count(lit(1)).cast("long").as("nsh"))
      .persist()
    // The measured attach decision ([[attachStrategy]]) broadcasts up to
    // an OPERATOR cap of 512 MB — far past the session's 10 MB dim
    // threshold — because the alternative ships the candidate stream WITH
    // ARRAYS ATTACHED (1.5 KB+ per row, ~50× the sets frame) through an
    // exchange: the shuffled-attach 8× rung was measured disk-bound at
    // ~24 GB of spill (431 s) while the sets frame was 61 MB. Per-doc code
    // sets are 8 B/code, so the cap covers ~300M corpus shingle codes;
    // past it, a shuffled HASH join builds its per-partition map from the
    // sets side (small at any width) and STREAMS the candidate side
    // unsorted — memory-safe at any partition count, disk-bound by the
    // attached stream (the honest 100 TB cost once per-doc sets outgrow
    // cluster broadcast). Sort-merge there, sorting the array-attached
    // stream through partitions AQE could no longer split, ran out of
    // memory at 8×.
    val (nDocs, attach) = attachStrategy(sets)
    // The CPU-heavy verify spread: the candidate rows are tiny in bytes,
    // so AQE's byte-aware coalescing would squash them into a few tasks —
    // the explicit repartition pins full-CPU width for the intersects, on
    // the PAIR key: one hot doc — a prefix code shared corpus-wide, a
    // duplicate-cluster representative — is `da` of MANY candidates, and
    // a single-key hash put its whole fan-out's intersect CPU in one task.
    // Spreading by (da, db) instead of `da` cut the l2 8× probe rung
    // 72.6 → 31.5 s (and 1× 4.9 → 4.2) at identical output; the broadcast
    // attach preserves the layout, and the past-cap hash join re-exchanges
    // on its own key regardless. Memory safety at scale comes from the
    // CALLERS running under [[withWideAqe]].
    // The spread is COUNT-CONDITIONAL: a same-host A/B (spread forced off)
    // read l2 6.4 / l2b 7.8 s without it vs 10.4 / 10.5 s with it at 1×
    // (5 000 docs), while the 8× rungs need it. Below a corpus-size
    // threshold the candidate volume is too small to be spread-bound and
    // the extra exchange is pure cost, so the spread turns off on the
    // already measured `nDocs` (a candidate count() would re-execute the
    // whole candidate subtree). Crossover sits between the measured −3 s
    // at 10 000 docs and +40 s at 40 000; default 16 000
    // (`spark.graft.dedup.pairSpreadMinDocs`; 0 forces the spread on,
    // Long.MaxValue forces it off).
    val spreadOn = nDocs >= graft.GraftConf.pairSpreadMinDocs.get(spark)
    val repartitioned =
      if (spreadOn) candidates
        .repartition(spark.sparkContext.defaultParallelism, col("da"), col("db"))
      else candidates
    val result = repartitioned
      .join(attach(sets.select(col("doc_id").as("da"), col("codes").as("ca"),
                               col("nsh").as("na"))), "da")
      .join(attach(sets.select(col("doc_id").as("db"), col("codes").as("cb"),
                               col("nsh").as("nb"))), "db")
      .select(col("da"), col("db"),
              graft.functions.SortedIntersectCount(col("ca"), col("cb")).as("c"),
              col("na"), col("nb"))
      // Threshold compares the unrounded double ratio — both engines divide
      // the same exact integers, so the comparison is engine-agnostic; the
      // REPORTED value is integer half-up rounding (tie-free cross-engine,
      // graft.Q rationale) rather than round() of a double.
      .filter(col("c") > 0 &&
        col("c").cast("double") / (col("na") + col("nb") - col("c"))
          >= threshold)
      .select(col("da"), col("db"),
        graft.Q.round4Ratio(col("c"), col("na") + col("nb") - col("c"))
          .as("jaccard"))
    // Materialize the (tiny) verified output eagerly so the cached sets
    // frame can be dropped here and no downstream consumer re-executes the
    // candidate join ([[materialize]] rationale).
    val out = materialize(result)
    sets.unpersist(blocking = false)
    out
  }

  /** The dense regime's code index, collected once from the shingle frame
    * with a LIMIT that bounds the driver whatever the true universe. One
    * sorted-distinct TOP-(max+1) collect both decides the regime and is
    * the index: `length > max` means the sparse regime, with at most max+1
    * rows reaching the driver (≤ 128 KB of longs at the default 16 384
    * cap, ≤ 2 MB at the key's 2^18 bound), and a code's position in the
    * array is its bit. It replaces a countDistinct probe pass, a second
    * distinct pass for a row_number index and the broadcast join that
    * attached it.
    */
  private[graft] def denseCodeIndex(sh: DataFrame, denseMax: Long): Array[Long] =
    sh.select(col("code")).distinct().orderBy(col("code"))
      .limit(denseMax.toInt + 1)
      .collect().map(_.getLong(0))

  /** Dense-regime exact pair join: a blocked Boolean GEMM with popcount
    * over per-doc bitsets, serving [[prefixJaccardPairs]] (`symmetric`,
    * Jaccard ≥ `threshold`) and [[containmentPairs]] (containment ≥
    * T/10^6) when the shingle universe saturates (see the regime-pick
    * rationale in [[containmentPairs]]).
    *
    * One aggregation pass collects each doc's codes, and the planned
    * [[graft.plans.DensePairs]] node turns them into w = ⌈U/64⌉-word
    * bitsets over the dense code index `codes` ([[denseCodeIndex]]) and
    * pairs them on the grid [[graft.plans.DensePairsExec]] sizes from the
    * aggregate's row count, unless `pinned` fixes it. The symmetric test
    * and value replicate [[verifyJaccard]]'s exactly: c > 0 ∧
    * c/(na+nb−c) ≥ t on the same IEEE doubles, id-ordered pairs, the
    * shared integer half-up ROUND ratio.
    *
    * Scale: per-task memory is 2·(N/B)·⌈U/8⌉ bytes by construction (the
    * grid's memory floor), so "bigger corpus" becomes "more cells", the
    * dimension a cluster scales with, exactly like the GEMM tile cap.
    * Work is Θ(N²·U/64) — in the saturated-universe regime that
    * activates this path, Θ(N²) candidate pairs are already genuine
    * (measured: the 16× rung verified 591M distinct candidates for
    * 2.57M true pairs), so the quadratic term is the problem's own; this
    * kernel minimizes its constant (measured at 16×: the whole dense pass
    * runs in seconds where the prefix join's candidate stage alone took
    * 346 s).
    */
  private[graft] def densePairs(sh: DataFrame, T: Long, threshold: Double,
                                codes: Array[Long], symmetric: Boolean,
                                pinned: Option[Int] = None): DataFrame = {
    val lists = sh.groupBy(col("doc_id")).agg(collect_list(col("code")))
    val pairs = org.apache.spark.sql.GraftSqlShim.ofRows(sh.sparkSession,
      graft.plans.DensePairs(lists.queryExecution.analyzed, codes, T, threshold,
        symmetric, pinned))
    // den carries the ratio's denominator out of the kernel: |x| for
    // containment, |x∪y| for Jaccard — round4Ratio is the shared
    // cross-engine rounding convention either way.
    materialize(
      if (symmetric)
        pairs.select(col("ida").as("da"), col("idb").as("db"),
          graft.Q.round4Ratio(col("c"), col("den")).as("jaccard"))
      else
        pairs.select(col("ida").as("contained_id"), col("idb").as("container_id"),
          graft.Q.round4Ratio(col("c"), col("den")).as("containment")))
  }

  /** CONTAINMENT near-dup pairs — ASYMMETRIC Jaccard: C(x→y) = |x∩y|/|x|,
    * the quote/excerpt/boilerplate detector symmetric Jaccard misses (a
    * paragraph lifted into a 100× longer doc has Jaccard ≈ 0.01 but
    * containment ≈ 1). Output is oriented smaller-set-into-larger (id
    * tie-break at equal sizes, where containment is symmetric).
    *
    * Prefix filtering adapts to the asymmetry: only the CONTAINED side
    * needs a prefix — if C(x→y) ≥ t then |x∩y| ≥ ⌈t·|x|⌉, so x must share
    * an element within its |x| − ⌈t·|x|⌉ + 1 rarest codes (were every
    * shared code outside that prefix, the intersection would be too
    * small); the container side joins with its FULL code set. Same
    * integer-exact threshold arithmetic as [[prefixJaccardPairs]]
    * (T = ⌊t·10^6⌋ scaled longs, never a float compare), same linear
    * [[graft.functions.SortedIntersectCount]] verification.
    *
    * Two PPJoin-style cuts keep the candidate shuffle survivable when the
    * corpus's background similarity is high (measured 43M → 25M pair
    * occurrences, 19M → 10M distinct candidates at sf0.1): the size-order
    * filter (na, nb) runs BEFORE the pair distinct, not after the array
    * verify, and the POSITIONAL bound prunes occurrences whose shared
    * code sits too late in both rarity orders to leave room for ⌈t·na⌉
    * overlap — |x∩y| ≤ 1 + min(na−ra, nb−rb) when both docs are sorted by
    * the same global (cf, code) order. Both sides therefore join from the
    * `ranked` frame (rank + size attached), which is what gets persisted.
    */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       n: Int = 3): DataFrame = {
    val T = math.floor(threshold * 1e6).toLong
    // REGIME PICK ([[byRegime]]). Signature-based candidate generation — any
    // inverted-index join on shingle codes — has enumeration mass
    // Σ_code pref_df(code)·df(code), which is near-linear when the code
    // UNIVERSE grows with the corpus (real pipelines: hashed word
    // 5..13-grams, |universe| ≫ |docs|) but quadratic when the universe
    // SATURATES (char-3-grams over a 26-letter alphabet: ≤ ~26³ codes, so
    // df ∝ N). Measured on the 16× probe corpus (80k docs, 11.4M shingle
    // rows): the universe is 2 534 codes and the prefix join's mass is
    // 4.33 G occurrence rows (346 of 414 s). Two candidate-cut designs
    // were measured and rejected:
    //  - adaptive prefix extension (AdaptJoin pigeonhole, k=8): cut
    //    DISTINCT candidates 15× but grew the pair aggregate's groups and
    //    its input 2.3× — the actual cost drivers; the ladder went from
    //    35.2 to 86.3 s at 4× and from 92.4 to 205.9 s at 8×.
    //  - PPJoin+-style pair-of-prefix-codes join (the two smallest common
    //    codes both rank within each side's (len − ⌈t·len⌉ + 2)-prefix):
    //    evaluated offline in DuckDB at 16× — 6.87 G join occurrences,
    //    positional bound cut ZERO — the pair-key space saturates too.
    // In the saturated regime the exact problem is Ω(candidate pairs)
    // (background similarity makes Θ(N²) pairs genuine candidates: 57×
    // distinct-pair growth over 16× data), so the right representation is
    // DENSE: each doc is a ⌈U/64⌉-word bitset and the whole join is a
    // blocked Boolean GEMM with popcount ([[densePairs]]) — candidate
    // generation and verify collapsed into one exact pass with a ~1000×
    // smaller per-pair constant than hash-join machinery. Universe ≤
    // `spark.graft.dedup.denseUniverseMax` (default 16 384 → ≤ 2 KB/doc
    // bitsets; 0 disables) routes dense, else the prefix join below.
    //
    // The pick reads the universe alone, as [[prefixJaccardPairs]]' does:
    // at no measured corpus size below the universe cap does the sparse
    // containment join win. Same-host A/B at the SMALLEST rung (5 000
    // docs, min-of-3): dense 6.65 s vs sparse 8.87 s, and the gap only
    // widens (16×: 33.4 vs 363.7 s) — the asymmetric prefix join lacks
    // the symmetric path's PPJoin length filter (a short doc contained in
    // a long one is exactly what it must NOT prune). The shingle frame is
    // spread before the explode (guide §2.5, Tables.spread scaladoc).
    byRegime(shingles(graft.Tables.spread(docs), n), T, Double.NaN,
             symmetric = false)(containmentSparse(_, T))
  }

  /** The near-dup pairs of shingle frame `sh`, which this persists for the
    * regime pick and whichever engine it picks: [[densePairs]] when the
    * code universe is at most `spark.graft.dedup.denseUniverseMax` (0
    * disables it), else `sparse`. One bounded collect decides the regime
    * and is the dense code index ([[denseCodeIndex]]).
    */
  private def byRegime(sh0: DataFrame, T: Long, threshold: Double, symmetric: Boolean)
                      (sparse: DataFrame => DataFrame): DataFrame = {
    val sh = sh0.persist()
    val denseMax = graft.GraftConf.denseUniverseMax.get(sh.sparkSession)
    try Option.when(denseMax > 0)(denseCodeIndex(sh, denseMax))
      .filter(_.length <= denseMax)
      .fold(sparse(sh))(densePairs(sh, T, threshold, _, symmetric))
    finally sh.unpersist(blocking = false)
  }

  /** `sh` with each doc's rank of every code, rarest first by global
    * frequency with a code tie-break (`r`), and its set size (`nsh`): the
    * order both prefix filters read.
    */
  private def rarityRanked(sh: DataFrame): DataFrame = {
    val freq = sh.groupBy(col("code")).agg(count(lit(1)).as("cf"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("cf").asc, col("code").asc)
    sh.join(freq, "code")
      .withColumn("r", row_number().over(byRarity))
      .withColumn("nsh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
  }

  /** The sparse (prefix-filter) engine of [[containmentPairs]] over an
    * already-persisted shingle frame.
    */
  private def containmentSparse(sh: DataFrame, T: Long): DataFrame = {
    val ranked = rarityRanked(sh).persist()
    // withWideAqe: the candidate join and the array-attached verify
    // exchanges grow superlinearly with the corpus (the 8× probe rung ran
    // out of memory sorting through the session's 32 partitions and
    // completed at 256), so each starts fine-grained and AQE coalesces it
    // to the width its measured bytes need.
    try withWideAqe(sh.sparkSession) {
      val prefix = ranked
        .filter(col("r") <=
          col("nsh") - expr(s"(nsh * ${T}L + 999999L) div 1000000L") + 1)
        .select(col("doc_id").as("xa"), col("code"),
                col("r").as("ra"), col("nsh").as("na"))
      val cont = ranked.select(col("doc_id").as("xb"), col("code"),
                               col("r").as("rb"), col("nsh").as("nb"))
      // POSITIONAL bound per occurrence, integer-exact (T = ⌊t·10⁶⌋
      // scaled): the global (cf, code) order is shared, so codes after
      // this one sit above (ra, rb) in BOTH rank orders and
      // |x∩y| ≤ 1 + min(na−ra, nb−rb) when this is the pair's FIRST
      // common code. That first common code always ranks within x's
      // prefix, so every qualifying pair keeps at least one occurrence.
      val candidates = prefix.join(cont, "code")
        .filter(col("xa") =!= col("xb"))
        .filter(col("na") < col("nb") ||
                (col("na") === col("nb") && col("xa") < col("xb")))
        .filter((lit(1L) + least(col("na") - col("ra"),
                                 col("nb") - col("rb")))
                  * 1000000L >= col("na") * T)
        // Distinct on the PAIR KEY ALONE (na re-derives from the verify
        // arrays; carrying nb doubled the exchange bytes).
        .select("xa", "xb").distinct()
        // NO explicit verify spread here, unlike [[verifyJaccard]]: pinning
        // full-core width on the pair key after the distinct REGRESSED the
        // 4×/8× rungs (26.8/108.4 s vs 24.8/92.5 without). The candidate
        // volume is large enough in bytes that the distinct's AQE-owned
        // exchange already lands at useful width.
      val sets = ranked.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("code"))).as("codes"))
        .persist()
      // The measured attach decision, [[verifyJaccard]]'s rule and cap.
      // Its counts ride the persisted sets frame (one row per doc) instead
      // of a second pass over the per-shingle ranked frame, and the same
      // action warms the cache both attach joins reuse.
      val (_, attach) = attachStrategy(sets)
      val result = candidates
        .join(attach(sets.select(col("doc_id").as("xa"), col("codes").as("ca"))), "xa")
        .join(attach(sets.select(col("doc_id").as("xb"), col("codes").as("cb"))), "xb")
        .select(col("xa"), col("xb"),
          size(col("ca")).cast("long").as("na"),
          graft.functions.SortedIntersectCount(col("ca"), col("cb")).as("c"))
        .filter(col("c") * 1000000L >= col("na") * T)
        .select(col("xa").as("contained_id"), col("xb").as("container_id"),
                graft.Q.round4Ratio(col("c"), col("na")).as("containment"))
      val out = materialize(result)
      sets.unpersist(blocking = false)
      out
    } finally ranked.unpersist(blocking = false)
  }

  /** Eagerly compute a SMALL result and cut its lineage (`localCheckpoint`),
    * so shared upstream frames can be unpersisted and downstream consumers
    * (final ORDER BY, sinks) never re-execute the heavy pipeline.
    *
    * Why this matters: a near-dup plan references the shingle subtree ~7
    * times (frequency table, both self-join sides, size and code-set
    * aggregates), and Spark's final `orderBy` adds a range-partitioner
    * sampling pass that executes its child twice more. Uncached, that
    * multiplied into >10 full shingle scans (measured 26 s vs 1.5 s at
    * sf0.1). The OUTPUT of a near-dup join is tiny (true pairs), so
    * checkpointing it locally is cheap at any corpus scale; the
    * intermediates stay session-transient.
    */
  private[operators] def materialize(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true)

  /** Per-document duplicate-shingle fraction (the L29 gate): the share of
    * each doc's distinct n-shingles that appear in at least one OTHER doc.
    *
    * Formulated WITHOUT the (doc, code) ⋈ document-frequency join the
    * obvious plan pays: a code with global frequency 1 belongs to exactly
    * one document, so one `groupBy(code).agg(count, min(doc_id))` pass
    * yields each doc's UNIQUE-code count directly (min(doc_id) IS the
    * owner when count = 1), and n_dup = n_sh − n_uniq. Both aggregates
    * combine map-side — the shuffle carries one row per distinct code /
    * per doc instead of every shingle occurrence twice (measured 4.45 s →
    * the join plan's cost at sf0.1; the code space of character n-grams
    * is bounded, so this holds at any corpus scale). The shingle frame is
    * persisted across its two consumers and the (tiny) per-doc result is
    * materialized before unpersist.
    */
  def dupShingleFraction(docs: DataFrame, n: Int = 3): DataFrame = {
    // Spread before the explode (guide §2.5, Tables.spread scaladoc).
    val sh = shingles(graft.Tables.spread(docs), n).persist()
    try {
      val perDoc = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val uniq = sh.groupBy(col("code"))
        .agg(count(lit(1)).as("dfc"), min(col("doc_id")).as("owner"))
        .filter(col("dfc") === 1)
        .groupBy(col("owner")).agg(count(lit(1)).as("n_uniq"))
      materialize(
        perDoc.join(uniq, col("doc_id") === col("owner"), "left")
          .select(col("doc_id"), col("n_sh"),
                  (col("n_sh") - coalesce(col("n_uniq"), lit(0L))).as("n_dup"))
          .withColumn("dup_frac",
                      graft.Q.round4Ratio(col("n_dup"), col("n_sh"))))
    } finally sh.unpersist(blocking = false)
  }

  /** Per-document duplicated-PASSAGE fraction (the L35 gate): the share of
    * each doc's distinct fixed-width character windows (width `w`, stride
    * `stride`) that appear VERBATIM in at least one other doc — the
    * passage/boilerplate detector at the granularity where training-data
    * substring dedup operates (long verbatim spans, vs [[dupShingleFraction]]'s
    * 3-gram noise floor; cf. the substring-dedup motivation in Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL'22 —
    * a strided window table is the dataflow-friendly approximation of
    * their suffix-array pass). Same linear no-self-join shape as L29: one
    * window table, one frequency pass (a window with df = 1 belongs to
    * exactly one doc, so min(doc_id) IS the owner), n_dup = n_win − n_uniq.
    * Production would key windows by hash; the fixture keys by the window
    * text itself so the DuckDB oracle replays byte-for-byte. Docs shorter
    * than `w` carry zero windows and survive via the left join.
    */
  def dupWindowFraction(docs: DataFrame, w: Int = 64,
                        stride: Int = 16): DataFrame = {
    val wins = docs.select(col("doc_id"),
      explode(expr(
        s"""CASE WHEN length(text) >= $w
            THEN array_distinct(transform(
                   sequence(1, length(text) - ${w - 1}, $stride),
                   i -> substring(text, i, $w)))
            ELSE array() END""")).as("code")).persist()
    try {
      val perDoc = wins.groupBy(col("doc_id")).agg(count(lit(1)).as("n_win"))
      val uniq = wins.groupBy(col("code"))
        .agg(count(lit(1)).as("dfc"), min(col("doc_id")).as("owner"))
        .filter(col("dfc") === 1)
        .groupBy(col("owner")).agg(count(lit(1)).as("n_uniq"))
      materialize(
        docs.select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left")
          .join(uniq.withColumnRenamed("owner", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
                  coalesce(col("n_win"), lit(0L)).as("n_windows"),
                  (coalesce(col("n_win"), lit(0L)) -
                     coalesce(col("n_uniq"), lit(0L))).as("n_dup"))
          .withColumn("dup_frac",
            when(col("n_windows") === 0L, 0.0)
              .otherwise(graft.Q.round4Ratio(col("n_dup"), col("n_windows")))))
    } finally wins.unpersist(blocking = false)
  }

  /** Exact near-dup pairs via PREFIX FILTERING (Bayardo/Ma/Srikant,
    * "Scaling Up All Pairs Similarity Search", WWW 2007; the PPJoin family
    * refines it) — candidate generation with a hard no-false-negative
    * guarantee that, unlike LSH banding, also prunes high-background
    * corpora:
    *
    * Order every doc's shingle set by GLOBAL frequency (rarest first, code
    * tie-break). If j(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so A and B must share
    * at least one element within each one's first |A| − ⌈t·|A|⌉ + 1
    * ordered elements (were all shared elements outside A's prefix, the
    * intersection would be too small). Join docs only on PREFIX codes —
    * hot shingles (the fan-out killers) are by construction the LAST
    * thing a prefix contains. Verification stays one array_intersect per
    * candidate ([[verifyJaccard]]).
    */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double,
                         n: Int = 3): DataFrame = {
    // REGIME PICK, shared with [[containmentPairs]] (full rationale
    // there): on a saturated shingle universe the candidate self-join
    // below is Θ(N²) occurrence mass with a join-sized constant (measured
    // 91.2 s at the l2 ladder's 16× rung; at sf0.01 the prefix rule alone
    // pairs 94% of all doc pairs), so route to the dense-bitset blocked
    // Boolean GEMM ([[densePairs]]), whose one exact pass replaces
    // candidates + verify. The clustered gate inherits the pick through
    // its representative-pair engine — contraction FIRST still matters
    // (exact-dup clusters multiply every df, and the dense path's N² term
    // shrinks quadratically with the rep count).
    //
    // The pick reads the universe ALONE, as [[containmentPairs]]' does:
    // the dense kernel wins at every measured corpus size (ScaleProbe l2
    // at sf0.1, `local[32]` on a 4-core host, min of 3, several runs):
    // 5 000 docs 16.7–19.8 s sparse vs 5.0–5.4 s dense, 10 000 docs
    // 29.0–34.2 s vs 5.2–5.5 s.
    byRegime(shingles(docs, n), 0L, threshold, symmetric = true)(
      prefixJaccardSparse(_, threshold))
  }

  /** The sparse (prefix-filter) engine of [[prefixJaccardPairs]] over an
    * already-persisted shingle frame.
    */
  private def prefixJaccardSparse(sh: DataFrame, threshold: Double): DataFrame = {
    val ranked = rarityRanked(sh)
    // All threshold arithmetic is SCALED LONG integers (T = ⌊t·10^6⌋):
    // exact for the usual 1–6-decimal thresholds, and when t has more
    // decimals T/10^6 < t only RELAXES every bound below (longer prefix,
    // weaker pruning) — never a false negative. Integer compares also keep
    // the per-join-row filters at nanoseconds; Decimal.compare per row was
    // profiled as the candidate-join bottleneck at sf0.1.
    val T = math.floor(threshold * 1e6).toLong
    val M = 1000000L
    // prefix length: r ≤ n − ⌈T·n/M⌉ + 1
    val ceilTn = ((lit(T) * col("nsh") + lit(M - 1)) / lit(M)).cast("long")
    // Persisted: the prefix frame feeds BOTH sides of the candidate
    // self-join; unpersisted each side re-runs shingle explode + frequency
    // join + two windows.
    val prefix = ranked.filter(col("r") <= col("nsh") - ceilTn + 1).persist()
    val a = prefix.select(col("doc_id").as("da"), col("r").as("ra"),
                          col("nsh").as("na"), col("code"))
    val b = prefix.select(col("doc_id").as("db"), col("r").as("rb"),
                          col("nsh").as("nb"), col("code"))
    // PPJoin-style pruning on top of the prefix join (both filters are
    // necessary conditions of j ≥ t, so candidate recall stays exact):
    //  - LENGTH: t·|A| ≤ |B| and t·|B| ≤ |A| (near-dup sets have
    //    comparable sizes);
    //  - POSITIONAL: a match at prefix positions (ra, rb) caps the overlap
    //    at 1 + min(na−ra, nb−rb), which must still reach the equivalent
    //    overlap bound α = t/(1+t)·(na+nb), i.e. (M+T)·cap ≥ T·(na+nb).
    val cap = lit(1L) + least(col("na") - col("ra"), col("nb") - col("rb"))
    val cand = a.join(b, "code")
      .filter(col("da") < col("db"))
      .filter(col("nb") * M >= col("na") * T && col("na") * M >= col("nb") * T)
      .filter(cap * (M + T) >= (col("na") + col("nb")) * T)
      .select("da", "db").distinct()
    // withWideAqe: the candidate self-join's volume grows superlinearly
    // with the corpus (the 8× probe measured 244 s at the pinned session
    // width vs ~90 s at 256) — AQE's byte-aware coalescing from a
    // fine-grained start gives every planner-inserted exchange the width
    // its measured volume needs, at 1× landing on the same ~core-count
    // layout as before.
    try withWideAqe(sh.sparkSession) {
      verifyJaccard(sh, cand, threshold)
    } finally prefix.unpersist(blocking = false)
  }

  /** Cluster-aware near-dup: collapse EXACT duplicates first, run the
    * prefix-filter near-dup over unique representatives only, then
    * expand verified representative pairs back to member pairs (plus the
    * within-cluster pairs, which have Jaccard exactly 1).
    *
    * Pair generation is quadratic in duplicate-cluster size — a shared
    * code with document frequency df yields df² join pairs, and N exact
    * twins per document multiply every df by N (the ScaleProbe 4× run
    * wedged >12 min in that join) — and web-scale corpora are
    * duplicate-heavy by nature, so identical texts collapse first (one
    * sha2 group-by). Output is exactly the all-pairs answer: members of
    * one cluster share their representative's shingle set, so
    * cross-cluster member pairs inherit the representative pair's Jaccard
    * and within-cluster pairs are 1.0 ≥ any threshold.
    */
  def clusteredJaccardPairs(docs: DataFrame, threshold: Double,
                            n: Int = 3): DataFrame = {
    val (members, reps) = exactContraction(docs)
    expandRepPairs(members, prefixJaccardPairs(reps, threshold, n))
  }

  /** MinHash estimator CALIBRATION over the true near-dup pairs (the L57
    * gate) — the dedup-family counterpart of the ANN ladder's recall band
    * (l5f): the pair gates prove the engine returns the right PAIRS,
    * but never measure how well the signature itself estimates Jaccard,
    * which is what every production tuning decision (bands × rows, number
    * of hashes) is computed FROM. For every exact near-dup representative
    * pair (raw Jaccard ≥ `threshold` over distinct `n`-char shingles,
    * exact-dup contraction first, same engine as l2), emit the exact
    * overlap (|∩|, |∪|, round4 Jaccard) next to the k-lane MinHash
    * estimate (matching signature positions, est = matches/k) and an
    * integer-exact ±0.2 error-band verdict:
    *
    *   |matches/k − c/u| ≤ 0.2  ⟺  |5·matches·u − 320·c| ≤ 64·u   (k = 64)
    *
    * — cross-multiplied so the band comparison never touches a float and
    * both engines replay it exactly (the products stay far below 2^63:
    * matches ≤ 64, u < 2^20 at any document length). The declared band is
    * ~4 standard errors at j ≈ 0.8 (σ = √(j(1−j)/64) ≈ 0.05), so a
    * mis-seeded/broken hash family fails the gate while honest sampling
    * noise never does.
    *
    * 100 TB posture: the pair set is l2's output (prefix-filtered or
    * blocked, never quadratic); signatures are computed array-locally per
    * doc AFTER a left-semi contraction to the docs that actually appear in
    * a pair, so the persisted frame is match-sized, not corpus-sized. All per-pair
    * work (`array_intersect`, `zip_with`) is row-local codegen.
    */
  def minhashCalibration(docs: DataFrame, threshold: Double,
                         n: Int = 3, numHashes: Int = 64): DataFrame = {
    // Persisted: the rep frame is consumed by the pair engine (twice — a
    // routing collect plus the shingle explode) and the signature path.
    val reps = exactContraction(docs)._2.persist()
    try calibrationFromPairs(reps, prefixJaccardPairs(reps, threshold, n),
                             n, numHashes)
    finally reps.unpersist(blocking = false)
  }

  /** The signature/estimate stage of [[minhashCalibration]] over a
    * PRECOMPUTED representative frame and verified rep-pair set — the
    * staged-artifact path (l64d) feeds it the [[MatchGraph]] `rep_pairs`
    * Parquet so only the match-sized signature work runs; the pair engine
    * never re-executes. `n` must match the shingle width the pairs were
    * verified at.
    */
  def calibrationFromPairs(reps: DataFrame, pairs0: DataFrame,
                           n: Int = 3, numHashes: Int = 64): DataFrame = {
    require(numHashes == 64, "the integer band arithmetic is derived for k=64")
    val pairs = pairs0.select(col("da"), col("db"))
    val ids = pairs.select(col("da").as("doc_id"))
      .unionByName(pairs.select(col("db").as("doc_id"))).distinct()
    // Lane k is h_k(x) = ((2k+3)·x + (k² + 7k + 1)) mod (2³¹ − 1), min over
    // the doc's codes (seed-free, DuckDB-replayable; no overflow: codes are
    // < 2³⁷ and 2k+3 ≤ 129), evaluated as one array-local projection per
    // doc; codes are the doc's DISTINCT shingle set, so array_min /
    // array_intersect / size are all order-insensitive — collect_list
    // order cannot leak.
    // Contract BEFORE shingling: only pair participants re-explode.
    val sig = shingles(reps.join(ids, Seq("doc_id"), "left_semi"), n)
      .groupBy(col("doc_id")).agg(collect_list(col("code")).as("codes"))
      .select(col("doc_id"), col("codes"),
        expr("""transform(sequence(0, 63),
                  k -> array_min(transform(codes,
                    c -> (c * (k * 2 + 3) + (k * k + k * 7 + 1))
                         % 2147483647)))""").as("sig"))
      .persist()
    try materialize(
      pairs
        .join(sig.select(col("doc_id").as("da"), col("codes").as("ca"),
                         col("sig").as("sa")), Seq("da"))
        .join(sig.select(col("doc_id").as("db"), col("codes").as("cb"),
                         col("sig").as("sb")), Seq("db"))
        .select(col("da"), col("db"),
          size(array_intersect(col("ca"), col("cb"))).cast("long").as("n_inter"),
          (size(col("ca")) + size(col("cb"))).cast("long").as("nab"),
          size(expr("filter(zip_with(sa, sb, (x, y) -> x = y), b -> b)"))
            .cast("long").as("n_matches"))
        .withColumn("n_union", col("nab") - col("n_inter"))
        .select(col("da"), col("db"), col("n_inter"), col("n_union"),
          col("n_matches"),
          graft.Q.round4Ratio(col("n_inter"), col("n_union")).as("jaccard"),
          graft.Q.round4Ratio(col("n_matches"), lit(64L)).as("est_j"),
          lit(0.2).as("err_band"),
          (abs(lit(5L) * col("n_matches") * col("n_union") -
               lit(320L) * col("n_inter")) <=
            lit(64L) * col("n_union")).as("within_band")))
    finally sig.unpersist(blocking = false)
  }

  /** The exact-duplicate contraction itself: `members` (doc_id, rep_id,
    * csize — one row per doc, rep = min doc_id of its text group) and
    * `reps` (doc_id, text — one row per distinct text). ONE definition,
    * shared by the clustered near-dup wrappers above and the staged
    * match-graph artifact ([[MatchGraph]]), so the contraction semantics
    * (sha2 grouping, min-id rep election) cannot drift between the
    * from-scratch and staged paths.
    *
    * Both outputs come from one window over the text hash: rep_id =
    * min(doc_id) and csize = count over the doc's `ch` group, so the
    * corpus is exchanged once and text crosses the network at most once
    * (`members` alone prunes it before the exchange). The hash travels as
    * its 32 bytes, not as 64 hex characters.
    * NULL RULE: null-text docs are in neither output. A null text has a
    * null hash, and the window would group every null-text doc together,
    * so they are filtered out before it. doc_id must be unique, as it is
    * in every corpus the engine reads.
    */
  private[graft] def exactContraction(docs: DataFrame)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val group = Window.partitionBy(col("ch"))
    val c = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), unhex(sha2(col("text"), 256)).as("ch"))
      .select(col("doc_id"), col("text"),
              min(col("doc_id")).over(group).as("rep_id"),
              count(lit(1)).over(group).as("csize"))
    (c.select(col("doc_id"), col("rep_id"), col("csize")),
     c.filter(col("doc_id") === col("rep_id")).select(col("doc_id"), col("text")))
  }

  /** Doc-level match-graph COMPONENTS via the representative graph —
    * [[MatchGraph]]'s expansion argument as a shared operator:
    * connected components run over the VERIFIED REP PAIRS (iterative
    * state = matched representatives, a subset of the match graph), then
    * one membership join expands labels to docs. Provably equal to CC
    * over the doc-level expanded pair graph: members of one exact cluster
    * are mutually paired (within-cluster edges), so a doc's component is
    * its representative's, and a component's min doc_id equals its min
    * rep_id (each rep IS the min doc_id of its cluster); multi-member
    * clusters whose rep touches no rep pair are components of their own
    * with component_id = rep_id. Returns (doc_id, component_id), matched
    * docs only. The CC node set is the distinct endpoints of `repPairs`
    * (the matched reps), so [[connectedComponents]]' local route reads
    * nodes and edges from its one collect of the pairs. ONE definition,
    * shared by the l50/l61 gates and the staged artifact
    * ([[MatchGraph.build]]) so the from-scratch and staged component
    * semantics cannot drift; `ArtifactSpec` pins the staged ≡
    * from-scratch equality, `LlmSpec` the CC equivalences.
    *
    * CC over the expanded doc pairs would multiply every rep pair by the
    * product of its two cluster sizes and add C(csize, 2) within-cluster
    * edges: on a duplicate-heavy corpus, quadratically more edges carrying
    * no extra component information.
    */
  private[graft] def repComponents(members: DataFrame,
                                   repPairs: DataFrame): DataFrame = {
    val repComp = connectedComponents(repPairs.select(col("da"), col("db")))
      .select(col("doc_id").as("rep_id"), col("component_id"))
    members.join(repComp, Seq("rep_id"), "left")
      .filter(col("component_id").isNotNull || col("csize") >= 2)
      .select(col("doc_id"),
              coalesce(col("component_id"), col("rep_id")).as("component_id"))
  }

  /** Doc-level expansion of representative-level pairs: cross-cluster
    * pairs inherit the rep pair's jaccard, within-cluster pairs are exact
    * duplicates (1.0). Shared with [[MatchGraph]] for the same
    * no-drift-by-construction reason as [[exactContraction]].
    */
  private[operators] def expandRepPairs(members: DataFrame,
                                        repPairs: DataFrame): DataFrame = {
    val ma = members.select(col("rep_id").as("da"), col("doc_id").as("ia"))
    val mb = members.select(col("rep_id").as("db"), col("doc_id").as("ib"))
    val cross = repPairs.join(ma, "da").join(mb, "db")
      .select(least(col("ia"), col("ib")).as("da"),
              greatest(col("ia"), col("ib")).as("db"), col("jaccard"))
    val within = members.as("x").join(members.as("y"),
        col("x.rep_id") === col("y.rep_id") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
              lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** Connected components over a near-dup pair graph — the step that turns
    * pairwise matches into DEDUP CLUSTERS (component id = min doc_id, the
    * canonical document every dedup pipeline keeps). Iterative min-label
    * propagation with POINTER JUMPING: each round a node adopts the
    * smallest of (its label, its neighbors' labels, its label's label) —
    * the label-of-label hop halves chain lengths, so convergence is
    * O(log diameter) rounds rather than O(diameter), each round one
    * equi-join + hash aggregate (the Kiveris et al. "Connected Components
    * in MapReduce and Beyond" SOCC'14 shape; GraphX's own CC is the same
    * pattern over Pregel).
    *
    * 100 TB posture: state per round is one (node, label) row per document
    * — narrow and hash-partitioned; edges are materialized once with their
    * lineage cut, so round k never re-executes the candidate-generation
    * pipeline that produced the pairs. Label frames are localCheckpoint'd
    * per round: iterative plans otherwise stack k joins deep and the
    * optimizer re-plans the whole history every round (the m10 power-
    * iteration lesson). Convergence is a driver-side count of changed
    * labels — one scalar per round, not a data collect.
    */
  def connectedComponents(docs: DataFrame, pairs: DataFrame): DataFrame =
    components(pairs, Some(docs))

  /** [[connectedComponents]] of the graph whose nodes are exactly the
    * endpoints of `pairs` (da, db), so no node is isolated. The local
    * route takes the nodes from the edges it collected, one collect in
    * all; with nodes ≤ 2·pairs its cap rule reads on the pairs alone.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = components(pairs, None)

  /** `df`'s LONG columns, row after row, or None when it has more than
    * `max` rows with no null field (a row with one is skipped) or one of
    * its P partitions holds more than s = ⌈2·max/P⌉: a task ships its rows
    * only when they number at most s, so the driver receives at most
    * 2·max + P rows in one job (a LIMIT collect runs a job per round of
    * partitions; coalescing runs the upstream stage as one task).
    */
  private def collectAtMost(df: DataFrame, max: Int): Option[Array[Long]] = {
    val (width, rdd) = (df.schema.length, df.queryExecution.toRdd)
    val p = rdd.getNumPartitions.max(1)
    val share = math.min(max, (2L * max + p - 1) / p).toInt
    val parts = rdd.mapPartitions { rows =>
      val out = Array.newBuilder[Long]
      var n = 0
      while (n <= share && rows.hasNext) {
        val r = rows.next()
        if (!r.anyNull) { (0 until width).foreach(c => out += r.getLong(c)); n += 1 }
      }
      Iterator.single(Option.when(n <= share)(out.result()))
    }
    val kept = Array.newBuilder[Long]
    var n = 0L
    df.sparkSession.sparkContext.runJob(parts, (it: Iterator[Option[Array[Long]]]) => it.next(),
      (_: Int, part: Option[Array[Long]]) =>
        if (n <= max) n = part.fold(max + 1L) { r => kept ++= r; n + r.length / width })
    Option.when(n <= max)(kept.result())
  }

  /** The two routes of [[connectedComponents]]; `docs` None means the
    * node set is the endpoints of `pairs`.
    */
  private def components(pairs: DataFrame, docs: Option[DataFrame]): DataFrame = {
    val spark = pairs.sparkSession
    // LOCAL FINISH (guide §2.4 "remove shuffles outright"): when the graph
    // fits the driver comfortably, run the union-find there instead of
    // O(log d) rounds × ~6 stages of near-empty distributed jobs — the
    // MapReduce-CC endgame (Kiveris et al. SOCC'14; GraphFrames' CC). One
    // bounded collect per input ([[collectAtMost]], one job each) decides
    // the route on measured sizes: at most ⌊localMax/2⌋ pairs (each is two
    // directed edges) and localMax nodes, taken from the collected edges
    // when they are the pairs' endpoints. The cap is rows: two LONGs each,
    // so the default 1M rows bound a collect at ~16 MB. Past it, the
    // distributed pointer-jumping loop below is the at-scale route; match
    // graphs at 100 TB are corpus-sized and must never be collected.
    // `spark.graft.cc.localMaxRows=0` forces that loop. Both routes compute
    // the min node id per component (min-label union-find ≡ converged
    // min-label propagation); GraphPropSpec pins the equality on random
    // graphs and at the cap's boundary.
    val localMax = math.min(graft.GraftConf.ccLocalMaxRows.get(spark),
                            Int.MaxValue - 1L).toInt
    if (localMax > 0) {
      val edges = collectAtMost(pairs.select(col("da"), col("db")), localMax / 2)
      lazy val nodes = docs match {
        case Some(d) => collectAtMost(d.select(col("doc_id")), localMax)
        case None => edges.map(_.distinct)
      }
      if (edges.isDefined && nodes.isDefined) {
        val (e, nodeIds) = (edges.get, nodes.get)
        val parent = new java.util.HashMap[Long, Long](nodeIds.length * 2)
        nodeIds.foreach(n => parent.put(n, n))
        def find(x0: Long): Long = {
          var r = x0
          while (parent.get(r) != r) r = parent.get(r)
          var c = x0
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        e.indices.by(2).foreach { k =>
          // An edge with an endpoint absent from `docs` is inert — exactly
          // the distributed loop's semantics (the neighbor join only
          // propagates labels between nodes that HAVE labels; an unlabeled
          // endpoint neither receives nor conducts). Every current caller
          // passes nodes ⊇ endpoints, so this only matters for exactness.
          val a0 = e(k); val b0 = e(k + 1)
          if (parent.containsKey(a0) && parent.containsKey(b0)) {
            val a = find(a0); val b = find(b0)
            if (a < b) parent.put(b, a) else if (b < a) parent.put(a, b)
          }
        }
        return spark.createDataFrame(nodeIds.toSeq.map(n => (n, find(n))))
          .toDF("doc_id", "component_id")
      }
    }
    val edges0 = pairs.select(col("da").as("x"), col("db").as("y"))
      .unionByName(pairs.select(col("db").as("x"), col("da").as("y")))
      .localCheckpoint(true)
    val nodes = docs.getOrElse(pairs.select(col("da").as("doc_id"))
      .unionByName(pairs.select(col("db").as("doc_id"))).distinct())
    val labels0 = nodes.select(col("doc_id").as("x"), col("doc_id").as("comp"))
      .localCheckpoint(true)
    // Size the iterative state's parallelism to the DATA, not the session
    // default: each round re-scans these frames across ~6 stages, so 32
    // near-empty tasks per stage is pure scheduler latency on small graphs
    // (measured: np=4 vs np=32 halves round time at 1.2k nodes) while big
    // graphs still fan out to full parallelism. The counts are cheap —
    // both frames were just checkpointed.
    val rows = math.max(labels0.count(), edges0.count())
    val np = math.max(4L, math.min(spark.sparkContext.defaultParallelism.toLong,
                                   rows / 50000L + 1L)).toInt
    val edges = edges0.repartition(np).localCheckpoint(true)
    var labels = labels0.repartition(np).localCheckpoint(true)

    // One propagation hop: adopt the min of (own label, neighbors' labels,
    // own label's label).
    def hop(l: DataFrame): DataFrame = {
      val nbr = edges
        .join(l.select(col("x").as("y"), col("comp")), "y")
        .groupBy(col("x")).agg(min(col("comp")).as("ncomp"))
      l.join(l.select(col("x").as("comp"), col("comp").as("ccomp")),
             Seq("comp"), "left")
        .join(nbr, Seq("x"), "left")
        .select(col("x"),
          least(col("comp"),
                coalesce(col("ncomp"), col("comp")),
                coalesce(col("ccomp"), col("comp"))).as("comp"))
    }

    var changed = 1L
    var round = 0
    while (changed > 0 && round < 40) {
      // Two hops per checkpointed round: the fixed per-round cost (job
      // launch, checkpoint write, convergence count) dominates these tiny
      // label frames, so fusing two propagation steps into one plan nearly
      // halves wall time (measured: 5 rounds/4.0 s vs 9 rounds/6.6 s at
      // sf0.1); three hops per round regresses — the 6-shuffle plan
      // schedules worse than it saves.
      val next = hop(hop(labels))
        .join(labels.select(col("x"), col("comp").as("pcomp")), "x")
        .select(col("x"), col("comp"),
                (col("comp") < col("pcomp")).cast("long").as("delta"))
        .localCheckpoint(true)
      changed = next.agg(coalesce(sum(col("delta")), lit(0L))).head().getLong(0)
      labels = next.select(col("x"), col("comp"))
      round += 1
    }
    // Pointer-jumping converges in O(log d) rounds (each round ≥ doubles the
    // propagation distance), so 40 two-hop rounds cover any diameter that
    // fits in memory; if the cap is somehow hit, unconverged labels are
    // WRONG components — fail, never return them silently.
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $round rounds ($changed labels still changing)")
    labels.select(col("x").as("doc_id"), col("comp").as("component_id"))
  }

  /** Sub-document SPAN dedup (the L65 gate) — the dedup granularity BELOW
    * the document: every duplicated word-`n`-gram occurrence is masked out,
    * keeping only the corpus-wide FIRST occurrence (Lee et al. ACL'22
    * "Deduplicating Training Data Makes Language Models Better" — their
    * exact-substring dedup, at word-n-gram granularity). Doc-level exact
    * (l1) and near-dup (l2/l2b) dedup keep or drop WHOLE documents;
    * boilerplate runs shared across otherwise-distinct documents — the
    * dominant duplication mode in web corpora per Lee'22 — survive both.
    * This is the operator that strips them.
    *
    * Semantics (engine-independent, hash-gated): tokens are the
    * empty-filtered whitespace split; a gram occurrence is the space-join
    * of `n` consecutive tokens at 0-based start `s`; occurrence (doc, s)
    * is a DUPLICATE iff an occurrence of the same gram text exists at
    * strictly smaller (doc_id, s); a token position is dropped iff some
    * duplicate occurrence covers it. Per doc: token count, dropped count,
    * and the cleaned text (kept tokens re-joined — tokens adjacent across
    * a removed span concatenate, the Lee'22 convention).
    * First-occurrence-wins makes the output deterministic: the verdict for
    * every occurrence depends only on the corpus content, never on
    * partitioning or visit order.
    *
    * Scale shape (formulation chosen by measurement — SURVEY §6 r15 probe
    * (b) raced three plans over a planted-boilerplate corpus AND an
    * adversarial template corpus where six grams carry ~80% of all
    * occurrences): the verdict is a `row_number` window PARTITIONED BY
    * THE GRAM — one occurrence build, one shuffle, one per-gram sort,
    * no join. Unlike the per-language/per-status windows this engine
    * replaced in earlier rounds (data-sized partitions), a per-gram
    * partition is GRAM-FREQUENCY-sized: content-bounded, tiny for real
    * grams, and measured faster than both join formulations in every
    * tested regime — 2.2× over the min-struct-aggregate + join-back at
    * the benign 100k rung, and still 1.2× at the adversarial template
    * 1.6M-doc rung (48.4 s vs 58.0 s), where the join's theoretical
    * advantage (AQE can skew-split a join probe but never a window
    * partition) is real but amortized by its extra agg + join passes.
    * The documented cliff: when hot grams are FEWER than the cluster's
    * lanes AND their occurrence count exceeds the per-lane share
    * (single-template corpora at ≥256 lanes), flip to the
    * exchange-reuse join that probe measured. Then one doc-keyed
    * collect_set of duplicate starts (bounded by the doc's OWN token
    * count) and an array-local mask — linear in corpus tokens end to
    * end, no all-pairs stage.
    *
    * At 100 TB the shuffle key becomes a 128-bit gram fingerprint
    * instead of the gram text (the hashed variant of Lee'22's
    * suffix-array pipeline); the fixture keys the text itself so the
    * DuckDB oracle replays it verbatim.
    */
  def spanDedup(docs: DataFrame, n: Int = 6): DataFrame = {
    require(n >= 2, s"span width must be at least 2 tokens; got $n")
    val occ = spanOccurrences(docs, n)
    val w = Window.partitionBy(col("gram")).orderBy(col("doc_id"), col("s"))
    val dups = occ.withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1).select(col("doc_id"), col("s"))
    spanMask(docs, dups, n)
  }

  /** Word-`n`-gram occurrence table of a corpus: one row `(doc_id, s,
    * gram)` per 0-based start position — [[spanDedup]]'s generator, shared
    * with the streaming gram index (the s31 gate) so batch and stream
    * tokenize/slice identically by construction.
    */
  def spanOccurrences(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), TextFunctions.tokens("text").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(w) - ${n - 1}),
           |          i -> array_join(slice(w, i, $n), ' '))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("s"),
              col("col").as("gram"))

  /** The masking epilogue of [[spanDedup]], factored so any producer of
    * duplicate-occurrence verdicts `(doc_id, s)` — the batch first-
    * occurrence aggregate, or the streaming gram index's cross-batch
    * emissions — finishes through the identical doc-local mask: covered
    * positions are the union of [s, s+n-1] over the doc's duplicate
    * starts, kept tokens re-join with single spaces.
    */
  def spanMask(docs: DataFrame, dups: DataFrame, n: Int): DataFrame = {
    val tok = docs.select(col("doc_id"), TextFunctions.tokens("text").as("w"))
    val dupStarts = dups
      .groupBy(col("doc_id")).agg(collect_set(col("s")).as("ds0"))
    tok.join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
              coalesce(col("ds0"), typedLit(Seq.empty[Long])).as("ds"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
              expr(s"""filter(w, (t, i) ->
                      |  NOT exists(ds, s -> i >= s AND i <= s + ${n - 1}))"""
                     .stripMargin).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
              (col("n_tokens") - size(col("kept")).cast("long"))
                .as("n_dup_tokens"),
              array_join(col("kept"), " ").as("clean_text"))
  }
}
