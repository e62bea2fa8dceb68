package graft.operators

import graft.{Gate, Q, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declared near-dup and match-graph gates of the LLM data pipeline
  * (SURVEY.md §2.2 L-table) over the `documents` table, each with its
  * DuckDB oracle: exact and near-duplicate pairs, fingerprints, dedup
  * components and the graph measures over them, and the staged
  * match-graph artifact family (l64*).
  *
  * The reference has no analogue (its only pipeline is the matrix
  * multiply, reference `orchestrator/main.py`). Near-dup routes through
  * prefix filtering ([[DedupOps.prefixJaccardPairs]]): candidate
  * generation is an equi-join on globally rare shingle codes, never
  * all-pairs.
  */
object DedupQueries {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // ------------------------------------------------------------------
  // ARTIFACT-ROUTED pair derivations (round 16, the r15 verdict's top
  // item): the verified-pair engine runs ONCE per corpus
  // ([[MatchGraph.ensure]] memoizes per JVM; the l64 gate's `rebuild` is
  // the honest timed build) and every pair-derived gate reads the staged
  // Parquet — l2/l2b read `pairs`, l57/l64d read `rep_pairs`, l50/l64b
  // and l61/l64c read `components` — instead of re-running the
  // corpus-scale engine per gate (guide §2.4: remove the repeated pass
  // outright; at 100 TB each from-scratch gate was a redundant corpus
  // pass). Measured r16 before (sf0.1, min-of-3): l2 5.83 + l2b 7.38 +
  // l50 8.01 + l57 6.08 + l61 6.99 s, every one re-running the same
  // engine the l64 build already timed. The from-scratch operators
  // remain in DedupOps ([[DedupOps.clusteredJaccardPairs]],
  // [[DedupOps.minhashCalibration]], [[scratchComponents]]) and
  // ArtifactSpec pins staged ≡ from-scratch for every routed gate, so
  // the routing is a pure refactor of the dataflow, never of the result.
  // ------------------------------------------------------------------

  /** Survivorship map — cluster + keeper per doc (longest text wins,
    * doc_id breaks ties; singletons keep themselves) over a given
    * components frame. Shared by l50 and l64b (both staged since r16)
    * and by ArtifactSpec's from-scratch twin.
    */
  private[graft] def survivorshipMap(dd: DataFrame,
                                     comp: DataFrame): DataFrame = {
    val keepers = comp
      .join(dd.select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("component_id"))
      .agg(min(struct((-col("n_chars")).cast("long").as("neg_len"),
                      col("doc_id").as("id"))).as("k"))
      .select(col("component_id"), col("k.id").as("keeper_id"))
    dd.select(col("doc_id"))
      .join(comp.join(keepers, "component_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("component_id"), col("doc_id")).as("component_id"),
              coalesce(col("keeper_id"), col("doc_id")).as("keeper_id"))
      .orderBy("doc_id")
  }

  /** Cross-source duplication matrix (upper-triangular source×source
    * rollup + diagonal) over a given components frame. The
    * (component, source) rollup feeds three consumers (both self-join
    * sides + the diagonal), so it is pinned (localCheckpoint — it is
    * match-graph-contracted, ≤ one row per cluster-source). Shared by
    * l61 and l64c (both staged since r16) and by ArtifactSpec's
    * from-scratch twin.
    */
  private[graft] def sourceOverlapMatrix(dd: DataFrame,
                                         comp: DataFrame): DataFrame = {
    val cs = comp
      .join(dd.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("component_id"), col("source"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val a = cs.select(col("component_id"), col("source").as("src_a"),
                      col("n").as("na"))
    val b = cs.select(col("component_id"), col("source").as("src_b"),
                      col("n").as("nb"))
    val cross = a.join(b, "component_id")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_components"),
           sum(col("na") * col("nb")).as("n_doc_pairs"))
    val diag = cs.filter(col("n") >= 2)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_components"),
           sum(expr("(n * (n - 1)) div 2")).as("n_doc_pairs"))
      .select(col("source").as("src_a"), col("source").as("src_b"),
              col("n_components"), col("n_doc_pairs"))
    cross.unionByName(diag).orderBy("src_a", "src_b")
  }

  /** The exact-contraction representatives (doc_id, text) — the
    * signature input of the calibration gates (l57/l64d).
    */
  private def contractionReps(dd: DataFrame): DataFrame = {
    val h = dd.select(col("doc_id"), col("text"),
                      sha2(col("text"), 256).as("ch"))
    h.groupBy(col("ch")).agg(min(col("doc_id")).as("doc_id"))
      .join(h.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("text"))
  }

  /** MinHash calibration from the staged rep-pairs Parquet — only the
    * match-sized signature work runs ([[DedupOps.calibrationFromPairs]]);
    * the pair engine never re-executes. Shared by l57 and l64d.
    */
  private def artifactCalibration(s: SparkSession, d: String): DataFrame = {
    val art = MatchGraph.ensure(s, d, 0.8)
    val reps = contractionReps(docs(s, d)).persist()
    try DedupOps.calibrationFromPairs(reps, s.read.parquet(art.repPairs))
      .orderBy("da", "db")
    finally reps.unpersist(blocking = false)
  }

  /** From-scratch match-graph components (exact contraction → verified
    * pair engine → rep-graph CC) — the pre-r16 l50/l61 dataflow, kept as
    * ArtifactSpec's from-scratch twin of the staged `components` Parquet.
    */
  private[graft] def scratchComponents(dd: DataFrame): DataFrame = {
    val (members, reps) = DedupOps.exactContraction(dd)
    val repPairs = DedupOps.prefixJaccardPairs(reps, 0.8)
      .select("da", "db").localCheckpoint(true)
    DedupOps.repComponents(members, repPairs).localCheckpoint(true)
  }

  /** 3-char shingle sets, shared by the l2, l2b, l25, l29, l50 and l61 oracles. */
  private val duckShingles =
    """sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, length(text) - 1),
      |                            i -> substring(text, i, 3))) AS sh
      |    FROM documents WHERE length(text) >= 3))""".stripMargin

  // The l64 artifact family is hash-gated IDENTICAL to its from-scratch
  // twins: staging the pair engine's output as a Parquet artifact must
  // be a pure refactor of the dataflow — same verified pairs, same
  // components, same keeper election, same calibration rows — so each
  // derived gate reuses its twin's oracle verbatim (l64 ↔ l2,
  // l64b ↔ l50, l64c ↔ l61, l64d ↔ l57). A divergence anywhere in the
  // artifact write/read cycle hash-fails the derived gate while the
  // twin still passes — exactly the regression surface staging needs.

  private val nearDupOracle =
    s"""WITH $duckShingles,
       |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db,
       |  ${Q.duckRound4Ratio("c", "sa.nsh + sb.nsh - c")} AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE CAST(c AS DOUBLE) / (sa.nsh + sb.nsh - c) >= 0.8
       |ORDER BY da, db""".stripMargin

  // l14's fingerprint CTE → edge list → transitive closure via a
  // recursive CTE (UNION dedups, so it terminates), min reachable id
  // per node = component id. Singletons fall out of the base case.
  // The pair predicate replays l2's exact all-pairs oracle verbatim
  // (the gated engine is hash-equal to it), components are the same
  // transitive-closure reachability as l16's oracle, and the keeper is
  // a per-component window argmax on (n_chars DESC, doc_id ASC).
  private val survivorshipOracle =
    s"""WITH RECURSIVE $duckShingles,
       |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT da, db FROM inter
       |  JOIN sizes sa ON sa.doc_id = da
       |  JOIN sizes sb ON sb.doc_id = db
       |  WHERE CAST(c AS DOUBLE) / (sa.nsh + sb.nsh - c) >= 0.8),
       |edges AS (SELECT da AS x, db AS y FROM pairs
       |          UNION ALL SELECT db AS x, da AS y FROM pairs),
       |reach(x, comp) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.x, r.comp FROM edges e JOIN reach r ON e.y = r.x),
       |comp AS (SELECT x AS doc_id, MIN(comp) AS component_id
       |         FROM reach GROUP BY x),
       |ranked AS (
       |  SELECT c.doc_id, c.component_id,
       |    ROW_NUMBER() OVER (PARTITION BY c.component_id
       |                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
       |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
       |SELECT c.doc_id, c.component_id, k.doc_id AS keeper_id
       |FROM comp c
       |JOIN (SELECT component_id, doc_id FROM ranked WHERE rn = 1) k
       |  ON k.component_id = c.component_id
       |ORDER BY c.doc_id""".stripMargin

  // l50's chain up to the components, then the source rollup: the
  // ≥2-doc filter on the closure-built components equals the engine's
  // match-graph-only construction (a component has ≥ 2 docs iff its
  // docs appear in some pair).
  private val sourceOverlapOracle =
    s"""WITH RECURSIVE $duckShingles,
       |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT da, db FROM inter
       |  JOIN sizes sa ON sa.doc_id = da
       |  JOIN sizes sb ON sb.doc_id = db
       |  WHERE CAST(c AS DOUBLE) / (sa.nsh + sb.nsh - c) >= 0.8),
       |edges AS (SELECT da AS x, db AS y FROM pairs
       |          UNION ALL SELECT db AS x, da AS y FROM pairs),
       |reach(x, comp) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.x, r.comp FROM edges e JOIN reach r ON e.y = r.x),
       |comp AS (SELECT x AS doc_id, MIN(comp) AS component_id
       |         FROM reach GROUP BY x),
       |csz AS (SELECT component_id, COUNT(*) AS t FROM comp GROUP BY 1),
       |cs AS (
       |  SELECT c.component_id, d.source, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM comp c
       |  JOIN documents d ON d.doc_id = c.doc_id
       |  JOIN csz ON csz.component_id = c.component_id
       |  WHERE csz.t >= 2 GROUP BY 1, 2),
       |m AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_components,
       |    CAST(SUM(a.n * b.n) AS BIGINT) AS n_doc_pairs
       |  FROM cs a JOIN cs b
       |    ON a.component_id = b.component_id AND a.source < b.source
       |  GROUP BY 1, 2
       |  UNION ALL
       |  SELECT source, source, CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM((n * (n - 1)) // 2) AS BIGINT)
       |  FROM cs WHERE n >= 2 GROUP BY 1, 2)
       |SELECT src_a, src_b, n_components, n_doc_pairs
       |FROM m ORDER BY 1, 2""".stripMargin

  // Replays BOTH sides of the calibration: exact pairs over the rep
  // contraction (quadratic shared-shingle join — the semantic
  // definition, affordable at sf) AND the 64-lane affine MinHash
  // (seed-free lane k: min over codes of ((2k+3)·c + k²+7k+1) mod
  // (2³¹−1)), then the cross-multiplied integer band — so a broken
  // hash family, a wrong lane count, or a drifted estimate all
  // hash-fail.
  private val calibrationOracle =
    s"""WITH reps AS (
       |  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    ascii(substring(s, 1, 1)) * 65536 +
       |    ascii(substring(s, 2, 1)) * 256 +
       |    ascii(substring(s, 3, 1)) AS code
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range(1, length(text) - 1),
       |                                i -> substring(text, i, 3))) AS s
       |        FROM reps WHERE length(text) >= 3)),
       |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.code = b.code AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT da, db, c, sa.nsh + sb.nsh - c AS u
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = da
       |  JOIN sizes sb ON sb.doc_id = db
       |  WHERE CAST(c AS DOUBLE) / (sa.nsh + sb.nsh - c) >= 0.8),
       |mh AS (
       |  SELECT doc_id, k.range AS k,
       |    MIN((code * (k.range * 2 + 3)
       |         + (k.range * k.range + k.range * 7 + 1))
       |        % 2147483647) AS mh
       |  FROM sh CROSS JOIN range(64) k GROUP BY 1, 2),
       |m AS (
       |  SELECT p.da, p.db, p.c, p.u,
       |    CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_matches
       |  FROM pairs p
       |  JOIN mh a ON a.doc_id = p.da
       |  JOIN mh b ON b.doc_id = p.db AND b.k = a.k
       |  GROUP BY 1, 2, 3, 4)
       |SELECT da, db, CAST(c AS BIGINT) AS n_inter,
       |  CAST(u AS BIGINT) AS n_union, n_matches,
       |  ${Q.duckRound4Ratio("c", "u")} AS jaccard,
       |  ${Q.duckRound4Ratio("n_matches", "64")} AS est_j,
       |  CAST(0.2 AS DOUBLE) AS err_band,
       |  abs(5 * n_matches * u - 320 * c) <= 64 * u AS within_band
       |FROM m ORDER BY da, db""".stripMargin

  val gates: Seq[Gate] = Seq(
    // L1 — exact dedup: content-hash group-by, keep min doc_id.
    Gate("l1_exact_dedup", (s, d) =>
      DedupOps.exactDedup(docs(s, d)).orderBy("content_hash"),
      """SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
        |       COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // L2 — near-dup pairs at Jaccard ≥ 0.8 over 3-char shingles:
    // exact duplicates collapse FIRST (prefix-filter candidate joins are
    // quadratic in duplicate-cluster size — measured, ScaleProbe r5),
    // then prefix filtering (WWW'07 AllPairs) over unique reps:
    // candidates only from docs sharing a globally-RARE shingle within
    // their (1−t)·n prefix — exact by construction (no LSH
    // false-negative epsilon) and robust to this corpus's high
    // background similarity, where MinHash-LSH banding degenerates to a
    // quadratic bucket join. Same output contract; the oracle is the
    // exact all-pairs computation.
    //
    // Round 16: the gated output reads the staged artifact's `pairs`
    // Parquet — l2 IS the artifact's declared contract
    // ([[MatchGraph]] "the l2 output contract"), so serving it from the
    // one staged engine run removes a whole redundant corpus pass
    // (guide §2.4). From-scratch algorithm unchanged in
    // [[DedupOps.clusteredJaccardPairs]]; ArtifactSpec pins staged ≡
    // from-scratch and the oracle stays the exact all-pairs SQL.
    Gate("l2_near_dup", (s, d) =>
      s.read.parquet(MatchGraph.ensure(s, d, 0.8).pairs)
        .orderBy("da", "db"),
      nearDupOracle),

    // L2b — the l2 contract under its second gate name, served from the
    // same staged `pairs` (one engine run per corpus, guide §2.4); the
    // oracle is the same exact all-pairs SQL.
    Gate("l2b_minhash_lsh", (s, d) =>
      s.read.parquet(MatchGraph.ensure(s, d, 0.8).pairs)
        .orderBy("da", "db"),
      // l2b answers the SAME question as l2 (both read the staged pairs),
      // so its oracle is the identical exact all-pairs computation.
      s"""WITH $duckShingles,
         |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT da, db,
         |  ${Q.duckRound4Ratio("c", "sa.nsh + sb.nsh - c")} AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = da
         |JOIN sizes sb ON sb.doc_id = db
         |WHERE CAST(c AS DOUBLE) / (sa.nsh + sb.nsh - c) >= 0.8
         |ORDER BY da, db""".stripMargin),

    // L7 — SimHash fingerprints: 16-bit sign-of-weighted-bit-votes over the
    // SQL-reproducible polynomial token hash; oracle replays it exactly.
    Gate("l7_simhash", (s, d) =>
      SimHashOps.simhash(docs(s, d)).orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(tok) + 1),
        |                       i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000003) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b.range AS b,
        |    SUM(CASE WHEN (h // (1 << b.range)) % 2 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, range(16) b GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN CAST(1 << b AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash16
        |FROM votes GROUP BY 1 ORDER BY 1""".stripMargin),

    // L14 — SimHash near-dup pairs at Hamming ≤ 1: pigeonhole-banded
    // candidates (two 8-bit blocks; a ≤1-distance pair must agree exactly
    // on one block) + exact bit_count verification — the scale companion
    // to L7's fingerprints, completing hash → pairs for the SimHash
    // dedup path as MinHash/prefix-filter already do for Jaccard.
    Gate("l14_simhash_pairs", (s, d) =>
      SimHashOps.simhashPairs(docs(s, d), maxHamming = 1).orderBy("da", "db"),
      // Reuses the l7 fingerprint CTE, then the exact quadratic pair join
      // the banded Spark plan must reproduce. xor/bit_count on BIGINT are
      // exact in both engines (fingerprints are 16-bit non-negative).
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(tok) + 1),
        |                       i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000003) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b.range AS b,
        |    SUM(CASE WHEN (h // (1 << b.range)) % 2 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, range(16) b GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN s > 0 THEN CAST(1 << b AS BIGINT) ELSE 0 END) AS BIGINT) AS f
        |  FROM votes GROUP BY 1)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |       CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.f, b.f)) <= 1
        |ORDER BY da, db""".stripMargin),

    // L14b — L14 at the PRODUCTION fingerprint width: 64-bit SimHash (four
    // independent 16-bit hash lanes — the mod-1000003 hash has ~20 useful
    // bits, so wider fingerprints need more hashes, not more bits of one),
    // Hamming ≤ 3 via 4 pigeonhole blocks × 16 bits. A 16-bit space
    // saturates on large corpora (sf0.1: 5000 docs → 1195 distinct
    // fingerprints); 64 bits is the width Manku's crawl dedup runs at.
    Gate("l14b_simhash64_pairs", (s, d) =>
      SimHashOps.simhashPairs(docs(s, d), maxHamming = 3, bits = 64)
        .orderBy("da", "db"),
      // l14's scheme at 64 bits: four independent polynomial hash lanes
      // (multipliers 31/37/41/43, 16 fingerprint bits each), then the exact
      // quadratic pair join at Hamming ≤ 3. Bit 63 is the BIGINT sign bit —
      // DuckDB refuses the overflowing `1 << 63`, so that term is the
      // explicit MIN_BIGINT literal; xor/bit_count are two's-complement-
      // exact in both engines, so negative fingerprints compare fine.
      {
        val lanes = Seq(31, 37, 41, 43).zipWithIndex.map { case (m, k) =>
          s"""    list_reduce(
             |      list_prepend(CAST(0 AS BIGINT),
             |        list_transform(range(1, length(tok) + 1),
             |                       i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
             |      (acc, c) -> (acc * $m + c) % 1000003) AS h$k""".stripMargin
        }.mkString(",\n")
        s"""WITH toks AS (
           |  SELECT doc_id,
           |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
           |  FROM documents),
           |h AS (
           |  SELECT doc_id,
           |$lanes
           |  FROM toks),
           |votes AS (
           |  SELECT doc_id, b.range AS b,
           |    SUM(CASE WHEN ((CASE b.range // 16 WHEN 0 THEN h0 WHEN 1 THEN h1
           |                    WHEN 2 THEN h2 ELSE h3 END)
           |                   // (1 << (b.range % 16))) % 2 = 1
           |             THEN 1 ELSE -1 END) AS s
           |  FROM h, range(64) b GROUP BY 1, 2),
           |fp AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN s <= 0 THEN 0
           |                  WHEN b = 63 THEN -9223372036854775807 - 1
           |                  ELSE CAST(1 AS BIGINT) << b END) AS BIGINT) AS f
           |  FROM votes GROUP BY 1)
           |SELECT a.doc_id AS da, b.doc_id AS db,
           |       CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
           |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.f, b.f)) <= 3
           |ORDER BY da, db""".stripMargin
      }),

    // L16 — dedup clusters: connected components over the SimHash ≤1 pair
    // graph (L14's edges). Pairs alone don't dedup a corpus — the keep/drop
    // decision needs the transitive closure, one canonical doc (min
    // doc_id) per component. Pointer-jumping label propagation over the
    // CONTRACTED
    // fingerprint-class graph — iterative state one row per distinct
    // fingerprint, O(log diameter) rounds of one join + agg each.
    Gate("l16_dedup_components", (s, d) =>
      SimHashOps.simhashComponents(docs(s, d), maxHamming = 1)
        .orderBy("doc_id"),
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(tok) + 1),
        |                       i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000003) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b.range AS b,
        |    SUM(CASE WHEN (h // (1 << b.range)) % 2 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, range(16) b GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN s > 0 THEN CAST(1 << b AS BIGINT) ELSE 0 END) AS BIGINT) AS f
        |  FROM votes GROUP BY 1),
        |edges AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM fp a JOIN fp b ON a.doc_id != b.doc_id
        |  WHERE bit_count(xor(a.f, b.f)) <= 1),
        |reach(x, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.x, r.comp FROM edges e JOIN reach r ON e.y = r.x)
        |SELECT x AS doc_id, MIN(comp) AS component_id
        |FROM reach GROUP BY x ORDER BY doc_id""".stripMargin),

    // L50 — NEAR-DUP SURVIVORSHIP MAP (round 13): the stage a curation
    // pipeline persists for audit after pair generation — verified
    // near-dup pairs fold into clusters (connected components) and each
    // cluster elects ONE keeper by an explicit deterministic policy
    // (longest text wins, doc_id breaks ties — the "keep the richest
    // variant" rule, vs l1/l19's min-id-on-exact-hash). Every doc maps to
    // (cluster, keeper); singletons keep themselves. Dataflow composes
    // pieces that already carry 100 TB arguments: the regime-adaptive l2
    // pair engine, the O(log d) pointer-jumping components, one
    // min(struct) hash-aggregate argmax per cluster, and a keeper join
    // back onto the map — no new shuffle shape beyond what l2/l16 pay.
    Gate("l50_survivorship", { (s, d) =>
      // Round 16: components come from the staged artifact's Parquet
      // (guide §2.4 — the r15 routing through [[DedupOps.repComponents]]
      // still re-ran the pair engine per gate; the staged read removes
      // the corpus pass outright). Only the keeper argmax + the corpus
      // left-join run here — the same residual work as l64b, now shared
      // verbatim via [[survivorshipMap]]. ArtifactSpec pins this against
      // the from-scratch twin ([[scratchComponents]] + the same map).
      survivorshipMap(docs(s, d),
        s.read.parquet(MatchGraph.ensure(s, d, 0.8).components))
    },
      survivorshipOracle),

    // L57 — MinHash estimator calibration (round 14): the dedup-family
    // counterpart of l5f's recall band. For every exact near-dup pair
    // (l2's contract) the gate puts the 64-lane MinHash ESTIMATE next to
    // the exact Jaccard and hash-enforces an integer-exact ±0.2 error
    // band — the signature-quality readout every bands×rows tuning is
    // computed from, which the pair gates (l2b) never measure. See
    // [[DedupOps.minhashCalibration]] for the cross-multiplied band
    // arithmetic and the match-sized (not corpus-sized) persist.
    // Round 16: the verified pairs come from the staged artifact's
    // `rep_pairs` Parquet ([[artifactCalibration]], shared with l64d) —
    // only the match-sized signature work runs per gate; the pair engine
    // executes once per corpus (guide §2.4). From-scratch twin
    // [[DedupOps.minhashCalibration]] stays and ArtifactSpec pins
    // staged ≡ from-scratch.
    Gate("l57_minhash_calibration", (s, d) => artifactCalibration(s, d),
      calibrationOracle),

    // L59 — fixed-point PageRank over the SimHash ≤1 near-dup graph
    // (round 14): the quality-propagation readout on the graph l16
    // clusters and l33 triangulates — which docs sit at the CENTER of
    // their dup neighborhood vs its periphery. Integer-scaled damped
    // iteration (5 rounds), bit-identical on any partitioning, evaluated
    // on the fingerprint-class QUOTIENT ([[SimHashOps.simhashPageRank]]:
    // ~20k weighted class edges stand in for 1.16M directed doc edges per
    // round at sf0.1 — measured 10.7 → ~3 s; a spec pins quotient ≡ the
    // generic edge-list [[GraphOps.pageRank]]). The oracle replays the
    // l14 fingerprint construction and unrolls the same five integer
    // updates on the doc graph.
    Gate("l59_pagerank", (s, d) =>
      SimHashOps.simhashPageRank(docs(s, d)).orderBy("doc_id"),
      // Replays the l14 fingerprint + exact pair join, then UNROLLS the five
      // integer damped-rank updates — generated from one template so the
      // iteration arithmetic can never drift between rounds (the r13
      // lockstep-copy lesson). All divisions are integer floors on positive
      // values, so both engines agree bit-for-bit.
      {
        val rounds = (1 to 5).map { i =>
          s"""r$i AS (
             |  SELECT ed.t AS id,
             |    CAST((15000000 + 85 * SUM(p.r // ed.d)) // 100 AS BIGINT) AS r
             |  FROM ed JOIN r${i - 1} p ON ed.s = p.id GROUP BY 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH toks AS (
           |  SELECT doc_id,
           |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
           |  FROM documents),
           |h AS (
           |  SELECT doc_id,
           |    list_reduce(
           |      list_prepend(CAST(0 AS BIGINT),
           |        list_transform(range(1, length(tok) + 1),
           |                       i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
           |      (acc, c) -> (acc * 31 + c) % 1000003) AS h
           |  FROM toks),
           |votes AS (
           |  SELECT doc_id, b.range AS b,
           |    SUM(CASE WHEN (h // (1 << b.range)) % 2 = 1 THEN 1 ELSE -1 END) AS s
           |  FROM h, range(16) b GROUP BY 1, 2),
           |fp AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN s > 0 THEN CAST(1 << b AS BIGINT) ELSE 0 END) AS BIGINT) AS f
           |  FROM votes GROUP BY 1),
           |pr AS (
           |  SELECT a.doc_id AS da, b.doc_id AS db
           |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.f, b.f)) <= 1),
           |e AS (SELECT da AS s, db AS t FROM pr
           |      UNION ALL SELECT db AS s, da AS t FROM pr),
           |deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
           |ed AS (SELECT e.s, e.t, deg.d FROM e JOIN deg ON e.s = deg.s),
           |r0 AS (SELECT s AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
           |$rounds
           |SELECT r5.id AS doc_id, deg.d AS degree, r5.r AS pr_scaled
           |FROM r5 JOIN deg ON deg.s = r5.id ORDER BY doc_id""".stripMargin
      }),

    // L60 — k-CORE PEEL of the near-dup graph (round 14): iterated
    // degree-threshold removal to a fixed point, k = the lower median doc
    // degree (integer-exact, data-derived). The density axis l16
    // (membership), l33 (local closure), and l59 (centrality) all miss:
    // the surviving core is the templated heart of a duplication
    // neighborhood, peel_round stratifies its periphery — the web-graph
    // quality peel (Seidman 1983; Batagelj–Zaveršnik) applied to
    // curation. Runs entirely on the bounded fingerprint-class quotient
    // (driver peel over ≤ 2^16 classes — see [[SimHashOps.simhashKCore]]);
    // the oracle unrolls 8 synchronous doc-level peel rounds from one
    // template (fixpoint at gate scale is round 3; later rounds no-op).
    Gate("l60_kcore", (s, d) =>
      SimHashOps.simhashKCore(docs(s, d)).orderBy("doc_id"),
      // Replays the l14 fingerprint + exact pair join, derives k as the
      // integer lower median of degrees (running-sum threshold, no
      // cume_dist doubles), then UNROLLS eight synchronous peel rounds from
      // one template (each round: surviving degree = edges into the
      // previous survivor set; remove < k). Fixpoint at gate scale is round
      // 3, so rounds 4–8 are no-ops — unrolling past convergence is safe
      // because peeling is monotone.
      {
        // AS MATERIALIZED on every round CTE: each s_i references s_{i-1}
        // three times transitively; inlined, the 8-round chain expands
        // 3^8-fold (measured: DuckDB exhausts file descriptors re-scanning
        // the parquet). Materialization makes the oracle linear in rounds.
        val rounds = (1 to 8).map { i =>
          s"""d$i AS MATERIALIZED (
             |  SELECT a.doc_id, COUNT(y.doc_id) AS deg
             |  FROM s${i - 1} a
             |  LEFT JOIN e ON e.s = a.doc_id
             |  LEFT JOIN s${i - 1} y ON y.doc_id = e.t
             |  GROUP BY 1),
             |rm$i AS MATERIALIZED (
             |  SELECT a.doc_id FROM d$i a, kv WHERE a.deg < kv.k),
             |s$i AS MATERIALIZED (
             |  SELECT a.doc_id FROM s${i - 1} a
             |  WHERE NOT EXISTS (SELECT 1 FROM rm$i r
             |                    WHERE r.doc_id = a.doc_id))""".stripMargin
        }.mkString(",\n")
        val peel = (1 to 8)
          .map(i => s"SELECT doc_id, $i AS peel_round FROM rm$i")
          .mkString("\n  UNION ALL ")
        s"""WITH toks AS (
           |  SELECT doc_id,
           |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
           |  FROM documents),
           |h AS (
           |  SELECT doc_id,
           |    list_reduce(
           |      list_prepend(CAST(0 AS BIGINT),
           |        list_transform(range(1, length(tok) + 1),
           |                       i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
           |      (acc, c) -> (acc * 31 + c) % 1000003) AS h
           |  FROM toks),
           |votes AS (
           |  SELECT doc_id, b.range AS b,
           |    SUM(CASE WHEN (h // (1 << b.range)) % 2 = 1 THEN 1 ELSE -1 END) AS s
           |  FROM h, range(16) b GROUP BY 1, 2),
           |fp AS MATERIALIZED (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN s > 0 THEN CAST(1 << b AS BIGINT) ELSE 0 END) AS BIGINT) AS f
           |  FROM votes GROUP BY 1),
           |pr AS (
           |  SELECT a.doc_id AS da, b.doc_id AS db
           |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.f, b.f)) <= 1),
           |e AS MATERIALIZED (
           |  SELECT da AS s, db AS t FROM pr
           |  UNION ALL SELECT db AS s, da AS t FROM pr),
           |d0 AS MATERIALIZED (
           |  SELECT fp.doc_id, CAST(COUNT(e.t) AS BIGINT) AS deg0
           |  FROM fp LEFT JOIN e ON e.s = fp.doc_id GROUP BY 1),
           |kv AS MATERIALIZED (
           |  SELECT MIN(deg0) AS k FROM (
           |    SELECT deg0, SUM(cnt) OVER (ORDER BY deg0) AS cum,
           |           SUM(cnt) OVER () AS n
           |    FROM (SELECT deg0, COUNT(*) AS cnt FROM d0 GROUP BY 1))
           |  WHERE 2 * cum >= n),
           |s0 AS MATERIALIZED (SELECT doc_id FROM d0),
           |$rounds,
           |peel AS (
           |  $peel)
           |SELECT d0.doc_id, d0.deg0, kv.k AS k,
           |  CAST(COALESCE(p.peel_round, 0) AS BIGINT) AS peel_round
           |FROM d0 CROSS JOIN kv
           |LEFT JOIN peel p ON p.doc_id = d0.doc_id
           |ORDER BY d0.doc_id""".stripMargin
      }),

    // L61 — CROSS-SOURCE DUPLICATION MATRIX (round 14): which sources
    // copy which. Verified Jaccard ≥ 0.8 clusters (the l50 pair engine +
    // components) rolled up to an upper-triangular source×source matrix:
    // n_components = clusters with BOTH sources present (diagonal:
    // clusters with ≥ 2 docs of that source), n_doc_pairs = Σ n_a·n_b
    // (diagonal: Σ C(n,2)) — the mirror-site / feed-overlap audit every
    // corpus assembly publishes (e.g. CommonCrawl-vs-C4 overlap studies).
    // Scale: the only new work past the pair engine is a
    // (component, source)-sized rollup and a per-component self-join
    // bounded by the SOURCE space (≤ |sources|² rows per cluster, never
    // doc-quadratic); components run on the match graph only (l50's
    // argument).
    Gate("l61_source_overlap", { (s, d) =>
      // Round 16: components from the staged artifact's Parquet (guide
      // §2.4 — see l50); only the (component, source) rollup, the
      // source-space-bounded self-join, and the diagonal run per gate,
      // shared verbatim with l64c via [[sourceOverlapMatrix]].
      // ArtifactSpec pins this against the from-scratch twin.
      sourceOverlapMatrix(docs(s, d),
        s.read.parquet(MatchGraph.ensure(s, d, 0.8).components))
    },
      sourceOverlapOracle),

    // L64 — STAGED MATCH-GRAPH ARTIFACT (round 15, the r14 verdict's top
    // item): run the verified pair engine ONCE and persist its output —
    // rep pairs, doc-level expansion, match-graph components — as a
    // Parquet artifact ([[graft.operators.MatchGraph]]; the engine-native
    // form of the reference's staged mapper-output blobs). The write IS
    // the measured operator (io-family sink discipline); the gated output
    // is the artifact's doc-level pair set READ BACK from Parquet, hash-
    // gated against l2's exact all-pairs oracle — the sink→source cycle
    // must be lossless AND the staged pairs must equal the from-scratch
    // ones. Derived gates (l64b/c/d) consume the artifact instead of
    // re-running the engine: at 100 TB this turns four corpus passes into
    // one (~25–30 s of the sf0.1 bench before staging).
    Gate("l64_match_artifact", { (s, d) =>
      val art = MatchGraph.rebuild(s, d, 0.8)
      s.read.parquet(art.pairs).orderBy("da", "db")
    },
      nearDupOracle),

    // L64b — survivorship DERIVED FROM THE ARTIFACT: l50's exact output
    // (cluster + keeper per doc, longest-text-wins election) but the
    // pair engine and components come from the staged Parquet — only the
    // keeper argmax and the corpus left-join run. Oracle = l50's
    // verbatim; ArtifactSpec additionally pins engine-side equality.
    Gate("l64b_artifact_survivorship", { (s, d) =>
      survivorshipMap(docs(s, d),
        s.read.parquet(MatchGraph.ensure(s, d, 0.8).components))
    },
      survivorshipOracle),

    // L64c — cross-source duplication matrix DERIVED FROM THE ARTIFACT:
    // l61's exact rollup over the staged components — the (component,
    // source) contraction, the source-space-bounded self-join, and the
    // diagonal are all that run. Oracle = l61's verbatim.
    Gate("l64c_artifact_source_overlap", { (s, d) =>
      sourceOverlapMatrix(docs(s, d),
        s.read.parquet(MatchGraph.ensure(s, d, 0.8).components))
    },
      sourceOverlapOracle),

    // L64d — MinHash calibration DERIVED FROM THE ARTIFACT: l57's exact
    // rows, but the verified rep pairs come from the staged Parquet and
    // only the match-sized signature work runs
    // ([[DedupOps.calibrationFromPairs]] — left-semi contraction to pair
    // participants, array-local lanes). Oracle = l57's verbatim.
    Gate("l64d_artifact_calibration", (s, d) => artifactCalibration(s, d),
      calibrationOracle),

    // L65 — SUB-document span dedup (Lee et al. ACL'22 exact-substring
    // dedup at word-6-gram granularity): every duplicated 6-gram
    // occurrence is masked, the corpus-wide first occurrence survives,
    // and each doc emits its cleaned text — the dedup granularity BELOW
    // l1/l2's whole-document verdicts, where cross-document boilerplate
    // runs live. Width 6 isolates the injected clone runs on the fixtures
    // (24/500 docs at sf0.01) without swallowing random short collisions.
    // [[DedupOps.spanDedup]] for the linear-in-corpus-tokens plan.
    Gate("l65_span_dedup", (s, d) =>
      DedupOps.spanDedup(docs(s, d), 6).orderBy("doc_id"),
      // Replays the span-dedup semantics literally: 0-based word-6-gram
      // occurrences, first (doc_id, s) per gram survives (row_number),
      // covered positions = union of [s, s+5] over duplicate occurrences,
      // cleaned text = ordered string_agg of the kept words. A doc whose
      // every position is covered keeps the empty string (matches Spark's
      // array_join over the empty kept array).
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
        |      ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, s) AS rn
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

    // L23 — INCREMENTAL ingestion dedup: the corpus is a live table, and
    // each arriving batch must be classified against the EXISTING index —
    // the shape every production curation system actually runs (the batch
    // pipeline l19 is the bootstrap; this is steady state). Snapshot split
    // by doc_id parity: even = base corpus, odd = arriving increment.
    // Each arriving doc gets exactly one status:
    //   exact_dup — its text already in base (hash-index anti-lookup), or
    //               a smaller-id twin inside the same increment;
    //   near_dup  — survives exact but has a SimHash neighbor (Hamming ≤ 1)
    //               in BASE (the fingerprint-index lookup);
    //   ingested  — novel.
    // Reuses the banded pair machinery over the union then keeps only
    // cross-side pairs; a production pass band-joins increment fingerprints
    // directly against the persisted base fingerprint index — same plan
    // shape, minus the within-side candidates. Output: per-(lang, status)
    // accounting, the ingestion dashboard row.
    Gate("l23_incremental_dedup", (s, d) =>
      DedupOps.incrementalClassify(docs(s, d))
        .groupBy(col("lang"), col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "status"),
      // Replays the incremental classification with the l14 fingerprint
      // machinery (text-grouped exact dedup ≡ sha2 grouping — injective on
      // any real corpus), quadratic cross-side pair scan, left-join status
      // derivation.
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(tok) + 1),
        |                       i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000003) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b.range AS b,
        |    SUM(CASE WHEN (h // (1 << b.range)) % 2 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, range(16) b GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN s > 0 THEN CAST(1 << b AS BIGINT) ELSE 0 END) AS BIGINT) AS f
        |  FROM votes GROUP BY 1),
        |near_set AS (
        |  SELECT DISTINCT
        |    CASE WHEN a.doc_id % 2 = 1 THEN a.doc_id ELSE b.doc_id END AS odd_id
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.f, b.f)) <= 1 AND (a.doc_id % 2) != (b.doc_id % 2)),
        |base_texts AS (
        |  SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0),
        |incr AS (
        |  SELECT d.doc_id, d.lang, d.text,
        |    ROW_NUMBER() OVER (PARTITION BY d.text ORDER BY d.doc_id) AS rn
        |  FROM documents d WHERE d.doc_id % 2 = 1),
        |cls AS (
        |  SELECT i.lang,
        |    CASE WHEN i.rn > 1 OR bt.text IS NOT NULL THEN 'exact_dup'
        |         WHEN ns.odd_id IS NOT NULL THEN 'near_dup'
        |         ELSE 'ingested' END AS status
        |  FROM incr i
        |  LEFT JOIN base_texts bt ON i.text = bt.text
        |  LEFT JOIN near_set ns ON i.doc_id = ns.odd_id)
        |SELECT lang, status, COUNT(*) AS n FROM cls
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // L25 — CONTAINMENT dedup (asymmetric Jaccard ≥ 0.9): the
    // quote/excerpt/boilerplate pass — a short doc living almost entirely
    // inside a longer one scores ~1 here while symmetric Jaccard (L2)
    // sees nothing. Contained-side-only prefix filter, full-set container
    // join, linear native-expression verify.
    Gate("l25_containment", (s, d) =>
      DedupOps.containmentPairs(docs(s, d), 0.9)
        .orderBy("contained_id", "container_id"),
      s"""WITH $duckShingles,
         |sizes AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY 1),
         |c AS (SELECT a.doc_id AS xa, b.doc_id AS xb, COUNT(*) AS c
         |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id != b.doc_id
         |      GROUP BY 1, 2)
         |SELECT xa AS contained_id, xb AS container_id,
         |  ${Q.duckRound4Ratio("c.c", "sa.ns")} AS containment
         |FROM c JOIN sizes sa ON c.xa = sa.doc_id
         |       JOIN sizes sb ON c.xb = sb.doc_id
         |WHERE c.c * 1000000 >= 900000 * sa.ns
         |  AND (sa.ns < sb.ns OR (sa.ns = sb.ns AND c.xa < c.xb))
         |ORDER BY contained_id, container_id""".stripMargin),

    // L29 — per-document duplicate-shingle fraction: what share of a
    // doc's distinct 3-shingles also appear in at least one OTHER doc —
    // the Gopher-style boilerplate/repetition quality signal (a doc made
    // of corpus-common fragments scores near 1, novel text near 0), and
    // the per-doc scalar companion to the pairwise dedup family (L2/L25
    // find WHICH docs overlap; this scores HOW MUCH of each doc is
    // shared). Two map-side-combinable aggregates, no occurrence-level
    // join anywhere ([[DedupOps.dupShingleFraction]] rationale) — linear
    // in corpus size at 100 TB where the pair queries are quadratic in
    // bucket width.
    Gate("l29_dup_shingle_frac", (s, d) =>
      DedupOps.dupShingleFraction(docs(s, d), 3).orderBy("doc_id"),
      // Same distinct-shingle CTE as the pair queries; df counted over the
      // already-distinct (doc, shingle) rows, ratio via the shared integer
      // half-up ROUND formula.
      s"""WITH $duckShingles,
         |dfq AS (SELECT sh AS code, COUNT(*) AS dfc FROM sh GROUP BY 1),
         |per AS (
         |  SELECT s.doc_id, COUNT(*) AS n_sh,
         |    CAST(SUM(CASE WHEN d.dfc >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dup
         |  FROM sh s JOIN dfq d ON s.sh = d.code
         |  GROUP BY 1)
         |SELECT doc_id, n_sh, n_dup,
         |  ${Q.duckRound4Ratio("n_dup", "n_sh")} AS dup_frac
         |FROM per ORDER BY doc_id""".stripMargin),

    // L33 — triangle counts over the SimHash ≤1 near-dup graph: the
    // community-density primitive on top of the pair family (L14 finds
    // edges, L16 finds components, this measures how CLIQUE-LIKE each
    // neighborhood is — a doc in many triangles sits in a dense duplicate
    // cluster, not a chain of borderline matches). Runs on the CONTRACTED
    // fingerprint-class graph with closed-form clique expansion
    // ([[SimHashOps.simhashTriangleCounts]] — identical-fingerprint cliques
    // make direct doc-graph wedge enumeration quadratic in class width;
    // direct run measured 15.2 s → 5.9 s after localCheckpoint at sf0.1,
    // vs ~4 s contracted in BENCH_r07); the generic degree-ordered
    // [[GraphOps.triangleCounts]] remains the arbitrary-graph operator,
    // spec-pinned equal on the expanded graph. Top-10 funnel is
    // TakeOrderedAndProject (distributed top-k), never a whole-corpus
    // single-partition window.
    Gate("l33_triangle_count", { (s, d) =>
      val counts = SimHashOps.simhashTriangleCounts(docs(s, d), maxHamming = 1)
      val top = counts
        .orderBy(col("n_triangles").desc, col("doc_id").asc).limit(10)
      top.withColumn("rnk",
          row_number().over(Window.orderBy(col("n_triangles").desc,
                                           col("doc_id").asc)).cast("long"))
        .select("rnk", "doc_id", "n_triangles")
        .orderBy("rnk")
    },
      // l14's fingerprint CTEs, then the naive id-ordered 3-way triangle
      // join and per-node role counts — orientation-free, so it checks the
      // degree-ordered Spark plan produces the same triangle set.
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(tok) + 1),
        |                       i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000003) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b.range AS b,
        |    SUM(CASE WHEN (h // (1 << b.range)) % 2 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h, range(16) b GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN s > 0 THEN CAST(1 << b AS BIGINT) ELSE 0 END) AS BIGINT) AS f
        |  FROM votes GROUP BY 1),
        |e AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.f, b.f)) <= 1),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |roles AS (
        |  SELECT x AS doc_id FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_triangles FROM roles GROUP BY 1)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_triangles DESC, doc_id ASC) AS BIGINT) AS rnk,
        |  doc_id, CAST(n_triangles AS BIGINT) AS n_triangles
        |FROM cnt ORDER BY n_triangles DESC, doc_id ASC LIMIT 10""".stripMargin),

    // L35 — duplicated-passage fraction: l29's duplicate-content score at
    // PASSAGE granularity (64-char windows, stride 16) — the verbatim-span
    // detector substring dedup runs on, vs the 3-gram noise floor. Linear
    // frequency-pass formulation, no self-join; short docs carry zero
    // windows through the left join.
    Gate("l35_passage_dup", (s, d) =>
      DedupOps.dupWindowFraction(docs(s, d), 64, 16).orderBy("doc_id"),
      // Replays the strided window table (range() is exclusive-stop, so
      // len−62 matches sequence()'s inclusive len−63), the df=1 ownership
      // pass, and the zero-window left join.
      s"""WITH w0 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, length(text) - 62, 16),
         |                          i -> substring(text, i, 64))) AS code
         |  FROM documents WHERE length(text) >= 64),
         |wins AS (SELECT DISTINCT doc_id, code FROM w0),
         |per AS (SELECT doc_id, COUNT(*) AS n_win FROM wins GROUP BY 1),
         |uniq AS (
         |  SELECT owner, COUNT(*) AS n_uniq FROM (
         |    SELECT code, MIN(doc_id) AS owner
         |    FROM wins GROUP BY code HAVING COUNT(*) = 1)
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(per.n_win, 0) AS BIGINT) AS n_windows,
         |  CAST(COALESCE(per.n_win, 0) - COALESCE(u.n_uniq, 0) AS BIGINT) AS n_dup,
         |  CASE WHEN COALESCE(per.n_win, 0) = 0 THEN 0.0
         |       ELSE ${Q.duckRound4Ratio(
                          "COALESCE(per.n_win, 0) - COALESCE(u.n_uniq, 0)",
                          "per.n_win")}
         |  END AS dup_frac
         |FROM documents d
         |LEFT JOIN per ON d.doc_id = per.doc_id
         |LEFT JOIN uniq u ON d.doc_id = u.owner
         |ORDER BY d.doc_id""".stripMargin),

    // L11 — rolling-hash document fingerprint (min 8-char-window
    // polynomial hash): winnowing-style content fingerprint, one narrow
    // codegen'd pass.
    Gate("l11_fingerprint", (s, d) =>
      docs(s, d).select(col("doc_id"),
          TextFunctions.rollingFingerprint("text").as("fingerprint"))
        .orderBy("doc_id"),
      """SELECT doc_id,
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
        |FROM documents ORDER BY doc_id""".stripMargin))
}
