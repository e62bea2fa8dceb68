package graft.operators

import graft.{Gate, Q, Tables}
import graft.functions.VectorMean
import graft.multimodal.Multimodal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Declared vector and multimodal gates of the LLM data pipeline
  * (SURVEY.md §2.2 L-table), each with its DuckDB oracle: top-k search
  * and the IVF/PQ indexes, k-means and the embedding gram over
  * `embeddings`, and the stub-codec multimodal gates (mm*) over
  * `documents`. Similarity search broadcasts the small query set
  * ([[SimilarityOps]]); the centroid aggregate is a typed `Aggregator`
  * ([[graft.functions.VectorMean]]) with fixed-size exact buffers.
  */
object VectorQueries {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")
  private def emb(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")

  /** DuckDB list-lambda fragment: Σ a[i]·b[i] folded in index order 1..64 —
    * mirrors [[graft.functions.VectorFunctions.dot]]'s zip_with+aggregate
    * fold bit-for-bit (same products, same addition order, 0.0 init).
    */
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a[i] * $b[i])), (acc, v) -> acc + v)"

  private def duckNormSq(a: String): String =
    s"list_reduce(list_prepend(0.0, list_transform($a, v -> v * v)), (acc, v) -> acc + v)"

  private def duckCosine(a: String, b: String): String =
    s"ROUND(${duckDot(a, b)} / (sqrt(${duckNormSq(a)}) * sqrt(${duckNormSq(b)})), 4)"

  /** The l5d/l5e/l5f IVF-PQ replay — coarse assignment, subspace encode,
    * reconstruction, probe list, ADC shortlist, exact re-rank — as ONE
    * parameterized template (donor-cap predicate + search widths), so the
    * three gates' oracles cannot silently diverge from each other when
    * the index pipeline changes (r14 self-review finding: three verbatim
    * copies of a determinism-critical chain). Expects a CTE `e(vec_id, a)`
    * in scope; ends with `ranked(query_id, neighbor_id, sim, rank)`.
    * Returns margin-stripped text for embedding in a `|`-margined literal.
    * Widths are SQL text: integer literals for the fixed-width gates,
    * scalar subqueries (e.g. `(SELECT np FROM widths)`) for l5g's
    * data-derived scaled widths.
    */
  private def duckIvfPqChain(capPred: String, nprobe: String,
                             shortlist: String): String =
    s"""coarse AS (SELECT vec_id AS cid, a AS cent FROM e
       |           WHERE vec_id % 50 = 0$capPred),
       |assigned AS (
       |  SELECT vec_id, ncid FROM (
       |    SELECT e.vec_id, c.cid AS ncid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCosine("e.a", "c.cent")} DESC, c.cid ASC) AS arn
       |    FROM e, coarse c) WHERE arn = 1),
       |js AS (SELECT unnest(range(0, 8)) AS j),
       |cents AS (
       |  SELECT js.j, e.vec_id AS cid, e.a[js.j*8+1 : js.j*8+8] AS cent
       |  FROM e, js WHERE e.vec_id % 50 = 0$capPred),
       |vs AS (SELECT e.vec_id, js.j, e.a[js.j*8+1 : js.j*8+8] AS sv FROM e, js),
       |enc AS (
       |  SELECT vec_id, j, cid FROM (
       |    SELECT vs.vec_id, vs.j, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY vs.vec_id, vs.j ORDER BY
       |        ROUND(list_reduce(list_prepend(0.0,
       |          list_transform(range(1, 9),
       |                         i -> (vs.sv[i] - c.cent[i]) * (vs.sv[i] - c.cent[i]))),
       |          (acc, v) -> acc + v), 4) ASC, c.cid ASC) AS ern
       |    FROM vs JOIN cents c ON vs.j = c.j) WHERE ern = 1),
       |recon AS (
       |  SELECT enc.vec_id, flatten(list(c.cent ORDER BY enc.j)) AS re
       |  FROM enc JOIN cents c ON enc.j = c.j AND enc.cid = c.cid
       |  GROUP BY enc.vec_id),
       |probes AS (
       |  SELECT query_id, qe, cid FROM (
       |    SELECT q.vec_id AS query_id, q.a AS qe, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${duckCosine("q.a", "c.cent")} DESC, c.cid ASC) AS prn
       |    FROM e q, coarse c WHERE q.vec_id <= 9) WHERE prn <= $nprobe),
       |short AS (
       |  SELECT query_id, qe, neighbor_id FROM (
       |    SELECT p.query_id, p.qe, r.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
       |        ${duckCosine("p.qe", "r.re")} DESC, r.vec_id ASC) AS srn
       |    FROM probes p
       |    JOIN assigned s ON p.cid = s.ncid
       |    JOIN recon r ON r.vec_id = s.vec_id
       |    WHERE s.vec_id != p.query_id)
       |  WHERE srn <= $shortlist),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
       |  FROM (SELECT s.query_id, s.neighbor_id,
       |          ${duckCosine("s.qe", "c.a")} AS sim
       |        FROM short s JOIN e c ON s.neighbor_id = c.vec_id))""".stripMargin

  /** The l40/l41 k-means replay: fp quantization, 2 Lloyd rounds from the
    * k-smallest-id seeds, exact integer distances (list lambdas), floor-
    * division means, (dist, cid) argmin windows — step-for-step the
    * arithmetic of [[SimilarityOps.kmeansFp]]. `a3` is the final
    * assignment, `c2` the final centroids. `kSql` is the cluster count as
    * a SQL expression — a literal for l40's pinned k = 8, the derived
    * GREATEST(8, ⌊√N⌋) scalar subquery for l41
    * ([[SimilarityOps.semdedupK]]).
    */
  private def duckKmeans(kSql: String): String =
    s"""fp AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS v
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, v AS c FROM fp WHERE vec_id < ($kSql)),
      |d1 AS (
      |  SELECT f.vec_id, c.cid,
      |    CAST(list_sum(list_transform(list_zip(f.v, c.c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      |  FROM fp f CROSS JOIN c0 c),
      |a1 AS (SELECT vec_id, cid FROM (
      |  SELECT vec_id, cid,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |  FROM d1) WHERE rn = 1),
      |u1 AS (
      |  SELECT a.cid, d.i AS dim, CAST(SUM(f.v[d.i]) AS BIGINT) AS s, COUNT(*) AS n
      |  FROM a1 a JOIN fp f USING (vec_id), range(1, 65) d(i)
      |  GROUP BY 1, 2),
      |c1 AS (
      |  SELECT p.cid, COALESCE(u.c, p.c) AS c
      |  FROM c0 p LEFT JOIN (
      |    SELECT cid, list((s - ((s % n) + n) % n) // n ORDER BY dim) AS c
      |    FROM u1 GROUP BY cid) u USING (cid)),
      |d2 AS (
      |  SELECT f.vec_id, c.cid,
      |    CAST(list_sum(list_transform(list_zip(f.v, c.c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      |  FROM fp f CROSS JOIN c1 c),
      |a2 AS (SELECT vec_id, cid FROM (
      |  SELECT vec_id, cid,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |  FROM d2) WHERE rn = 1),
      |u2 AS (
      |  SELECT a.cid, d.i AS dim, CAST(SUM(f.v[d.i]) AS BIGINT) AS s, COUNT(*) AS n
      |  FROM a2 a JOIN fp f USING (vec_id), range(1, 65) d(i)
      |  GROUP BY 1, 2),
      |c2 AS (
      |  SELECT p.cid, COALESCE(u.c, p.c) AS c
      |  FROM c1 p LEFT JOIN (
      |    SELECT cid, list((s - ((s % n) + n) % n) // n ORDER BY dim) AS c
      |    FROM u2 GROUP BY cid) u USING (cid)),
      |d3 AS (
      |  SELECT f.vec_id, c.cid,
      |    CAST(list_sum(list_transform(list_zip(f.v, c.c),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      |  FROM fp f CROSS JOIN c2 c),
      |a3 AS (SELECT vec_id, cid FROM (
      |  SELECT vec_id, cid,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |  FROM d3) WHERE rn = 1)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // L5 — vector top-k: 5 nearest neighbors by cosine for query vectors
    // vec_id 0..9 (broadcast queries, one corpus pass, window top-k).
    Gate("l5_vector_topk", (s, d) =>
      SimilarityOps.bruteTopK(emb(s, d), emb(s, d).filter(col("vec_id") <= 9), 5)
        .orderBy("query_id", "rank"),
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
         |           FROM embeddings),
         |sims AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${duckCosine("q.a", "c.a")} AS sim
         |  FROM e q JOIN e c ON q.vec_id <= 9 AND c.vec_id != q.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM sims)
         |SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),

    // L6 — label centroids: element-wise mean of the 64-dim embeddings per
    // label via the VectorMean Aggregator (exact fixed-point sums — see
    // graft.Q.Fp45 for why this is order-free AND hash-deterministic).
    Gate("l6_label_centroids", { (s, d) =>
      val centroid = udaf(new VectorMean(64))
      emb(s, d)
        .groupBy(col("label"))
        .agg(centroid(col("embedding")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "centroid")))
        .select(col("label"), col("dim").cast("long").as("dim"), col("centroid"))
        .orderBy("label", "dim")
    },
      s"""WITH e AS (
         |  SELECT label,
         |    generate_subscripts(embedding, 1) - 1 AS dim,
         |    CAST(CAST(unnest(embedding) AS DOUBLE) * ${Q.Fp45}.0 AS BIGINT) AS fp
         |  FROM embeddings),
         |s AS (SELECT label, dim, SUM(fp) AS p, COUNT(*) AS n
         |      FROM e GROUP BY 1, 2)
         |SELECT label, dim,
         |  ${Q.duckRound4RatioSigned("p", s"n * ${Q.Fp45}")} AS centroid
         |FROM s ORDER BY label, dim""".stripMargin),

    // MM1 — multimodal decode: binary payload → typed metadata through the
    // distributed mapPartitions plumbing (codec = deterministic stub; the
    // arithmetic is reproducible in SQL, which is the point of the gate).
    Gate("mm1_decode_meta", (s, d) =>
      Multimodal.decodeMeta(Multimodal.withPayload(docs(s, d)))
        .toDF.orderBy("doc_id"),
      // Mirrors Multimodal.StubCodec exactly, including the empty-payload
      // branch (ok=false, width=height=0, first_byte=-1) and the true first
      // UTF-8 *byte* (hex of the encoded blob, not the code point — they
      // differ for non-ASCII text).
      """WITH b AS (
        |  SELECT doc_id, encode(text) AS payload FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(octet_length(payload) AS BIGINT) AS n_bytes,
        |    CASE WHEN octet_length(payload) = 0 THEN -1
        |         ELSE (strpos('0123456789ABCDEF', substring(hex(payload), 1, 1)) - 1) * 16
        |            + (strpos('0123456789ABCDEF', substring(hex(payload), 2, 1)) - 1) END AS fb
        |  FROM b)
        |SELECT doc_id, n_bytes,
        |  CAST(fb AS INT) AS first_byte,
        |  CAST(CASE WHEN n_bytes = 0 THEN 0
        |            ELSE (n_bytes % 640) + 1 END AS INT) AS width,
        |  CAST(CASE WHEN n_bytes = 0 THEN 0
        |            ELSE (fb & 127) + 1 END AS INT) AS height,
        |  n_bytes > 0 AS ok
        |FROM m ORDER BY doc_id""".stripMargin),

    // IVF similarity (scale path of L5): fully hash-gated — the centroid
    // subset (vec_id ≡ 0 mod 50), nearest-centroid assignment, nprobe=2
    // probe list, and in-cell ranking are all deterministic (rounded sims,
    // id tie-breaks), so the DuckDB oracle replays the exact same logic.
    // Equivalence to bruteTopK at full probe is additionally unit-tested.
    Gate("l5b_ivf_topk", (s, d) =>
      SimilarityOps.ivfTopK(emb(s, d), emb(s, d).filter(col("vec_id") <= 9), 5)
        .orderBy("query_id", "rank"),
      // Replays SimilarityOps.ivfTopK exactly: centroids are vec_id ≡ 0
      // mod 50; every vector joins its nearest centroid (rounded cosine,
      // cid tie-break); queries (vec_id ≤ 9) probe their 2 closest
      // centroids; ranking happens only within probed cells.
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
         |           FROM embeddings),
         |cents AS (SELECT vec_id AS cid, a AS cent FROM e WHERE vec_id % 50 = 0),
         |assigned AS (
         |  SELECT vec_id AS neighbor_id, a AS ce, cid AS ncid FROM (
         |    SELECT e.vec_id, e.a, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCosine("e.a", "c.cent")} DESC, c.cid ASC) AS arn
         |    FROM e, cents c) WHERE arn = 1),
         |probes AS (
         |  SELECT query_id, qe, cid FROM (
         |    SELECT q.vec_id AS query_id, q.a AS qe, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${duckCosine("q.a", "c.cent")} DESC, c.cid ASC) AS prn
         |    FROM e q, cents c WHERE q.vec_id <= 9) WHERE prn <= 2),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM (SELECT p.query_id, s.neighbor_id,
         |          ${duckCosine("p.qe", "s.ce")} AS sim
         |        FROM probes p JOIN assigned s ON p.cid = s.ncid
         |        WHERE s.neighbor_id != p.query_id))
         |SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),

    // L5c — PRODUCT-QUANTIZATION ANN, the third rung of the ladder (brute
    // → IVF → PQ): 64 floats stored as 8 codebook indices, ADC ranking
    // against reconstructions, exact re-rank of the shortlist. Codebooks
    // are donor-vector slices (k-means would converge engine-specifically)
    // so DuckDB replays every stage bit-for-bit. GATED AT THE CAPPED
    // 256-entry codebook since round 12 (the r11 verdict's second `weak`:
    // a pure-stride codebook grows ∝ N/50, making the encode O(N²/50) —
    // its own plan wouldn't survive 100×; capped, the encode is
    // O(N·m·256) and the l5c ladder runs ~linear, 6.0 s vs stride's
    // 26.9 s at 16×). Below 12 800 vectors the cap never bites, so the
    // gate output is unchanged; pure stride stays as a spec-only oracle
    // (LlmSpec's stride-1 identity and fixed≡stride equivalence tests).
    Gate("l5c_pq_topk", (s, d) =>
      SimilarityOps.pqTopK(emb(s, d), emb(s, d).filter(col("vec_id") <= 9), 5,
                           codebookEntries = 256)
        .orderBy("query_id", "rank"),
      // Replays SimilarityOps.pqTopK stage by stage: codebooks = subspace
      // slices of vec_id ≡ 0 mod 50 donors CAPPED at 256 entries
      // (vec_id < 12800 — the round-12 gate contract; a no-op below 12 800
      // vectors); encode = argmin ROUNDED squared L2 (cid tie-break) — the
      // index-order fold matches vec_dot's generated loop; recon = codes
      // rejoined to sub-centroids in subspace order; ADC shortlist of 20 by
      // rounded cosine vs reconstructions; exact re-rank to the top 5.
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
         |           FROM embeddings),
         |js AS (SELECT unnest(range(0, 8)) AS j),
         |cents AS (
         |  SELECT js.j, e.vec_id AS cid, e.a[js.j*8+1 : js.j*8+8] AS cent
         |  FROM e, js WHERE e.vec_id % 50 = 0 AND e.vec_id < 12800),
         |vs AS (SELECT e.vec_id, js.j, e.a[js.j*8+1 : js.j*8+8] AS sv FROM e, js),
         |enc AS (
         |  SELECT vec_id, j, cid FROM (
         |    SELECT vs.vec_id, vs.j, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY vs.vec_id, vs.j ORDER BY
         |        ROUND(list_reduce(list_prepend(0.0,
         |          list_transform(range(1, 9),
         |                         i -> (vs.sv[i] - c.cent[i]) * (vs.sv[i] - c.cent[i]))),
         |          (acc, v) -> acc + v), 4) ASC, c.cid ASC) AS ern
         |    FROM vs JOIN cents c ON vs.j = c.j) WHERE ern = 1),
         |recon AS (
         |  SELECT enc.vec_id, flatten(list(c.cent ORDER BY enc.j)) AS re
         |  FROM enc JOIN cents c ON enc.j = c.j AND enc.cid = c.cid
         |  GROUP BY enc.vec_id),
         |short AS (
         |  SELECT query_id, qe, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, q.a AS qe, r.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${duckCosine("q.a", "r.re")} DESC, r.vec_id ASC) AS srn
         |    FROM e q JOIN recon r ON q.vec_id <= 9 AND r.vec_id != q.vec_id)
         |  WHERE srn <= 20),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM (SELECT s.query_id, s.neighbor_id,
         |          ${duckCosine("s.qe", "c.a")} AS sim
         |        FROM short s JOIN e c ON s.neighbor_id = c.vec_id))
         |SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),

    // L5d — IVF-PQ, the COMPOSED top rung of the ANN ladder (Jégou et
    // al. 2011): coarse cells prune the search space (nprobe=2), PQ-code
    // reconstructions rank inside the probed cells (ADC), an exact
    // re-rank restores full-precision order. Same donor-subset
    // determinism as l5b/l5c, so the oracle replays all four stages.
    Gate("l5d_ivfpq_topk", (s, d) =>
      SimilarityOps.ivfPqTopK(emb(s, d), emb(s, d).filter(col("vec_id") <= 9), 5)
        .orderBy("query_id", "rank"),
      // Replays SimilarityOps.ivfPqTopK: l5b's coarse assignment + probe
      // list composed with l5c's subspace encode + reconstruction; ADC
      // ranking restricted to probed cells via the assigned join; exact
      // re-rank of the 20-row shortlist to the final top 5.
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
         |           FROM embeddings),
         |${duckIvfPqChain("", nprobe = "2", shortlist = "20")}
         |SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),

    // L5e — IVF-PQ with PRODUCTION-SHAPE index parameters: coarse cells
    // and per-subspace codebooks capped at 256 donors (the stride rule
    // capped — vec_id ≡ 0 mod 50 AND vec_id < 12800), so index size is an
    // ALGORITHM constant and the encode/assignment passes are O(N·m·256)
    // — linear in the corpus where l5d's uncapped donor set makes them
    // O(N²/50) (the measured super-linear term in the probe ladders). On
    // a corpus below 12 800 vectors the cap never bites and l5e ≡ l5d
    // exactly (spec-pinned); at scale it is the variant a deployment
    // runs.
    Gate("l5e_ivfpq_fixed256", (s, d) =>
      SimilarityOps.ivfPqTopK(emb(s, d), emb(s, d).filter(col("vec_id") <= 9), 5,
                              codebookEntries = 256)
        .orderBy("query_id", "rank"),
      // Replays SimilarityOps.ivfPqTopK with codebookEntries = 256: the
      // l5d SQL with both donor sets (coarse cells AND subspace codebooks)
      // capped by vec_id < 50*256 = 12800 — pure arithmetic, so the oracle
      // stays bit-replayable at any corpus size (below 12 800 vectors the
      // predicate is a no-op and l5e ≡ l5d).
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
         |           FROM embeddings),
         |${duckIvfPqChain(" AND vec_id < 12800", nprobe = "2", shortlist = "20")}
         |SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),

    // L5f — ANN RECALL BAND (round 14, r13 verdict item 4): the ladder
    // gates DETERMINISM (each rung hash-matches its own replay) but never
    // measured INDEX QUALITY — how much of the exact answer the
    // production-shape index returns. This gate runs the l5e fixed-256
    // IVF-PQ at production search widths (nprobe = 16, shortlist 80 —
    // measured recall@5 0.78 at sf0.01 / 0.60 at sf0.1, so the declared
    // 0.5 floor holds at both gate scales with margin) against
    // [[SimilarityOps.bruteTopK]] ground truth and emits the r30 verdict
    // shape: exact hit count over the query set, recall@5 in exact
    // ROUND(4) arithmetic, the declared floor, and the within_band
    // boolean. The oracle replays BOTH pipelines, so an index-quality
    // regression (coarse assignment, encode, probe list, shortlist, or
    // re-rank) shifts n_hits and hash-fails; the floor is additionally
    // asserted in LlmSpec so a quality drop fails `sbt test` even though
    // both engines would agree on the lower value.
    Gate("l5f_ann_recall", { (s, d) =>
      val q = emb(s, d).filter(col("vec_id") <= 9)
      val exact = SimilarityOps.bruteTopK(emb(s, d), q, 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = SimilarityOps.ivfPqTopK(emb(s, d), q, 5, nprobe = 16,
                                           shortlistFactor = 16,
                                           codebookEntries = 256)
        .select(col("query_id").as("_aq"), col("neighbor_id").as("_an"))
      // recall = hits / EXACT rows (counted, not assumed n_queries·k):
      // a fixture where some query has < k exact neighbors keeps the
      // verdict row self-consistent instead of silently understating.
      val rec = Q.round4Ratio(count(col("_an")), count(lit(1)))
      exact.join(broadcast(approx),
          col("query_id") === col("_aq") && col("neighbor_id") === col("_an"),
          "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
             count(col("_an")).as("n_hits"),
             rec.as("recall"),
             (rec >= 0.5).as("within_band"))
        .select(col("n_queries"), lit(5L).as("k"), col("n_hits"),
                col("recall"), lit(0.5).as("recall_floor"),
                col("within_band"))
    },
      // Replays BOTH sides of the recall verdict: the l5e fixed-256 IVF-PQ
      // chain at nprobe = 16 / shortlist 80 (production search widths) and
      // brute-force top-5, then counts the intersection over the query set.
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
         |           FROM embeddings),
         |${duckIvfPqChain(" AND vec_id < 12800", nprobe = "16", shortlist = "80")},
         |approx AS (
         |  SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |                         ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |            ${duckCosine("q.a", "c.a")} AS sim
         |          FROM e q JOIN e c ON q.vec_id <= 9 AND c.vec_id != q.vec_id))
         |  WHERE rank <= 5),
         |hits AS (
         |  SELECT CAST(COUNT(DISTINCT x.query_id) AS BIGINT) AS n_queries,
         |         CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
         |         CAST(COUNT(*) AS BIGINT) AS n_exact
         |  FROM exact x LEFT JOIN approx a
         |    ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id)
         |SELECT n_queries, CAST(5 AS BIGINT) AS k, n_hits,
         |  ${Q.duckRound4Ratio("n_hits", "n_exact")} AS recall,
         |  CAST(0.5 AS DOUBLE) AS recall_floor,
         |  ${Q.duckRound4Ratio("n_hits", "n_exact")} >= 0.5 AS within_band
         |FROM hits""".stripMargin),

    // L5g — ANN RECALL AT SCALE-AWARE WIDTHS (round 15, r14 verdict item
    // 2): l5f measures recall at FIXED production widths (nprobe 16,
    // shortlist 80) and its own curve shows those widths are not
    // scale-free — 0.78 → 0.60 across one decade, crossing the 0.5 floor
    // extrapolated one more. This gate derives the widths FROM THE
    // CORPUS by the integer-exact rules [[SimilarityOps.scaledNprobe]]
    // (min(C, max(16, ⌈1.6·√C⌉)) — the Jégou'11 grow-with-cell-count
    // convention, floored at the tuned production width so the search is
    // never narrower than l5f's, normalized to hit 16 at C = 100) and
    // [[SimilarityOps.scaledShortlistFactor]] (16·√(N/5000), floored at
    // 16), runs the l5e fixed-256 index at those widths, and emits the
    // l5f verdict row EXTENDED with (n_vectors, n_cells, nprobe,
    // shortlist) so the derived widths are themselves hash-gated. The
    // oracle re-derives the widths in SQL (integer range-scan minima —
    // no float boundary) and replays both pipelines; the 0.5 floor here
    // holds BY the scaling rule at every corpus size (measured: SURVEY §6
    // r15 probe (a)), not by the fixture's luck.
    Gate("l5g_ann_recall_scaled", { (s, d) =>
      val e = emb(s, d)
      val (n, cells) = SimilarityOps.corpusStats(e)
      val np = SimilarityOps.scaledNprobe(cells)
      val slf = SimilarityOps.scaledShortlistFactor(n)
      val q = e.filter(col("vec_id") <= 9)
      val exact = SimilarityOps.bruteTopK(e, q, 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = SimilarityOps.ivfPqTopK(e, q, 5, nprobe = np,
                                           shortlistFactor = slf,
                                           codebookEntries = 256)
        .select(col("query_id").as("_aq"), col("neighbor_id").as("_an"))
      val rec = Q.round4Ratio(count(col("_an")), count(lit(1)))
      exact.join(broadcast(approx),
          col("query_id") === col("_aq") && col("neighbor_id") === col("_an"),
          "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
             count(col("_an")).as("n_hits"),
             rec.as("recall"),
             (rec >= 0.5).as("within_band"))
        .select(lit(n).as("n_vectors"), lit(cells).as("n_cells"),
                lit(np.toLong).as("nprobe"),
                lit(5L * slf).as("shortlist"),
                col("n_queries"), lit(5L).as("k"), col("n_hits"),
                col("recall"), lit(0.5).as("recall_floor"),
                col("within_band"))
    },
      // The scaled-width replay: widths re-derived in SQL as integer
      // range-scan minima — np = LEAST(C, GREATEST(16, smallest p with
      // 25p² ≥ 64C)), smallest f ≥ 16 with 625f² ≥ 32N — exactly the
      // engine's integer rules, then the same four-stage chain at (np, 5f).
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
         |           FROM embeddings),
         |stats AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN vec_id % 50 = 0 AND vec_id < 12800
         |             THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM e),
         |widths AS (
         |  SELECT n, c,
         |    LEAST(c, GREATEST(16,
         |      (SELECT MIN(p) FROM range(1, 1000000) t(p)
         |       WHERE 25*p*p >= 64*(SELECT c FROM stats)))) AS np,
         |    (SELECT MIN(f) FROM range(16, 1000000) t(f)
         |     WHERE 625*f*f >= 32*(SELECT n FROM stats)) AS slf
         |  FROM stats),
         |${duckIvfPqChain(" AND vec_id < 12800",
                             nprobe = "(SELECT np FROM widths)",
                             shortlist = "(SELECT 5 * slf FROM widths)")},
         |approx AS (
         |  SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |                         ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |            ${duckCosine("q.a", "c.a")} AS sim
         |          FROM e q JOIN e c ON q.vec_id <= 9 AND c.vec_id != q.vec_id))
         |  WHERE rank <= 5),
         |hits AS (
         |  SELECT CAST(COUNT(DISTINCT x.query_id) AS BIGINT) AS n_queries,
         |         CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
         |         CAST(COUNT(*) AS BIGINT) AS n_exact
         |  FROM exact x LEFT JOIN approx a
         |    ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id)
         |SELECT w.n AS n_vectors, w.c AS n_cells,
         |  CAST(w.np AS BIGINT) AS nprobe, CAST(5 * w.slf AS BIGINT) AS shortlist,
         |  n_queries, CAST(5 AS BIGINT) AS k, n_hits,
         |  ${Q.duckRound4Ratio("n_hits", "n_exact")} AS recall,
         |  CAST(0.5 AS DOUBLE) AS recall_floor,
         |  ${Q.duckRound4Ratio("n_hits", "n_exact")} >= 0.5 AS within_band
         |FROM hits, widths w""".stripMargin),

    // L5h — PQ quantization DISTORTION per label stratum: every corpus
    // vector encoded with the l5e fixed-256 codebooks, ‖v − recon(v)‖²
    // in exact ⌊x·2^20⌋ fixed point, rolled up per label (counts, error
    // sum/max, exact-reconstruction count, floor-divided mean). The
    // codebook-quality audit of the ANN family — l57 calibrates the
    // MinHash signature family, l5f/l5g the search recall, this the
    // COMPRESSION stage itself; a production index re-derives it after
    // every codebook retrain. Donor vectors reconstruct exactly by
    // construction (their subslices ARE codebook entries) — n_exact
    // counts them, and LlmSpec pins the property per vector.
    Gate("l5h_pq_distortion", (s, d) =>
      SimilarityOps.pqDistortion(emb(s, d), codebookEntries = 256)
        .orderBy("label"),
      // Replays the l5c/l5e encode (fixed-256 donor cap, rounded-L2
      // argmin, cid tie-break) and reconstruction, then the distortion in
      // the SAME ⌊x·2^20⌋ fixed point as the engine — the error sum is an
      // order-free integer, so a drifted codebook, a wrong argmin order,
      // or a lossy reconstruction all hash-fail. Floor-divide mean (`//`),
      // non-negative operands.
      """WITH e AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
        |           FROM embeddings),
        |js AS (SELECT unnest(range(0, 8)) AS j),
        |cents AS (
        |  SELECT js.j, e.vec_id AS cid, e.a[js.j*8+1 : js.j*8+8] AS cent
        |  FROM e, js WHERE e.vec_id % 50 = 0 AND e.vec_id < 12800),
        |vs AS (SELECT e.vec_id, js.j, e.a[js.j*8+1 : js.j*8+8] AS sv FROM e, js),
        |enc AS (
        |  SELECT vec_id, j, cid FROM (
        |    SELECT vs.vec_id, vs.j, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY vs.vec_id, vs.j ORDER BY
        |        ROUND(list_reduce(list_prepend(0.0,
        |          list_transform(range(1, 9),
        |                         i -> (vs.sv[i] - c.cent[i]) * (vs.sv[i] - c.cent[i]))),
        |          (acc, v) -> acc + v), 4) ASC, c.cid ASC) AS ern
        |    FROM vs JOIN cents c ON vs.j = c.j) WHERE ern = 1),
        |recon AS (
        |  SELECT enc.vec_id, flatten(list(c.cent ORDER BY enc.j)) AS re
        |  FROM enc JOIN cents c ON enc.j = c.j AND enc.cid = c.cid
        |  GROUP BY enc.vec_id),
        |d AS (
        |  SELECT e.vec_id, e.label,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 65),
        |        i -> CAST(floor(e.a[i] * 1048576.0) AS BIGINT)
        |           - CAST(floor(r.re[i] * 1048576.0) AS BIGINT))),
        |      (acc, v) -> acc + v * v) AS sqerr_fp
        |  FROM e JOIN recon r ON e.vec_id = r.vec_id)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(SUM(sqerr_fp) AS BIGINT) AS sum_sqerr_fp,
        |  CAST(MAX(sqerr_fp) AS BIGINT) AS max_sqerr_fp,
        |  CAST(SUM(CASE WHEN sqerr_fp = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact,
        |  CAST(SUM(sqerr_fp) // COUNT(*) AS BIGINT) AS avg_sqerr_fp
        |FROM d GROUP BY label ORDER BY label""".stripMargin),

    // L10 — embedding-cosine near-dup pairs (threshold 0.9; this corpus
    // has none — the oracle confirms the empty result exactly). Routed
    // through SRP-LSH banding + exact re-rank: candidates from a band-key
    // equi-join (no cartesian product), values from the exact rounded
    // cosine — output identical to the quadratic baseline, which the spec
    // asserts on a corpus WITH planted near-dups.
    Gate("l10_cosine_dup", (s, d) =>
      SimilarityOps.cosinePairsLsh(emb(s, d), 0.9).orderBy("va", "vb"),
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
         |           FROM embeddings)
         |SELECT x.vec_id AS va, y.vec_id AS vb,
         |       ${duckCosine("x.a", "y.a")} AS sim
         |FROM e x JOIN e y ON x.vec_id < y.vec_id
         |WHERE ${duckCosine("x.a", "y.a")} >= 0.9
         |ORDER BY va, vb""".stripMargin),

    // MM2 — multimodal frame sampling: k evenly-spaced byte probes per
    // payload through the distributed 1→k mapPartitions expansion (the
    // keyframe-extraction shape; probe arithmetic is oracle-reproducible).
    Gate("mm2_frame_sample", (s, d) =>
      Multimodal.frameSample(Multimodal.withPayload(docs(s, d)))
        .toDF.orderBy("doc_id", "frame_idx"),
      // Replays Multimodal.frameSample: k = least(4, n_bytes) frames at
      // offsets ⌊i·(n−1)/(k−1)⌋ (0 when k=1); the byte probe decodes two
      // hex chars of the UTF-8 payload at that offset.
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, h, i.range AS frame_idx,
        |    CASE WHEN least(4, n) = 1 THEN 0
        |         ELSE (i.range * (n - 1)) // (least(4, n) - 1) END AS off
        |  FROM b, range(4) i
        |  WHERE n > 0 AND i.range < least(4, n))
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(off AS BIGINT) AS frame_off,
        |  CAST((strpos('0123456789ABCDEF', substring(h, CAST(2 * off + 1 AS INT), 1)) - 1) * 16
        |     + (strpos('0123456789ABCDEF', substring(h, CAST(2 * off + 2 AS INT), 1)) - 1) AS INT) AS frame_byte
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin),

    // MM3 — multimodal resize: stub decode → integer aspect-preserving
    // fit into 64×64 (1e6 fixed-point scale, never upscale) → strided
    // one-byte-per-destination-column digest. Completes the
    // decode / frame-sample / resize batch family; all arithmetic is
    // integer so the oracle replays it exactly.
    Gate("mm3_resize", (s, d) =>
      Multimodal.resize(Multimodal.withPayload(docs(s, d)))
        .toDF.orderBy("doc_id"),
      // Replays Multimodal.resize: StubCodec dims (w = n%640+1,
      // h = (first_byte&127)+1), 1e6 fixed-point downscale fit, and the
      // per-destination-column strided byte digest, all in integer SQL.
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, hx, n,
        |    CAST((n % 640) + 1 AS BIGINT) AS w,
        |    CAST((((strpos('0123456789ABCDEF', substring(hx, 1, 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF', substring(hx, 2, 1)) - 1)) & 127) + 1 AS BIGINT) AS h
        |  FROM b WHERE n > 0),
        |d AS (
        |  SELECT doc_id, hx, n, w, h,
        |    greatest(1, (w * sc) // 1000000) AS dw,
        |    greatest(1, (h * sc) // 1000000) AS dh
        |  FROM (SELECT *, least(least(64000000 // w, 64000000 // h), 1000000) AS sc FROM m))
        |SELECT doc_id,
        |  CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h,
        |  CAST(dw AS INT) AS dst_w, CAST(dh AS INT) AS dst_h,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, dw), x ->
        |      CAST((strpos('0123456789ABCDEF', substring(hx, CAST(2 * ((x * (n - 1)) // greatest(1, dw - 1)) + 1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF', substring(hx, CAST(2 * ((x * (n - 1)) // greatest(1, dw - 1)) + 2 AS INT), 1)) - 1) AS BIGINT))),
        |    (acc, v) -> (acc * 31 + v) % 1000000007) AS digest
        |FROM d ORDER BY doc_id""".stripMargin),

    // MM4 — patch-grid extraction (the ViT tokenizer shape): stub decode
    // → ⌈w/16⌉×⌈h/16⌉ grid → 4 evenly-spaced patches probed per asset
    // through the same distributed 1→k expansion as MM2. Grid and probe
    // arithmetic are integer, so the oracle replays coordinates and
    // probe bytes exactly.
    Gate("mm4_patch_grid", (s, d) =>
      Multimodal.patchGrid(Multimodal.withPayload(docs(s, d)))
        .toDF.orderBy("doc_id", "patch_idx"),
      // Replays Multimodal.patchGrid: StubCodec dims, ceil-div 16 grid,
      // evenly-spaced linear patch indices, and the scaled byte probe —
      // all integer arithmetic.
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |dims AS (
        |  SELECT doc_id, hx, n,
        |    ((n % 640) + 1 + 15) // 16 AS gw,
        |    (((strpos('0123456789ABCDEF', substring(hx, 1, 1)) - 1) * 16
        |      + (strpos('0123456789ABCDEF', substring(hx, 2, 1)) - 1)) % 128
        |     + 1 + 15) // 16 AS gh
        |  FROM b),
        |g AS (SELECT *, gw * gh AS np FROM dims),
        |p AS (
        |  SELECT doc_id, hx, n, gw, np, i.range AS patch_idx,
        |    CASE WHEN least(4, np) = 1 THEN 0
        |         ELSE (i.range * (np - 1)) // (least(4, np) - 1) END AS lin
        |  FROM g, range(4) i
        |  WHERE i.range < least(4, np)),
        |o AS (
        |  SELECT doc_id, patch_idx, lin % gw AS px, lin // gw AS py, np,
        |    (lin * (n - 1)) // greatest(1, np - 1) AS off, hx
        |  FROM p)
        |SELECT doc_id, CAST(patch_idx AS INT) AS patch_idx,
        |  CAST(px AS INT) AS px, CAST(py AS INT) AS py,
        |  CAST(np AS INT) AS n_patches,
        |  CAST((strpos('0123456789ABCDEF', substring(hx, CAST(2*off + 1 AS INT), 1)) - 1) * 16
        |     + (strpos('0123456789ABCDEF', substring(hx, CAST(2*off + 2 AS INT), 1)) - 1)
        |    AS INT) AS probe_byte
        |FROM o ORDER BY doc_id, patch_idx""".stripMargin),

    // MM5 — payload near-dup pairs via difference-hash (round 14): the
    // perceptual-dedup shape (pHash/dHash banding is how image corpora
    // dedup at scale) over the opaque binary payloads — 16-bit gradient
    // fingerprint ([[Multimodal.dHash]]) ridden through the SAME banded
    // pair machinery as the SimHash text gates
    // ([[SimHashOps.fingerprintPairs]]: pigeonhole blocks, class
    // contraction, exact bit_count verify). Completes the multimodal
    // family with its dedup crossover: decode → fingerprint → banded
    // join, never all-pairs.
    Gate("mm5_phash_pairs", (s, d) =>
      SimHashOps.fingerprintPairs(
        Multimodal.dHash(Multimodal.withPayload(docs(s, d))),
        maxHamming = 1, bits = 16).orderBy("da", "db"),
      // Replays Multimodal.dHash (17 evenly-spaced byte probes of the UTF-8
      // payload via hex, bit i = probe_i > probe_{i+1}) and then the exact
      // quadratic pair join the banded engine must reproduce — same shape
      // as the l14 oracle, over payload bytes instead of token hashes.
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |pb AS (
        |  SELECT doc_id, i.range AS i,
        |    (strpos('0123456789ABCDEF',
        |       substring(hx, CAST(2 * ((i.range * (n - 1)) // 16) + 1 AS INT), 1)) - 1) * 16
        |    + (strpos('0123456789ABCDEF',
        |       substring(hx, CAST(2 * ((i.range * (n - 1)) // 16) + 2 AS INT), 1)) - 1) AS p
        |  FROM b, range(17) i),
        |bits AS (
        |  SELECT a.doc_id, a.i AS bit,
        |    CASE WHEN a.p > c.p THEN 1 ELSE 0 END AS v
        |  FROM pb a JOIN pb c ON a.doc_id = c.doc_id AND c.i = a.i + 1
        |  WHERE a.i < 16),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v = 1 THEN CAST(1 AS BIGINT) << bit
        |                  ELSE 0 END) AS BIGINT) AS f
        |  FROM bits GROUP BY 1)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |       CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.f, b.f)) <= 1
        |ORDER BY da, db""".stripMargin),

    // MM6 — mm5 at the PRODUCTION fingerprint width (round 15, r14
    // verdict item 7): 64-bit dHash (65 evenly-spaced byte probes —
    // [[Multimodal.dHash]] takes the width natively), Hamming ≤ 3 via 4
    // pigeonhole blocks × 16 bits — the l14b width/banding convention,
    // which the text path already proves end-to-end; this gates the
    // MULTIMODAL dedup path at the width a real image pipeline runs
    // (16-bit perceptual spaces saturate on real corpora). Bit 63 rides
    // the sign-proof shift+mask banding ([[SimHashOps.fingerprintPairs]]);
    // the oracle replays the probes via hex with the two's-complement
    // top-bit convention of l14b's oracle.
    Gate("mm6_phash64_pairs", (s, d) =>
      SimHashOps.fingerprintPairs(
        Multimodal.dHash(Multimodal.withPayload(docs(s, d)), bits = 64),
        maxHamming = 3, bits = 64).orderBy("da", "db"),
      // mm5's replay at 64 bits: 65 hex probes, bit 63 through the
      // two's-complement convention (l14b's oracle), quadratic join ≤ 3.
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |pb AS (
        |  SELECT doc_id, i.range AS i,
        |    (strpos('0123456789ABCDEF',
        |       substring(hx, CAST(2 * ((i.range * (n - 1)) // 64) + 1 AS INT), 1)) - 1) * 16
        |    + (strpos('0123456789ABCDEF',
        |       substring(hx, CAST(2 * ((i.range * (n - 1)) // 64) + 2 AS INT), 1)) - 1) AS p
        |  FROM b, range(65) i),
        |bits AS (
        |  SELECT a.doc_id, a.i AS bit,
        |    CASE WHEN a.p > c.p THEN 1 ELSE 0 END AS v
        |  FROM pb a JOIN pb c ON a.doc_id = c.doc_id AND c.i = a.i + 1
        |  WHERE a.i < 64),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v = 0 THEN 0
        |                  WHEN bit = 63 THEN -9223372036854775807 - 1
        |                  ELSE CAST(1 AS BIGINT) << bit END) AS BIGINT) AS f
        |  FROM bits GROUP BY 1)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |       CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.f, b.f)) <= 3
        |ORDER BY da, db""".stripMargin),

    // L26 — kNN label classification: the supervised use of the L5
    // similarity ladder. Each query vector (vec_id ≤ 9) takes the
    // majority label of its 10 nearest neighbors; the vote tie-break
    // (votes desc, label asc) is a total order, so the DuckDB oracle
    // replays the exact prediction.
    Gate("l26_knn_classify", (s, d) =>
      SimilarityOps.knnClassify(emb(s, d), emb(s, d).filter(col("vec_id") <= 9), 10)
        .orderBy("query_id"),
      // Replays knnClassify: the l5 top-k CTE at k=10, neighbor labels
      // joined in, majority vote with the (votes DESC, label ASC) tie-break.
      s"""WITH e AS (SELECT vec_id, label,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
         |           FROM embeddings),
         |sims AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
         |         ${duckCosine("q.a", "c.a")} AS sim
         |  FROM e q JOIN e c ON q.vec_id <= 9 AND c.vec_id != q.vec_id),
         |ranked AS (
         |  SELECT query_id, label,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM sims),
         |votes AS (
         |  SELECT query_id, label, COUNT(*) AS votes
         |  FROM ranked WHERE rank <= 10 GROUP BY 1, 2)
         |SELECT query_id, label AS pred_label, votes FROM (
         |  SELECT query_id, label, votes,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY votes DESC, label ASC) AS vrn
         |  FROM votes) WHERE vrn = 1
         |ORDER BY query_id""".stripMargin),

    // L40 — deterministic k-means over the embedding corpus
    // (SimilarityOps.kmeansFp: fp-quantized vectors, exact integer
    // distances, floor-division centroid means, 2 Lloyd rounds from the
    // k-smallest-id seeds) — the clustering stage of SemDeDup-style
    // curation and IVF/PQ quantizer training, made exactly reproducible
    // so it can be HASH-GATED (floating k-means converges
    // engine/partitioning-specifically; this one converges identically
    // anywhere, including in DuckDB's replay). Output: per-cluster
    // membership count, the exact fp sum of dim 0 over members, and the
    // final centroid's dim-0 value — empty clusters survive with n=0.
    Gate("l40_kmeans", { (s, d) =>
      import s.implicits._
      val (fp, assign, cents) = SimilarityOps.kmeansFp(emb(s, d), 8, 2)
      val centDf = cents.map { case (cid, c) => (cid, c.head) }
        .toDF("cid", "centroid_fp0")
      val stats = assign.join(fp, "vec_id")
        .select(col("cid"), element_at(col("v"), 1).as("fp0"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_vecs"), sum(col("fp0")).as("sum_fp0"))
      centDf.join(stats, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
                coalesce(col("sum_fp0"), lit(0L)).as("sum_fp0"),
                col("centroid_fp0"))
        .orderBy("cid")
    },
      s"""WITH ${duckKmeans("8")}
        |SELECT c2.cid, CAST(COUNT(a3.vec_id) AS BIGINT) AS n_vecs,
        |  CAST(COALESCE(SUM(f.v[1]), 0) AS BIGINT) AS sum_fp0,
        |  c2.c[1] AS centroid_fp0
        |FROM c2
        |LEFT JOIN a3 ON a3.cid = c2.cid
        |LEFT JOIN fp f ON f.vec_id = a3.vec_id
        |GROUP BY c2.cid, c2.c[1] ORDER BY c2.cid""".stripMargin),

    // L41 — SemDeDup-shaped cluster-scoped embedding dedup (Abbas et al.
    // 2023, public): k-means first, then exact cosine near-dup pairs
    // ONLY WITHIN each cluster — the clustering bounds the pair space
    // (corpus² → Σ cluster²). k is DERIVED from the corpus, k = max(8,
    // ⌊√N⌋) ([[SimilarityOps.semdedupK]]; the r8 verdict's one open
    // scale-killer — k pinned at 8 made per-cluster pair work quadratic
    // per doubling), so expected cluster width stays ~√N and total pair
    // work ~N·√N — vs l10's LSH route: two scale paths, one pairs
    // contract. Members with a smaller-id in-cluster neighbor at cosine
    // ≥ 0.9 are "dropped"; the gate accounts kept/dropped per cluster.
    // The within-cluster join shuffles on cid, so pair generation
    // parallelizes across clusters. The oracle replays the SAME derived
    // k from the same COUNT(*) — the rule is part of the declared
    // semantics, not a tuning knob.
    Gate("l41_semdedup", { (s, d) =>
      val e = emb(s, d)
      val k = SimilarityOps.semdedupK(e.count())
      val (_, assign, _) = SimilarityOps.kmeansFp(e, k, 2)
      val withC = e.join(assign, "vec_id")
      val a = withC.select(col("cid"), col("vec_id").as("va"),
                           col("embedding").as("ea"))
      val b = withC.select(col("cid").as("cidb"), col("vec_id").as("vb"),
                           col("embedding").as("eb"))
      val dropped = a.join(b, col("cid") === col("cidb") && col("va") < col("vb"))
        .filter(graft.functions.VectorFunctions.cosine(col("ea"), col("eb")) >= 0.9)
        .select(col("cid"), col("vb")).distinct()
      assign.groupBy("cid").agg(count(lit(1)).as("n_members"))
        .join(dropped.groupBy("cid").agg(count(lit(1)).as("n_dropped")),
              Seq("cid"), "left")
        .select(col("cid"), col("n_members"),
                coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
                (col("n_members") - coalesce(col("n_dropped"), lit(0L)))
                  .as("n_kept"))
        .orderBy("cid")
    },
      s"""WITH ${duckKmeans(
          "SELECT GREATEST(8, CAST(floor(sqrt(COUNT(*))) AS BIGINT)) FROM embeddings")},
        |e AS (SELECT vec_id,
        |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
        |      FROM embeddings),
        |mem AS (SELECT a3.cid, a3.vec_id, e.a
        |        FROM a3 JOIN e USING (vec_id)),
        |drp AS (SELECT DISTINCT x.cid, y.vec_id
        |        FROM mem x JOIN mem y
        |          ON x.cid = y.cid AND x.vec_id < y.vec_id
        |        WHERE ${duckCosine("x.a", "y.a")} >= 0.9),
        |m AS (SELECT cid, COUNT(*) AS n_members FROM mem GROUP BY 1),
        |dd AS (SELECT cid, COUNT(*) AS n_dropped FROM drp GROUP BY 1)
        |SELECT m.cid, CAST(m.n_members AS BIGINT) AS n_members,
        |  CAST(COALESCE(dd.n_dropped, 0) AS BIGINT) AS n_dropped,
        |  CAST(m.n_members - COALESCE(dd.n_dropped, 0) AS BIGINT) AS n_kept
        |FROM m LEFT JOIN dd USING (cid) ORDER BY m.cid""".stripMargin),

    // L18 — array higher-order functions over the embedding column
    // (filter/transform/aggregate — codegen'd builtins, the no-UDF way to
    // compute per-vector features): positive-component count and max
    // absolute component, aggregated per label. Comparisons and abs are
    // exact on float-origin doubles, so no rounding convention is needed
    // beyond the avg ratio.
    Gate("l18_array_hof", { (s, d) =>
      val e = emb(s, d).select(col("label"),
        expr("size(filter(embedding, x -> x > 0))").cast("long").as("npos"),
        expr("array_max(transform(embedding, x -> abs(cast(x as double))))")
          .as("maxabs"))
      e.groupBy(col("label"))
        .agg(Q.avgInt4(col("npos")).as("avg_pos"),
             max(col("maxabs")).as("max_abs"),
             count(lit(1)).as("n"))
        .orderBy("label")
    },
      s"""WITH e AS (
         |  SELECT label,
         |    CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS npos,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
         |  FROM embeddings)
         |SELECT label,
         |  ${Q.duckRound4Ratio("SUM(npos)", "COUNT(npos)")} AS avg_pos,
         |  MAX(maxabs) AS max_abs, COUNT(*) AS n
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),

    // L20 — the embedding gram matrix G = Eᵀ·E (the PCA/covariance
    // precursor every embedding pipeline eventually computes), expressed
    // as the M1 matmul plan over the posexploded COO view: join on the
    // contraction index (vec_id), hash aggregate on (dim_i, dim_j) —
    // upper triangle only, G being symmetric. Exact order-free product
    // arithmetic and the constant-size-shuffle scale shape live in
    // [[SimilarityOps.gramMatrix]]; the output is the half-up 4-decimal
    // value-scale ratio — never a raw DECIMAL (the r5 formatter hazard).
    Gate("l20_embedding_gram", (s, d) =>
      SimilarityOps.gramMatrix(Tables.load(s, d, "embeddings"))
        .orderBy("i", "j"),
      // The gram replay: same fp45 encoding, HUGEINT product sums, and the
      // shared signed half-up ratio at the 2^90 product scale.
      s"""WITH e AS (
         |  SELECT vec_id,
         |    generate_subscripts(embedding, 1) - 1 AS dim,
         |    CAST(CAST(unnest(embedding) AS DOUBLE) * ${Q.Fp45}.0 AS BIGINT) AS w
         |  FROM embeddings),
         |p AS (
         |  SELECT CAST(a.dim AS BIGINT) AS i, CAST(b.dim AS BIGINT) AS j,
         |         SUM(CAST(a.w AS HUGEINT) * b.w) AS s
         |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim <= b.dim
         |  GROUP BY 1, 2)
         |SELECT i, j,
         |  ${Q.duckRound4RatioSigned("s", "1237940039285380274899124224")} AS g
         |FROM p ORDER BY i, j""".stripMargin))
}
