package graft.operators

import graft.{Q, Tables}
import graft.functions.{NfcNormalize, TextFunctions, VectorMean}
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declared LLM-data-pipeline queries L1–L32 + the multimodal gates
  * (SURVEY.md §2.2 L-table; north-star training-data-pipeline mandate) over
  * the `documents` / `embeddings` tables, with DuckDB oracles.
  *
  * The reference has no analogue for any of these (its only pipeline is the
  * matrix multiply, reference `orchestrator/main.py`); they are the extended
  * surface BASELINE.json mandates, built Spark-first:
  *  - near-dup routes through prefix filtering
  *    ([[DedupOps.prefixJaccardPairs]]) — candidate generation is an
  *    equi-join on globally rare shingle codes, never all-pairs;
  *  - similarity search broadcasts the small query set ([[SimilarityOps]]);
  *  - the centroid aggregate is a typed `Aggregator`
  *    ([[graft.functions.VectorMean]]) with fixed-size exact buffers;
  *  - text analytics are pure Catalyst expressions
  *    ([[graft.functions.TextFunctions]]), whole-stage-codegen friendly.
  */
object LlmQueries {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** L34 core over any (doc_id, text) frame: bigram-LM document scoring —
    * each doc scored by the average corpus-LM transition probability of
    * its own bigrams, P(b|a) integer-exact as ⌊10^6·c(a,b)/c(a)⌋ with
    * prefix counts c(a) derived FROM the bigram table (self-consistent
    * model). Two hash aggregates + one equi-join on bigram; the model
    * table is vocabulary-sized (never broadcast-assumed); zero-bigram
    * docs survive the left join with score 0. Spec-pinned on planted
    * docs; the l34 gate hashes it against the DuckDB replay.
    */
  def lmScore(dd: DataFrame): DataFrame = {
    // docBi/corpus are each referenced twice below; measured at sf0.1,
    // cutting their lineage (localCheckpoint) does NOT pay — the repeated
    // explode+aggregate is cheap and pipelines, while the eager barriers
    // serialize (4.4 s lazy vs 4.7 s checkpointed) — unlike GraphOps'
    // six-reference banding pipeline where the cut won 2.5×.
    // Round 15: the explode input is SPREAD (Tables.spread) — the corpus
    // fixture scans as one split, so the bigram explode+partial-aggregate
    // (the plan's dominant pipeline, ~2.3 s of task time at sf0.1) ran on
    // one core; the spread is a no-op once the scan itself parallelizes.
    val docBi = Tables.spread(dd)
      .select(col("doc_id"),
              explode(TextFunctions.wordNgrams("text", 2)).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("m"))
    val corpus = docBi.groupBy("bigram").agg(sum(col("m")).as("cb"))
    val prefix = corpus
      .groupBy(split(col("bigram"), " ").getItem(0).as("pre"))
      .agg(sum(col("cb")).as("ca"))
    val scores = corpus
      .join(prefix, split(col("bigram"), " ").getItem(0) === col("pre"))
      .select(col("bigram"), Q.intDiv(col("cb") * 1000000L, col("ca")).as("sc"))
    val perDoc = docBi.join(scores, "bigram")
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_bigrams"), sum(col("m") * col("sc")).as("st"))
    dd.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
              when(col("st").isNull, 0.0)
                .otherwise(Q.round4Ratio(col("st"),
                                         col("n_bigrams") * 1000000L))
                .as("lm_score"))
  }
  private def emb(s: SparkSession, d: String)  = Tables.load(s, d, "embeddings")

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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // L1 — exact dedup: content-hash group-by, keep min doc_id.
    "l1_exact_dedup" -> ((s, d) =>
      DedupOps.exactDedup(docs(s, d)).orderBy("content_hash")),

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
    "l2_near_dup" -> ((s, d) =>
      s.read.parquet(MatchGraph.ensure(s, d, 0.8).pairs)
        .orderBy("da", "db")),

    // L2b — the l2 contract under its second gate name, served from the
    // same staged `pairs` (one engine run per corpus, guide §2.4); the
    // oracle is the same exact all-pairs SQL.
    "l2b_minhash_lsh" -> ((s, d) =>
      s.read.parquet(MatchGraph.ensure(s, d, 0.8).pairs)
        .orderBy("da", "db")),

    // L3 — token frequency: top-20 tokens per lang (count desc, token asc).
    "l3_token_freq" -> { (s, d) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("token").asc)
      docs(s, d)
        .select(col("lang"), explode(TextFunctions.tokens("text")).as("token"))
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 20)
        .select("lang", "rnk", "token", "cnt")
        .orderBy("lang", "rnk")
    },

    // L4 — corpus stats per lang: doc count, avg chars (exact-int round),
    // distinct sources.
    "l4_corpus_stats" -> ((s, d) =>
      docs(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             Q.avgInt4(col("n_chars")).as("avg_chars"),
             countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")),

    // L5 — vector top-k: 5 nearest neighbors by cosine for query vectors
    // vec_id 0..9 (broadcast queries, one corpus pass, window top-k).
    "l5_vector_topk" -> ((s, d) =>
      SimilarityOps.bruteTopK(emb(s, d), emb(s, d).filter(col("vec_id") <= 9), 5)
        .orderBy("query_id", "rank")),

    // L6 — label centroids: element-wise mean of the 64-dim embeddings per
    // label via the VectorMean Aggregator (exact fixed-point sums — see
    // graft.Q.Fp45 for why this is order-free AND hash-deterministic).
    "l6_label_centroids" -> { (s, d) =>
      val centroid = udaf(new VectorMean(64))
      emb(s, d)
        .groupBy(col("label"))
        .agg(centroid(col("embedding")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "centroid")))
        .select(col("label"), col("dim").cast("long").as("dim"), col("centroid"))
        .orderBy("label", "dim")
    },

    // L7 — SimHash fingerprints: 16-bit sign-of-weighted-bit-votes over the
    // SQL-reproducible polynomial token hash; oracle replays it exactly.
    "l7_simhash" -> ((s, d) =>
      DedupOps.simhash(docs(s, d)).orderBy("doc_id")),

    // MM1 — multimodal decode: binary payload → typed metadata through the
    // distributed mapPartitions plumbing (codec = deterministic stub; the
    // arithmetic is reproducible in SQL, which is the point of the gate).
    "mm1_decode_meta" -> ((s, d) =>
      Multimodal.decodeMeta(Multimodal.withPayload(docs(s, d)))
        .toDF.orderBy("doc_id")),

    // IVF similarity (scale path of L5): fully hash-gated — the centroid
    // subset (vec_id ≡ 0 mod 50), nearest-centroid assignment, nprobe=2
    // probe list, and in-cell ranking are all deterministic (rounded sims,
    // id tie-breaks), so the DuckDB oracle replays the exact same logic.
    // Equivalence to bruteTopK at full probe is additionally unit-tested.
    "l5b_ivf_topk" -> ((s, d) =>
      SimilarityOps.ivfTopK(emb(s, d), emb(s, d).filter(col("vec_id") <= 9), 5)
        .orderBy("query_id", "rank")),

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
    "l5c_pq_topk" -> ((s, d) =>
      SimilarityOps.pqTopK(emb(s, d), emb(s, d).filter(col("vec_id") <= 9), 5,
                           codebookEntries = 256)
        .orderBy("query_id", "rank")),

    // L5d — IVF-PQ, the COMPOSED top rung of the ANN ladder (Jégou et
    // al. 2011): coarse cells prune the search space (nprobe=2), PQ-code
    // reconstructions rank inside the probed cells (ADC), an exact
    // re-rank restores full-precision order. Same donor-subset
    // determinism as l5b/l5c, so the oracle replays all four stages.
    "l5d_ivfpq_topk" -> ((s, d) =>
      SimilarityOps.ivfPqTopK(emb(s, d), emb(s, d).filter(col("vec_id") <= 9), 5)
        .orderBy("query_id", "rank")),

    // L5e — IVF-PQ with PRODUCTION-SHAPE index parameters: coarse cells
    // and per-subspace codebooks capped at 256 donors (the stride rule
    // capped — vec_id ≡ 0 mod 50 AND vec_id < 12800), so index size is an
    // ALGORITHM constant and the encode/assignment passes are O(N·m·256)
    // — linear in the corpus where l5d's uncapped donor set makes them
    // O(N²/50) (the measured super-linear term in the probe ladders). On
    // a corpus below 12 800 vectors the cap never bites and l5e ≡ l5d
    // exactly (spec-pinned); at scale it is the variant a deployment
    // runs.
    "l5e_ivfpq_fixed256" -> ((s, d) =>
      SimilarityOps.ivfPqTopK(emb(s, d), emb(s, d).filter(col("vec_id") <= 9), 5,
                              codebookEntries = 256)
        .orderBy("query_id", "rank")),

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
    "l5f_ann_recall" -> { (s, d) =>
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
    "l5g_ann_recall_scaled" -> { (s, d) =>
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
    "l5h_pq_distortion" -> ((s, d) =>
      SimilarityOps.pqDistortion(emb(s, d), codebookEntries = 256)
        .orderBy("label")),

    // L8 — document quality scoring: token counts, average token length,
    // stopword ratio, alpha-space purity, composite keep/drop flag. One
    // narrow projection pass — the shape of a 100 TB quality filter.
    "l8_quality_score" -> ((s, d) =>
      TextAnalysis.qualityScore(docs(s, d)).orderBy("doc_id")),

    // L9 — language-ID heuristic: marker-token profile scoring (explode →
    // broadcast profile join → argmax). The fixture corpus shares one
    // vocabulary across its lang labels, so predictions are uniform — the
    // operator's contract is the deterministic scoring itself.
    "l9_lang_id" -> ((s, d) =>
      TextAnalysis.langId(docs(s, d)).orderBy("doc_id")),

    // L10 — embedding-cosine near-dup pairs (threshold 0.9; this corpus
    // has none — the oracle confirms the empty result exactly). Routed
    // through SRP-LSH banding + exact re-rank: candidates from a band-key
    // equi-join (no cartesian product), values from the exact rounded
    // cosine — output identical to the quadratic baseline, which the spec
    // asserts on a corpus WITH planted near-dups.
    "l10_cosine_dup" -> ((s, d) =>
      SimilarityOps.cosinePairsLsh(emb(s, d), 0.9).orderBy("va", "vb")),

    // L12 — BPE-ish regex tokenization (the GPT-2 pre-tokenizer shape:
    // space-prefixed letter runs / digit runs / punctuation runs) and
    // per-lang token statistics. regexp_extract_all is a codegen'd
    // built-in; the alternation uses only portable leftmost-first
    // constructs so the oracle's RE2 matches Java regex exactly.
    "l12_bpe_tokens" -> { (s, d) =>
      val toks = docs(s, d).select(col("lang"), col("doc_id"),
        explode(expr(
          "regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+', 0)"))
          .as("tok"))
      toks.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
             countDistinct(col("tok")).as("n_unique"),
             countDistinct(col("doc_id")).as("nd"))
        .select(col("lang"), col("n_tokens"), col("n_unique"),
                Q.round4Ratio(col("n_tokens"), col("nd")).as("avg_tokens_per_doc"))
        .orderBy("lang")
    },

    // L13 — exact length quantiles per lang: sort-based `percentile`
    // aggregate with (n−1)·p linear interpolation — the same definition
    // DuckDB's quantile_cont uses, so values hash-match without a custom
    // rounding convention (quarters/halves of integers are exact doubles).
    // 100 TB posture: exact percentile needs a per-group sort (fine for
    // bounded groups like per-lang); the unbounded-cardinality scale path
    // is approx_percentile, declared non-hash-gated like R14b's HLL.
    "l13_length_quantiles" -> ((s, d) =>
      docs(s, d).groupBy(col("lang"))
        .agg(percentile(col("n_chars"), lit(0.25)).as("p25"),
             percentile(col("n_chars"), lit(0.5)).as("p50"),
             percentile(col("n_chars"), lit(0.75)).as("p75"))
        .orderBy("lang")),

    // L13b — the declared scale path of L13: GK-sketch approx_percentile
    // (mergeable, one pass, no per-group sort). Sketch outputs are
    // engine-specific, so the gate exports the r14b verdict shape: the
    // EXACT interpolated median, the declared ±5% band, and within_band =
    // |ap50 − p50|·20 ≤ p50 — the estimate stays out of the hash and the
    // oracle asserts literal true, hash-enforcing the sketch's band. (At
    // fixture scale GK with accuracy=10000 returns an exact element; the
    // slack covers element-vs-interpolation, which is one gap at most.)
    "l13b_approx_quantiles" -> ((s, d) =>
      docs(s, d).groupBy(col("lang"))
        .agg(approx_percentile(col("n_chars"), lit(0.5), lit(10000)).as("ap50"),
             percentile(col("n_chars"), lit(0.5)).as("exact_p50"))
        .select(col("lang"), col("exact_p50"), lit(5L).as("band_pct"),
                (abs(col("ap50") - col("exact_p50")) * 20 <=
                  col("exact_p50")).as("within_band"))
        .orderBy("lang")),

    // MM2 — multimodal frame sampling: k evenly-spaced byte probes per
    // payload through the distributed 1→k mapPartitions expansion (the
    // keyframe-extraction shape; probe arithmetic is oracle-reproducible).
    "mm2_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.withPayload(docs(s, d)))
        .toDF.orderBy("doc_id", "frame_idx")),

    // MM3 — multimodal resize: stub decode → integer aspect-preserving
    // fit into 64×64 (1e6 fixed-point scale, never upscale) → strided
    // one-byte-per-destination-column digest. Completes the
    // decode / frame-sample / resize batch family; all arithmetic is
    // integer so the oracle replays it exactly.
    "mm3_resize" -> ((s, d) =>
      Multimodal.resize(Multimodal.withPayload(docs(s, d)))
        .toDF.orderBy("doc_id")),

    // MM4 — patch-grid extraction (the ViT tokenizer shape): stub decode
    // → ⌈w/16⌉×⌈h/16⌉ grid → 4 evenly-spaced patches probed per asset
    // through the same distributed 1→k expansion as MM2. Grid and probe
    // arithmetic are integer, so the oracle replays coordinates and
    // probe bytes exactly.
    "mm4_patch_grid" -> ((s, d) =>
      Multimodal.patchGrid(Multimodal.withPayload(docs(s, d)))
        .toDF.orderBy("doc_id", "patch_idx")),

    // MM5 — payload near-dup pairs via difference-hash (round 14): the
    // perceptual-dedup shape (pHash/dHash banding is how image corpora
    // dedup at scale) over the opaque binary payloads — 16-bit gradient
    // fingerprint ([[Multimodal.dHash]]) ridden through the SAME banded
    // pair machinery as the SimHash text gates
    // ([[DedupOps.fingerprintPairs]]: pigeonhole blocks, class
    // contraction, exact bit_count verify). Completes the multimodal
    // family with its dedup crossover: decode → fingerprint → banded
    // join, never all-pairs.
    "mm5_phash_pairs" -> ((s, d) =>
      DedupOps.fingerprintPairs(
        Multimodal.dHash(Multimodal.withPayload(docs(s, d))),
        maxHamming = 1, bits = 16).orderBy("da", "db")),

    // MM6 — mm5 at the PRODUCTION fingerprint width (round 15, r14
    // verdict item 7): 64-bit dHash (65 evenly-spaced byte probes —
    // [[Multimodal.dHash]] takes the width natively), Hamming ≤ 3 via 4
    // pigeonhole blocks × 16 bits — the l14b width/banding convention,
    // which the text path already proves end-to-end; this gates the
    // MULTIMODAL dedup path at the width a real image pipeline runs
    // (16-bit perceptual spaces saturate on real corpora). Bit 63 rides
    // the sign-proof shift+mask banding ([[DedupOps.fingerprintPairs]]);
    // the oracle replays the probes via hex with the two's-complement
    // top-bit convention of l14b's oracle.
    "mm6_phash64_pairs" -> ((s, d) =>
      DedupOps.fingerprintPairs(
        Multimodal.dHash(Multimodal.withPayload(docs(s, d)), bits = 64),
        maxHamming = 3, bits = 64).orderBy("da", "db")),

    // L14 — SimHash near-dup pairs at Hamming ≤ 1: pigeonhole-banded
    // candidates (two 8-bit blocks; a ≤1-distance pair must agree exactly
    // on one block) + exact bit_count verification — the scale companion
    // to L7's fingerprints, completing hash → pairs for the SimHash
    // dedup path as MinHash/prefix-filter already do for Jaccard.
    "l14_simhash_pairs" -> ((s, d) =>
      DedupOps.simhashPairs(docs(s, d), maxHamming = 1).orderBy("da", "db")),

    // L14b — L14 at the PRODUCTION fingerprint width: 64-bit SimHash (four
    // independent 16-bit hash lanes — the mod-1000003 hash has ~20 useful
    // bits, so wider fingerprints need more hashes, not more bits of one),
    // Hamming ≤ 3 via 4 pigeonhole blocks × 16 bits. A 16-bit space
    // saturates on large corpora (sf0.1: 5000 docs → 1195 distinct
    // fingerprints); 64 bits is the width Manku's crawl dedup runs at.
    "l14b_simhash64_pairs" -> ((s, d) =>
      DedupOps.simhashPairs(docs(s, d), maxHamming = 3, bits = 64)
        .orderBy("da", "db")),

    // L16 — dedup clusters: connected components over the SimHash ≤1 pair
    // graph (L14's edges). Pairs alone don't dedup a corpus — the keep/drop
    // decision needs the transitive closure, one canonical doc (min
    // doc_id) per component. Pointer-jumping label propagation over the
    // CONTRACTED
    // fingerprint-class graph — iterative state one row per distinct
    // fingerprint, O(log diameter) rounds of one join + agg each.
    "l16_dedup_components" -> ((s, d) =>
      DedupOps.simhashComponents(docs(s, d), maxHamming = 1)
        .orderBy("doc_id")),

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
    "l50_survivorship" -> { (s, d) =>
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

    // L51 — GLOBAL ORDER + SHARD MAP (round 13): every document gets a
    // contiguous 0-based position under the corpus-wide quality order
    // (n_chars DESC, doc_id ASC — a total order) and the shard file that
    // position lands in (64 docs/shard) — the curriculum-ordering /
    // deterministic-shard-writer primitive. The naive plan is a
    // no-PARTITION row_number window = ONE task sorting the corpus;
    // [[OrderOps.globalOrder]] replaces it with deterministic range
    // buckets (driver-collected sampled boundaries baked into a
    // binary-search expression — round 14; no materialization, lineage
    // intact) + a B-row offset prefix-sum + per-bucket local ranks (see
    // its Scaladoc for the 100 TB argument). Result is sampler-boundary-
    // independent because the sort key is total.
    "l51_global_order" -> { (s, d) =>
      OrderOps.globalOrder(
          docs(s, d).select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("global_pos"),
                expr("global_pos div 64").as("shard_id"))
        .orderBy("doc_id")
    },

    // L52 — TOKEN-BUDGET MIXTURE FILL (round 13): per language, keep the
    // minimal quality-ranked prefix whose running token count reaches a
    // fixed budget (2 000 tokens/lang) — the "fill a 10B-token training
    // mix" selection step. Distinct from l21/l44's RATE-based sampling
    // (keep-probabilities): a budget fill needs the running sum over the
    // per-lang quality order, and the naive PARTITION BY lang window puts
    // all of a language in ONE task — data-sized partitions, the grouped
    // form of l51's scale-killer. [[OrderOps.groupedRunningSum]] computes
    // the same cum-before in two parallel passes (range partition on
    // (lang, order) → P+G−1 partial cells → offset prefix-sum → local
    // windows). Keep rule: cum_before < B keeps exactly the docs up to
    // and including the budget-crossing one. Output: per-lang kept count,
    // kept tokens, and the last (budget-crossing) doc — deterministic
    // because every doc has ≥1 token so cum_before is strictly increasing
    // within a language.
    "l52_token_budget" -> { (s, d) =>
      val dd = docs(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"),
                size(split(col("text"), " ")).cast("long").as("n_tok"))
      OrderOps.groupedRunningSum(dd, Seq("lang"),
          Seq(col("n_chars").desc, col("doc_id").asc), col("n_tok"))
        .filter(col("cum_before") < 2000L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
             sum(col("n_tok")).as("tok_kept"),
             max(struct(col("cum_before"), col("doc_id"))).as("_l"))
        .select(col("lang"), col("n_kept"), col("tok_kept"),
                col("_l.doc_id").as("last_doc"))
        .orderBy("lang")
    },

    // L53 — BPE MERGE INDUCTION (round 13): the first 3 byte-pair-encoding
    // merges learned from the corpus — the tokenizer-vocabulary step of a
    // training pipeline (Sennrich et al. 2016), distinct from l12's
    // APPLICATION of a fixed pre-tokenizer. See [[TextAnalysis.bpeMerges]]
    // for the word-frequency contraction + sentinel-string merge design
    // and the 100 TB argument (per-round cost is vocabulary-sized; driver
    // traffic is one argmax row per round).
    "l53_bpe_merges" -> ((s, d) => TextAnalysis.bpeMerges(docs(s, d), 3)),

    // L54 — TOP-BIGRAM CHARACTER MASS (round 13): per document, the share
    // of its characters covered by occurrences of its single most
    // frequent word bigram (count desc, bigram asc tie-break), rolled up
    // per source with the Gopher > 0.2 flag (Rae et al. 2021 §A1.1 "top
    // 2-gram" rule) — the CONCENTRATION axis l43's repeated-trigram
    // fraction misses (one boilerplate phrase repeated verbatim
    // concentrates mass in a single gram; many scattered repeats do not).
    // No cross-doc join: per-doc explode + two hash aggregates (the argmax
    // is a min(struct) agg, not a window), embarrassingly parallel at any
    // corpus size; docs with < 2 tokens carry frac 0 via the left join.
    // Mass convention (ADVICE r13): cnt·len(top_gram)/n_chars counts every
    // occurrence's characters in full, so OVERLAPPING occurrences ("a a a"
    // under top gram "a a": 2·3 = 6 of 5 chars) are double-counted and
    // frac can exceed 1.0 — the standard Gopher-filter arithmetic (count ×
    // gram length, no overlap discount), replayed identically by the
    // oracle; the > 0.2 flag and max_frac read the same on both engines.
    "l54_topgram_mass" -> { (s, d) =>
      val dd = docs(s, d)
      // Spread before the explode (guide §2.5, Tables.spread scaladoc).
      val top = Tables.spread(dd)
        .select(col("doc_id"),
                explode(TextFunctions.wordNgrams("text", 2)).as("gram"))
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(min(struct((-col("cnt")).as("nc"), col("gram").as("g"))).as("t"))
        .select(col("doc_id"), col("t.g").as("top_gram"),
                (-col("t.nc")).as("cnt"))
      dd.select(col("doc_id"), col("source"), col("n_chars"))
        .join(top, Seq("doc_id"), "left")
        .withColumn("frac",
          when(col("cnt").isNull, 0.0)
            .otherwise(Q.round4Ratio(col("cnt") * length(col("top_gram")),
                                     col("n_chars"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("frac") > 0.2, 1L).otherwise(0L)).as("n_flagged"),
             max(col("frac")).as("max_frac"))
        .orderBy("source")
    },

    // L55 — VOCABULARY GROWTH CURVE (round 13): distinct whitespace tokens
    // introduced per arrival-order DECILE of the corpus plus the running
    // vocabulary size — the Heaps-law curve an ingest pipeline plans
    // tokenizer and dedup capacity against ("how fast is the vocabulary
    // still growing?"), the curve-shaped complement to l48's per-doc
    // novelty flags. Composition of machinery that already carries 100 TB
    // arguments: doc position from [[OrderOps.globalOrder]] (doc_id asc —
    // arrival order, l48's convention), token first-occurrence as one
    // (token → min doc_id) hash aggregate (the l29/l48 shape, shuffle
    // bounded by distinct tokens), one equi-join of the vocab-sized
    // first-occurrence table onto the rank map, and a 10-row rollup whose
    // running sum is trivially bounded. Decile arithmetic is integer-exact:
    // decile = ⌊rank·10/N⌋.
    "l55_vocab_growth" -> { (s, d) =>
      val dd = docs(s, d)
      val ranked = OrderOps.globalOrder(
          dd.select(col("doc_id")), Seq(col("doc_id").asc))
      val n = ranked.agg(count(lit(1)).as("n"))
      val deciled = ranked.crossJoin(broadcast(n))
        .select(col("doc_id"),
                Q.intDiv(col("global_pos") * 10L, col("n")).as("decile"))
      val firstSeen = dd
        .select(col("doc_id"), explode(TextFunctions.tokens("text")).as("token"))
        .groupBy(col("token")).agg(min(col("doc_id")).as("doc_id"))
      val perDecile = firstSeen.join(deciled, "doc_id")
        .groupBy(col("decile")).agg(count(lit(1)).as("n_new_tokens"))
      // 10-row rollup: the running-vocab window is bounded by the decile
      // count, never the data.
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deciled.groupBy(col("decile")).agg(count(lit(1)).as("n_docs"))
        .join(perDecile, Seq("decile"), "left")
        .withColumn("n_new_tokens", coalesce(col("n_new_tokens"), lit(0L)))
        .withColumn("cum_vocab", sum(col("n_new_tokens")).over(wCum))
        .select("decile", "n_docs", "n_new_tokens", "cum_vocab")
        .orderBy("decile")
    },

    // L56 — BPE APPLICATION (round 14): encode the corpus with l53's
    // learned merge table (same sentinel-string greedy-left replace
    // contract both engines already prove on l53) and report per-language
    // compression — words, base symbols, post-merge tokens, the
    // ROUND(tokens/base, 4) ratio, and the post-merge symbol vocabulary —
    // completing learn→apply for the tokenizer story (l12 applies a FIXED
    // pre-tokenizer; l53 only learns). See [[TextAnalysis.bpeApply]] for
    // the vocab-contraction scale argument (one corpus read; merges are
    // narrow codegen'd replaces over the word table; rollups are
    // vocabulary-bounded).
    "l56_bpe_apply" -> ((s, d) => TextAnalysis.bpeApply(docs(s, d), 3)),

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
    "l57_minhash_calibration" -> ((s, d) => artifactCalibration(s, d)),

    // L58 — count-min-sketch heavy hitters (round 14): per-language exact
    // top-5 tokens probed against Spark's `count_min_sketch` aggregate,
    // with the CMS guarantee (exact ≤ est ≤ exact + ⌈N/1000⌉) hash-
    // enforced as a verdict band — the third mergeable-sketch family
    // (GK quantiles l13b, HLL r30, CMS here). See
    // [[SketchOps.cmsHeavyHitters]] for the integer band arithmetic and
    // the bounded driver-side sketch collect.
    "l58_cms_heavyhitters" -> ((s, d) =>
      SketchOps.cmsHeavyHitters(docs(s, d))),

    // L59 — fixed-point PageRank over the SimHash ≤1 near-dup graph
    // (round 14): the quality-propagation readout on the graph l16
    // clusters and l33 triangulates — which docs sit at the CENTER of
    // their dup neighborhood vs its periphery. Integer-scaled damped
    // iteration (5 rounds), bit-identical on any partitioning, evaluated
    // on the fingerprint-class QUOTIENT ([[DedupOps.simhashPageRank]]:
    // ~20k weighted class edges stand in for 1.16M directed doc edges per
    // round at sf0.1 — measured 10.7 → ~3 s; a spec pins quotient ≡ the
    // generic edge-list [[GraphOps.pageRank]]). The oracle replays the
    // l14 fingerprint construction and unrolls the same five integer
    // updates on the doc graph.
    "l59_pagerank" -> ((s, d) =>
      DedupOps.simhashPageRank(docs(s, d)).orderBy("doc_id")),

    // L60 — k-CORE PEEL of the near-dup graph (round 14): iterated
    // degree-threshold removal to a fixed point, k = the lower median doc
    // degree (integer-exact, data-derived). The density axis l16
    // (membership), l33 (local closure), and l59 (centrality) all miss:
    // the surviving core is the templated heart of a duplication
    // neighborhood, peel_round stratifies its periphery — the web-graph
    // quality peel (Seidman 1983; Batagelj–Zaveršnik) applied to
    // curation. Runs entirely on the bounded fingerprint-class quotient
    // (driver peel over ≤ 2^16 classes — see [[DedupOps.simhashKCore]]);
    // the oracle unrolls 8 synchronous doc-level peel rounds from one
    // template (fixpoint at gate scale is round 3; later rounds no-op).
    "l60_kcore" -> ((s, d) =>
      DedupOps.simhashKCore(docs(s, d)).orderBy("doc_id")),

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
    "l61_source_overlap" -> { (s, d) =>
      // Round 16: components from the staged artifact's Parquet (guide
      // §2.4 — see l50); only the (component, source) rollup, the
      // source-space-bounded self-join, and the diagonal run per gate,
      // shared verbatim with l64c via [[sourceOverlapMatrix]].
      // ArtifactSpec pins this against the from-scratch twin.
      sourceOverlapMatrix(docs(s, d),
        s.read.parquet(MatchGraph.ensure(s, d, 0.8).components))
    },

    // L62 — KMV (bottom-k) DISTINCT SKETCH with a verdict band (round
    // 14): per-language distinct word-3-gram cardinality — the statistic
    // that sizes a dedup pass's shingle universe — estimated by the
    // [[graft.functions.BottomK]] Aggregator (k = 256 smallest distinct
    // hash values; n̂ = (k−1)·M div h_k, Beyer et al. SIGMOD'07) beside
    // the exact COUNT(DISTINCT), with 100·|n̂ − n| ≤ 25·n hash-enforced
    // (integer cross-multiply, no float ratio). Fourth mergeable-sketch
    // family (GK l13b, HLL r30, CMS l58); unlike those, the KMV state is
    // a pure function of the input SET — partitioning-independent — so
    // the gate hashes h_k itself, not just the band verdict. The gram
    // hash is the cross-engine poly fold spread by the Knuth
    // multiplicative constant mod the Mersenne prime 2³¹−1 (a Weyl
    // lattice — low-discrepancy, so the k-th min is STABLY biased; the
    // ±25% band covers KMV's 3σ ≈ 19% at k=256 plus that bias; a
    // production build hashes 64-bit and tightens the band). At 100 TB
    // the exact side is the bottleneck and ships only as this gate's
    // audit; the sketch is the product — fixed k·8 bytes per group,
    // map-side combining, mergeable across any partitioning.
    "l62_kmv_distinct" -> { (s, d) =>
      val K = 256
      val M = 2147483647L
      val bottomK = udaf(new graft.functions.BottomK(K),
        org.apache.spark.sql.Encoders.scalaLong)
      docs(s, d)
        .select(col("lang"), expr("word_ngrams(text, 3)").as("g"))
        .select(col("lang"),
                ((TextFunctions.tokenHash("g") * 2654435761L) % M).as("h2"))
        .groupBy(col("lang"))
        .agg(count_distinct(col("h2")).as("exact_distinct"),
             bottomK(col("h2")).as("bk"))
        .select(col("lang"), col("exact_distinct"),
                element_at(col("bk"), -1).as("hk"),
                // h_k > 0 guard (r14 ADVICE): a k=1 sketch saturated by
                // hash 0 would divide by zero (null). Unreachable at
                // k=256 (256 distinct non-negatives force h_k ≥ 255),
                // but the estimator must not rely on that.
                expr(s"case when size(bk) < $K or element_at(bk, -1) <= 0" +
                     s" then cast(size(bk) as bigint)" +
                     s" else ${(K - 1).toLong} * ${M}L div element_at(bk, -1)" +
                     " end").as("est_distinct"))
        .withColumn("within_band",
          lit(100) * abs(col("est_distinct") - col("exact_distinct"))
            <= lit(25) * col("exact_distinct"))
        .orderBy("lang")
    },

    // L63 — KMV SET ALGEBRA (round 14): the capability l62's SURVEY row
    // advertises as the reason KMV ships beside HLL — two groups'
    // sketches COMBINE into union and intersection estimates without
    // touching the data again. For every language pair: the union sketch
    // is the bottom-k of the two sketch SETS (a valid KMV sketch of
    // Da ∪ Db by construction — the k smallest of the union's hashes are
    // all present in one of the operand sketches), est_union from its
    // k-th min, and est_inter = |S∪ ∩ Sa ∩ Sb| · est_union div k (the
    // Beyer'07 ρ·n̂∪ estimator, integer arithmetic end-to-end). Exact
    // sides replayed per pair; both verdict bands hash-enforced. All
    // sketch combination happens on G sketch ROWS (one per language,
    // k·8 bytes each) — at 100 TB the pairwise set-overlap matrix costs
    // G²·k array ops, no second corpus pass, which is the operational
    // point. The pair join is a G-row broadcast nested loop (G = #langs,
    // dimension-bounded), never data-sized.
    "l63_kmv_setops" -> { (s, d) =>
      val K = 256
      val M = 2147483647L
      val bottomK = udaf(new graft.functions.BottomK(K),
        org.apache.spark.sql.Encoders.scalaLong)
      val h = docs(s, d)
        .select(col("lang"), expr("word_ngrams(text, 3)").as("g"))
        .select(col("lang"),
                ((TextFunctions.tokenHash("g") * 2654435761L) % M).as("h2"))
      val sk = h.groupBy(col("lang")).agg(bottomK(col("h2")).as("bk"))
      val dist = h.distinct()
      val ex = dist.groupBy(col("lang"))
        .agg(count(lit(1)).as("nd"))
      val a = sk.join(ex, "lang")
        .select(col("lang").as("lang_a"), col("bk").as("ba"),
                col("nd").as("na"))
      val b = sk.join(ex, "lang")
        .select(col("lang").as("lang_b"), col("bk").as("bb"),
                col("nd").as("nb"))
      val inter = dist.as("x").join(dist.as("y"),
          col("x.h2") === col("y.h2") && col("x.lang") < col("y.lang"))
        .groupBy(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
        .agg(count(lit(1)).as("exact_inter"))
      a.join(broadcast(b), col("lang_a") < col("lang_b"))
        .join(inter, Seq("lang_a", "lang_b"), "left")
        .na.fill(0L, Seq("exact_inter"))
        .withColumn("mu",
          expr(s"slice(array_sort(array_distinct(concat(ba, bb))), 1, $K)"))
        .select(col("lang_a"), col("lang_b"), col("mu"),
          (col("na") + col("nb") - col("exact_inter")).as("exact_union"),
          col("exact_inter"),
          // Same h_k > 0 estimator guard as l62 (r14 ADVICE).
          expr(s"case when size(mu) < $K or element_at(mu, -1) <= 0" +
               s" then cast(size(mu) as bigint)" +
               s" else ${(K - 1).toLong} * ${M}L div element_at(mu, -1)" +
               " end").as("est_union"),
          expr(s"size(array_intersect(array_intersect(mu, ba), bb))")
            .cast("long").as("k_both"))
        .withColumn("est_inter",
          expr(s"case when size(mu) < $K then k_both" +
               s" else k_both * est_union div $K end"))
        .drop("mu")
        .withColumn("union_in_band",
          lit(100) * abs(col("est_union") - col("exact_union"))
            <= lit(25) * col("exact_union"))
        .withColumn("inter_in_band",
          lit(100) * abs(col("est_inter") - col("exact_inter"))
            <= lit(15) * col("exact_union"))
        .drop("k_both")
        .orderBy("lang_a", "lang_b")
    },

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
    "l64_match_artifact" -> { (s, d) =>
      val art = MatchGraph.rebuild(s, d, 0.8)
      s.read.parquet(art.pairs).orderBy("da", "db")
    },

    // L64b — survivorship DERIVED FROM THE ARTIFACT: l50's exact output
    // (cluster + keeper per doc, longest-text-wins election) but the
    // pair engine and components come from the staged Parquet — only the
    // keeper argmax and the corpus left-join run. Oracle = l50's
    // verbatim; ArtifactSpec additionally pins engine-side equality.
    "l64b_artifact_survivorship" -> { (s, d) =>
      survivorshipMap(docs(s, d),
        s.read.parquet(MatchGraph.ensure(s, d, 0.8).components))
    },

    // L64c — cross-source duplication matrix DERIVED FROM THE ARTIFACT:
    // l61's exact rollup over the staged components — the (component,
    // source) contraction, the source-space-bounded self-join, and the
    // diagonal are all that run. Oracle = l61's verbatim.
    "l64c_artifact_source_overlap" -> { (s, d) =>
      sourceOverlapMatrix(docs(s, d),
        s.read.parquet(MatchGraph.ensure(s, d, 0.8).components))
    },

    // L64d — MinHash calibration DERIVED FROM THE ARTIFACT: l57's exact
    // rows, but the verified rep pairs come from the staged Parquet and
    // only the match-sized signature work runs
    // ([[DedupOps.calibrationFromPairs]] — left-semi contraction to pair
    // participants, array-local lanes). Oracle = l57's verbatim.
    "l64d_artifact_calibration" -> ((s, d) => artifactCalibration(s, d)),

    // L65 — SUB-document span dedup (Lee et al. ACL'22 exact-substring
    // dedup at word-6-gram granularity): every duplicated 6-gram
    // occurrence is masked, the corpus-wide first occurrence survives,
    // and each doc emits its cleaned text — the dedup granularity BELOW
    // l1/l2's whole-document verdicts, where cross-document boilerplate
    // runs live. Width 6 isolates the injected clone runs on the fixtures
    // (24/500 docs at sf0.01) without swallowing random short collisions.
    // [[DedupOps.spanDedup]] for the linear-in-corpus-tokens plan.
    "l65_span_dedup" -> ((s, d) =>
      DedupOps.spanDedup(docs(s, d), 6).orderBy("doc_id")),

    // L15 — deterministic dataset split assignment: every doc lands in
    // train/val/test (8/1/1) via a pure multiplicative hash of doc_id —
    // reproducible across runs, engines, and cluster sizes, which is the
    // property a training pipeline needs from its holdout split (seeded
    // RNG sampling is neither engine- nor partitioning-stable). One
    // narrow codegen pass + hash aggregate.
    "l15_split_assign" -> { (s, d) =>
      val h = (col("doc_id") % 1000003L) * 2654435761L % 1000L
      docs(s, d)
        .withColumn("split",
          when(h < 800, "train").when(h < 900, "val").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
             Q.avgInt4(col("n_chars")).as("avg_chars"))
        .orderBy("lang", "split")
    },

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
    "l23_incremental_dedup" -> ((s, d) =>
      DedupOps.incrementalClassify(docs(s, d))
        .groupBy(col("lang"), col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "status")),

    // L22 — bigram language-model counts: top-10 word bigrams per language
    // by frequency (ties broken lexicographically so the rank-10 boundary
    // is deterministic cross-engine). Bigram extraction is ARRAY-LOCAL —
    // tokens → transform(sequence, slice) inside each row's projection —
    // not a positional self-join: at 100 TB the join formulation would
    // shuffle the exploded token table twice on (doc_id, pos); this shape
    // shuffles only (lang, bigram) partial counts. Same top-k window
    // funnel as L3 (unigrams).
    "l22_bigram_freq" -> { (s, d) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("bigram").asc)
      // Spread before the explode (guide §2.5, Tables.spread scaladoc).
      Tables.spread(docs(s, d))
        .select(col("lang"),
                explode(TextFunctions.wordNgrams("text", 2)).as("bigram"))
        .groupBy("lang", "bigram")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select("lang", "rnk", "bigram", "cnt")
        .orderBy("lang", "rnk")
    },

    // L25 — CONTAINMENT dedup (asymmetric Jaccard ≥ 0.9): the
    // quote/excerpt/boilerplate pass — a short doc living almost entirely
    // inside a longer one scores ~1 here while symmetric Jaccard (L2)
    // sees nothing. Contained-side-only prefix filter, full-set container
    // join, linear native-expression verify.
    "l25_containment" -> ((s, d) =>
      DedupOps.containmentPairs(docs(s, d), 0.9)
        .orderBy("contained_id", "container_id")),

    // L26 — kNN label classification: the supervised use of the L5
    // similarity ladder. Each query vector (vec_id ≤ 9) takes the
    // majority label of its 10 nearest neighbors; the vote tie-break
    // (votes desc, label asc) is a total order, so the DuckDB oracle
    // replays the exact prediction.
    "l26_knn_classify" -> ((s, d) =>
      SimilarityOps.knnClassify(emb(s, d), emb(s, d).filter(col("vec_id") <= 9), 10)
        .orderBy("query_id")),

    // L27 — Unicode NFC canonicalization via the engine's native
    // `nfc_normalize` expression ([[graft.functions.NfcNormalize]]): the
    // text-cleaning step that must precede content hashing (composed vs
    // decomposed accents are different bytes, same text). The fixture is
    // ASCII, so decomposed sequences are planted per doc_id — the gate
    // proves composition actually happens (length shrinks by exactly the
    // combining marks) and that the normalized bytes hash identically in
    // both engines.
    "l27_normalize" -> { (s, d) =>
      // DECOMPOSED escapes (base letter + combining mark) so NFC has real
      // work: "Cafe"+U+0301 composes to 5 chars, "Zu"+U+0308+"rich" to 7.
      val planted = when(col("doc_id") % 3 === 0, lit("Cafe\u0301 "))
        .when(col("doc_id") % 3 === 1, lit("Zu\u0308rich "))
        .otherwise(lit(""))
      docs(s, d)
        .withColumn("raw", concat(planted, col("text")))
        .withColumn("norm", NfcNormalize(col("raw")))
        .select(col("doc_id"),
                length(col("raw")).cast("long").as("raw_len"),
                length(col("norm")).cast("long").as("norm_len"),
                sha2(col("norm"), 256).as("norm_sha"))
        .orderBy("doc_id")
    },

    // L28 — PII redaction: email and phone patterns scrubbed from the
    // text before it can enter a training corpus — the compliance step
    // every curation pipeline runs between dedup and tokenization. The
    // fixture is synthetic-clean, so PII is PLANTED deterministically per
    // doc_id (same convention as l27); the gate hashes the redacted bytes
    // and counts the redactions, so both the match set and the
    // replacement must agree with the oracle's regex engine exactly
    // (patterns are kept in the RE2 ∩ java.util.regex common dialect).
    "l28_redact" -> { (s, d) =>
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "555-[0-9]{4}"
      val planted = when(col("doc_id") % 5 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
               lit("@example.com or 555-01"),
               lpad((col("doc_id") % 100).cast("string"), 2, "0")))
        .otherwise(lit(""))
      docs(s, d)
        .withColumn("raw", concat(col("text"), planted))
        .select(col("doc_id"),
                regexp_count(col("raw"), lit(email)).cast("long").as("n_emails"),
                regexp_count(col("raw"), lit(phone)).cast("long").as("n_phones"),
                sha2(regexp_replace(regexp_replace(col("raw"), email, "<EMAIL>"),
                                    phone, "<PHONE>"), 256).as("redacted_sha"))
        .orderBy("doc_id")
    },

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
    "l29_dup_shingle_frac" -> ((s, d) =>
      DedupOps.dupShingleFraction(docs(s, d), 3).orderBy("doc_id")),

    // L30 — document CHUNKING: fixed 100-char windows at stride 80 (20
    // overlap) — the splitting step every RAG index and long-document
    // pretraining pipeline runs between cleaning and embedding. Chunk
    // starts come from an array-local `sequence` + `posexplode` (no
    // self-join, no driver loop — the same parallel-expansion shape as
    // s9's gap-fill spine); the gate hashes every chunk's bytes and
    // offsets, so boundary arithmetic must match the oracle exactly.
    "l30_chunks" -> { (s, d) =>
      val n = char_length(col("text"))
      docs(s, d)
        .filter(n > 0)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0L), expr("(char_length(text) - 1) div 80")),
            i => substring(col("text"), (i * 80 + 1).cast("int"), lit(100)))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
                char_length(col("col")).cast("long").as("chunk_len"),
                sha2(col("col"), 256).as("chunk_sha"))
        .orderBy("doc_id", "chunk_idx")
    },

    // L31 — SEQUENCE PACKING: documents concatenated into fixed
    // 512-token training bins per language (monolingual packing), the
    // batch-prep step between tokenization and the trainer. The bin id
    // is the running pre-document token count div the budget — the
    // deterministic concat-and-split formulation. Round 13: the per-lang
    // cumulative WINDOW (one task owns all of a language's docs — the
    // data-sized-partition scale-killer l52 names) is replaced by the
    // grouped two-pass prefix sum, whose only single-partition work is
    // the P+G−1 offset cells.
    "l31_pack" -> { (s, d) =>
      val dd = docs(s, d)
        .select(col("lang"), col("doc_id"),
                size(split(col("text"), " ")).cast("long").as("n_tok"))
      OrderOps.groupedRunningSum(dd, Seq("lang"),
          Seq(col("doc_id").asc), col("n_tok"))
        .withColumn("bin", expr("cum_before div 512"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"),
             min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "bin")
    },

    // L32 — benchmark DECONTAMINATION: corpus documents screened against
    // the word-5-gram set of a held-out benchmark (doc_id < 10 stands in
    // for the eval suite) — the step that keeps test data out of a
    // training corpus. The benchmark gram set is tiny at any corpus
    // scale, so it BROADCASTS onto the exploded corpus grams (no
    // shuffle of the big side) — the production decontamination shape;
    // zero-hit docs survive via the left join, and the flag, hit counts,
    // and per-doc gram totals are all hashed.
    "l32_decontaminate" -> { (s, d) =>
      val dd = docs(s, d)
      val bench = dd.filter(col("doc_id") < 10)
        .select(explode(TextFunctions.wordNgrams("text", 5)).as("gram"))
        .distinct()
      // Spread before the explode (guide §2.5, Tables.spread scaladoc).
      val grams = Tables.spread(dd.filter(col("doc_id") >= 10))
        .select(col("doc_id"),
                explode(TextFunctions.wordNgrams("text", 5)).as("gram"))
      val hits = grams.join(broadcast(bench), "gram")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("n_hit_grams"),
             count(lit(1)).as("n_hits"))
      dd.filter(col("doc_id") >= 10)
        // gram COUNT is pure token arithmetic — no need to materialize the
        // gram strings a second time just to size() them.
        .select(col("doc_id"),
                greatest(size(TextFunctions.tokens("text")) - 4, lit(0))
                  .cast("long").as("n_grams"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
                coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
                coalesce(col("n_hits"), lit(0L)).as("n_hits"),
                when(coalesce(col("n_hits"), lit(0L)) > 0L, "flagged")
                  .otherwise("clean").as("status"))
        .orderBy("doc_id")
    },

    // L33 — triangle counts over the SimHash ≤1 near-dup graph: the
    // community-density primitive on top of the pair family (L14 finds
    // edges, L16 finds components, this measures how CLIQUE-LIKE each
    // neighborhood is — a doc in many triangles sits in a dense duplicate
    // cluster, not a chain of borderline matches). Runs on the CONTRACTED
    // fingerprint-class graph with closed-form clique expansion
    // ([[DedupOps.simhashTriangleCounts]] — identical-fingerprint cliques
    // make direct doc-graph wedge enumeration quadratic in class width;
    // direct run measured 15.2 s → 5.9 s after localCheckpoint at sf0.1,
    // vs ~4 s contracted in BENCH_r07); the generic degree-ordered
    // [[GraphOps.triangleCounts]] remains the arbitrary-graph operator,
    // spec-pinned equal on the expanded graph. Top-10 funnel is
    // TakeOrderedAndProject (distributed top-k), never a whole-corpus
    // single-partition window.
    "l33_triangle_count" -> { (s, d) =>
      val counts = DedupOps.simhashTriangleCounts(docs(s, d), maxHamming = 1)
      val top = counts
        .orderBy(col("n_triangles").desc, col("doc_id").asc).limit(10)
      top.withColumn("rnk",
          row_number().over(Window.orderBy(col("n_triangles").desc,
                                           col("doc_id").asc)).cast("long"))
        .select("rnk", "doc_id", "n_triangles")
        .orderBy("rnk")
    },

    // L34 — bigram-LM document scoring: the KenLM-shaped quality filter —
    // score each doc by the average corpus-LM transition probability of
    // its own bigrams (a doc of improbable transitions is line noise /
    // boilerplate soup; a doc of probable ones reads like the corpus).
    // P(b|a) is integer-exact: ⌊10^6·c(a,b)/c(a)⌋ with c(a) = Σ_b c(a,b)
    // (prefix counts derived FROM the bigram table, so the model is
    // self-consistent), doc score = Σ m·s over its bigram multiplicities,
    // reported as round4 of score/(n·10^6). Two hash aggregates + one
    // equi-join on bigram — the model table is vocabulary-sized (never
    // broadcast-assumed), everything combines map-side; zero-bigram docs
    // survive via the left join with score 0.
    "l34_lm_score" -> ((s, d) => lmScore(docs(s, d)).orderBy("doc_id")),

    // L35 — duplicated-passage fraction: l29's duplicate-content score at
    // PASSAGE granularity (64-char windows, stride 16) — the verbatim-span
    // detector substring dedup runs on, vs the 3-gram noise floor. Linear
    // frequency-pass formulation, no self-join; short docs carry zero
    // windows through the left join.
    "l35_passage_dup" -> ((s, d) =>
      DedupOps.dupWindowFraction(docs(s, d), 64, 16).orderBy("doc_id")),

    // L36 — feature-hashing document embeddings (the hashing trick,
    // Weinberger et al. ICML'09): each doc's token stream folded into a
    // fixed 16-dim signed-count vector — bucket = h mod 16, sign from the
    // next hash bit — the deterministic, vocabulary-free featurization
    // that stands in for a model encoder in this container (and IS the
    // production baseline for cheap similarity/classification features).
    // One narrow codegen pass + one hash aggregate; the (doc, dim) grid
    // left-join zero-fills absent buckets so every doc emits exactly 16
    // components. Restricted to doc_id < 50 to keep the gate's output
    // row-bounded (50 docs × 16 dims).
    "l36_feature_hash" -> { (s, d) =>
      val dd = docs(s, d).filter(col("doc_id") < 50)
      val comp = dd
        .select(col("doc_id"), explode(TextFunctions.tokens("text")).as("tok"))
        .withColumn("h", TextFunctions.tokenHash("tok"))
        .select(col("doc_id"), (col("h") % 16).as("dim"),
                when(expr("(h div 16) % 2") === 1, 1L).otherwise(-1L).as("sgn"))
        .groupBy("doc_id", "dim").agg(sum(col("sgn")).as("v"))
      dd.select(col("doc_id"),
                explode(sequence(lit(0L), lit(15L))).as("dim"))
        .join(comp, Seq("doc_id", "dim"), "left")
        .select(col("doc_id"), col("dim"), coalesce(col("v"), lit(0L)).as("v"))
        .orderBy("doc_id", "dim")
    },

    // L37 — character-level edit distance (Levenshtein): every document
    // scored against its language's canonical (min doc_id) document —
    // the fuzzy-match verifier the shingle family can't express (Jaccard
    // sees SET overlap; edit distance sees ORDERED character agreement,
    // the right lens for templated/boilerplate variants and OCR noise).
    // Both probes are ASCII-sanitized first ([^ -~] stripped) so the
    // char-based Spark metric and the byte-based DuckDB one agree by
    // construction, and capped at 64 chars — the O(len²) DP cell count
    // is bounded per row, so the pass stays a linear scan at any corpus
    // size. Canonical probes ride a per-lang BROADCAST dim (5 rows).
    "l37_edit_distance" -> { (s, d) =>
      val base = docs(s, d).select(col("doc_id"), col("lang"),
        substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 64)
          .as("probe"))
      val canon = base.groupBy(col("lang")).agg(min(col("doc_id")).as("cid"))
        .join(base.select(col("doc_id").as("cid"),
                          col("probe").as("canon_probe")), "cid")
        .select("lang", "canon_probe")
      base.join(broadcast(canon), "lang")
        .select(col("lang"),
                levenshtein(col("probe"), col("canon_probe")).cast("long")
                  .as("dist"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             max(col("dist")).as("max_dist"),
             sum(col("dist")).as("sum_dist"),
             expr("count_if(dist <= 16)").as("n_close"))
        .orderBy("lang")
    },

    // L42 — clipped n-gram precision (the BLEU-1 primitive, Papineni et
    // al. 2002): each doc scored against its language's canonical doc by
    // MULTISET overlap — Σ_t min(c_doc(t), c_ref(t)) / |doc tokens| —
    // the count-clipping that distinguishes the eval-metric family from
    // l39's set algebra (a doc repeating one reference word 100× gets
    // set-coverage 1.0 but clipped precision c_ref/100). Reference
    // counts are one doc's vocabulary per language — a broadcast dim at
    // any corpus size; the heavy side is one (doc, token) hash aggregate.
    "l42_clipped_precision" -> { (s, d) =>
      val toks = docs(s, d).select(col("doc_id"), col("lang"),
          explode(TextFunctions.tokens("text")).as("token"))
        .groupBy(col("doc_id"), col("lang"), col("token"))
        .agg(count(lit(1)).as("c"))
      val canon = docs(s, d).groupBy(col("lang")).agg(min(col("doc_id")).as("cid"))
      val ref = toks.join(canon, toks("doc_id") === canon("cid") &&
                                 toks("lang") === canon("lang"))
        .select(toks("lang"), col("token"), col("c").as("cref"))
      toks.join(broadcast(ref), Seq("lang", "token"), "left")
        .select(col("doc_id"), col("lang"), col("c"),
                least(col("c"), coalesce(col("cref"), lit(0L))).as("clipped"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
             sum(col("clipped")).as("sum_clipped"),
             sum(col("c")).as("sum_tokens"),
             graft.Q.round4Ratio(sum(col("clipped")), sum(col("c")))
               .as("avg_precision"))
        .orderBy("lang")
    },

    // L43 — INTRA-document repetition filter (the Gopher/MassiveText
    // "repetition" quality gate, Rae et al. 2021 §A1.1): fraction of word
    // trigram occurrences inside one document that are repeats of an
    // earlier trigram in the SAME document. Complements l29/l35 (corpus-
    // and window-level duplication) with the within-doc axis — degenerate
    // boilerplate and keyboard-mash documents repeat themselves long
    // before they collide with the rest of the corpus. Dataflow: the
    // trigram explode is per-document (no cross-doc join at all), the
    // (doc, gram) count is one hash aggregate keyed by doc — at 100 TB
    // this is embarrassingly parallel, shuffle bounded by distinct grams
    // per doc. Flag threshold: > 20% repeated occurrences (n_rep·5 >
    // n_grams, integer-exact). Docs under 3 tokens have no trigrams and
    // are excluded (both engines identically).
    "l43_intra_doc_repetition" -> ((s, d) =>
      TextAnalysis.intraDocRepetition(docs(s, d))),

    // L49 — corpus-composition independence report: every (source, lang)
    // cell's observed count against the independence expectation
    // row·col/N, exported as the signed relative deviation
    // (obs·N − row·col)/(row·col) in exact half-up ROUND(4) — the
    // chi-square contingency residual's ratio core, kept transcendental-
    // free. This is the mixture-drift diagnostic a curation pipeline
    // watches across ingest batches: a cell far from 0 means a source's
    // language mix shifted (scraper drift, a feed gone monolingual) —
    // the composition axis l44/l45 rebalance but don't MONITOR.
    // Dataflow: three tiny aggregates (cells, row margins, col margins)
    // + broadcast joins — margins are dimension-sized at any corpus.
    "l49_mix_independence" -> { (s, d) =>
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val dd = docs(s, d)
      val cells = dd.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("obs"))
      val rowM = dd.groupBy(col("source")).agg(count(lit(1)).as("rn"))
      val colM = dd.groupBy(col("lang")).agg(count(lit(1)).as("cn"))
      val total = dd.agg(count(lit(1)).as("n"))
      cells
        .join(broadcast(rowM), "source")
        .join(broadcast(colM), "lang")
        .crossJoin(broadcast(total))
        .select(col("source"), col("lang"), col("obs"), col("rn"), col("cn"),
          graft.Q.round4RatioSigned(
            dec(col("obs")) * dec(col("n")) - dec(col("rn")) * dec(col("cn")),
            dec(col("rn")) * dec(col("cn"))).as("deviation"))
        .orderBy("source", "lang")
    },

    // L48 — n-gram NOVELTY under accretive ingest (the gram-granular
    // memorization lens of Lee et al. 2022's dedup-eval: how much of a
    // document is text the corpus has already seen?): a doc's distinct
    // word 5-grams are NOVEL if no lower-doc_id document contains them
    // (doc_id = arrival order); per-source rollup of the novelty fraction
    // plus a mostly-copied flag count (novelty < ½ — integer compare).
    // l23 classifies whole DOCS against a base index; this measures the
    // internal fraction, catching stitched/quilted documents exact and
    // near dedup both miss. Dataflow: one (gram → min doc_id) aggregate +
    // one gram-keyed join back — the l29 document-frequency shape, no
    // all-to-all, shuffle bounded by distinct grams.
    "l48_ngram_novelty" -> ((s, d) =>
      TextAnalysis.ngramNovelty(docs(s, d))),

    // L47 — collocation extraction by LIFT (PMI's ratio core without the
    // log — exp is monotone, so ranking by lift ≡ ranking by PMI, and the
    // transcendental that is not cross-engine-deterministic never enters):
    // lift(a b) = P(ab)/(P(a)·P(b)) with P(ab) over the bigram space and
    // P(·) over the token space, scaled to an exact integer
    // ⌊10⁴·cab·n1²/(n2·ca·cb)⌋ in DECIMAL(38) arithmetic (the cab·n1²
    // product overflows LONG at corpus scale — lifted BEFORE the
    // multiply). Support floor cab ≥ 5 kills the hapax-pair noise PMI is
    // notorious for; top-10 by (lift desc, bigram) via
    // TakeOrderedAndProject. The tokenizer/phrase-mining primitive
    // (word2vec's phrase pass, quality-signal "glued words" detection).
    // Dataflow: two counting aggregates + one broadcast-scalar frame +
    // two joins keyed on the bigram's words — no all-to-all.
    "l47_collocation_lift" -> { (s, d) =>
      // Spread before the explodes (guide §2.5, Tables.spread scaladoc) —
      // all four explode branches share the one repartition (ReuseExchange).
      val dd = Tables.spread(docs(s, d))
      val uni = dd.select(explode(TextFunctions.tokens("text")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
      val big = dd.select(explode(TextFunctions.wordNgrams("text", 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 5)
      val totals = dd.select(
          explode(TextFunctions.tokens("text")).as("tok"))
        .agg(count(lit(1)).as("n1"))
        .crossJoin(dd.select(
            explode(TextFunctions.wordNgrams("text", 2)).as("b"))
          .agg(count(lit(1)).as("n2")))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      big
        .withColumn("wa", split(col("bigram"), " ").getItem(0))
        .withColumn("wb", split(col("bigram"), " ").getItem(1))
        .join(uni.select(col("tok").as("wa"), col("cu").as("ca")), "wa")
        .join(uni.select(col("tok").as("wb"), col("cu").as("cb")), "wb")
        .crossJoin(broadcast(totals))
        .select(col("bigram"), col("cab"), col("ca"), col("cb"),
          graft.Q.intDiv(
            dec(col("cab")) * dec(col("n1")) * dec(col("n1")) * 10000L,
            dec(col("n2")) * dec(col("ca")) * dec(col("cb"))).as("lift"))
        .orderBy(col("lift").desc, col("bigram").asc)
        .limit(10)
    },

    // L46 — per-language quality TERTILES over the l34 bigram-LM score
    // (the CCNet split, Wenzek et al. 2020: rank every document by LM
    // perplexity against a reference model, cut each language into
    // head/middle/tail thirds, train on the head). The l34 score is
    // already integer-exact and hash-gated; this gate adds the RANKED
    // BUCKETING curation actually ships — ntile(3) over the (score desc,
    // doc_id) total order, per-language — and rolls up each bucket's doc
    // and char mass plus its score boundaries. ntile sizes are
    // ANSI-determined (first n mod 3 buckets take ⌈n/3⌉ rows),
    // engine-independent given the total order. Round 13: `ntile` over a
    // per-lang window puts a whole language in one task (the data-sized-
    // partition scale-killer l52 names); the rank now comes from the
    // grouped two-pass prefix sum (rank = 1 + running count of ones) and
    // the bucket from the closed-form ANSI formula on (rank, n_lang) —
    // n_lang is a G-row broadcast.
    "l46_perplexity_buckets" -> { (s, d) =>
      val scored = lmScore(docs(s, d))
      // Round 14: OrderOps no longer checkpoints, so the scored doc table
      // — the expensive shared upstream (the lmScore pipeline), consumed
      // by the rank passes, the boundary sampler, and the G-row language-
      // size broadcast — is PERSISTED across its consumers (lineage
      // retained: a lost block recomputes, unlike a localCheckpoint) and
      // the TINY (lang, bucket) rollup is materialized before unpersist —
      // the repo's standard shared-frame pattern (DedupOps.materialize).
      // At 100 TB the cached frame is the 4-column doc-level score table,
      // not the corpus. Null-safe join keys match the grouped-sum
      // contract (a NULL lang is its own group, as in the window
      // formulation).
      val base = docs(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .join(scored, "doc_id")
        .persist()
      try {
        val ranked = OrderOps.groupedRunningSum(base, Seq("lang"),
            Seq(col("lm_score").desc, col("doc_id").asc), lit(1L))
          .withColumn("rnk", col("cum_before") + 1L)
        val nLang = base.groupBy(col("lang"))
          .agg(count(lit(1)).as("nl"))
          .withColumnRenamed("lang", "_nlang")
        // ANSI NTILE(3): q = n div 3, rem = n mod 3; the first rem buckets
        // hold q+1 rows. Integer ceil a/b = (a + b − 1) div b; the else
        // branch needs q ≥ 1, and is unreachable when q = 0 because then
        // rem·(q+1) = n ≥ rnk.
        val q = expr("nl div 3"); val rem = expr("nl % 3")
        ranked.join(broadcast(nLang), col("lang") <=> col("_nlang"))
          .drop("_nlang")
          .withColumn("bucket",
            when(col("rnk") <= rem * (q + 1L),
                 Q.intDiv(col("rnk") + q, q + 1L))
            .otherwise(rem +
              Q.intDiv(col("rnk") - rem * (q + 1L) + q - 1L, q)))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_chars")).as("sum_chars"),
               max(col("lm_score")).as("max_score"),
               min(col("lm_score")).as("min_score"))
          .orderBy("lang", "bucket")
          .localCheckpoint(true) // 3G rows — cheap at any corpus scale
      } finally base.unpersist(blocking = false)
    },

    // L45 — hashed-feature importance resampling (the DSIR shape, Xie et
    // al. 2023): score every document by how much its token distribution
    // resembles a TARGET subset relative to the raw corpus, then keep the
    // top fifth per language. Where l44 rebalances BETWEEN strata by
    // counts alone, l45 selects WITHIN them by content. Feature space is
    // the l36 hashing trick (polynomial token hash mod 256 buckets —
    // vocabulary-free, so the weight table is a FIXED 256 rows at any
    // corpus size); per-bucket importance is the scaled frequency ratio
    // w[b] = ⌊10⁴·(ct[b]·Nr)/(cr[b]·Nt)⌋ in exact DECIMAL-lifted integer
    // arithmetic (DSIR's log-likelihood-ratio sum is replaced by a ratio
    // sum: transcendental ln is not cross-engine-deterministic, and
    // ranking only needs monotone per-bucket weights). Dataflow at 100
    // TB: two bucket aggregates (256 groups), one broadcast of 256
    // weights, one per-doc sum, one per-lang top-k window — no
    // all-to-all anywhere. The target here is a deterministic seed
    // subset (doc_id ≡ 0 mod 10) standing in for a curated corpus.
    "l45_importance_resample" -> ((s, d) =>
      TextAnalysis.importanceResample(docs(s, d))),

    // L44 — temperature-scaled mixture sampling (the multilingual/multi-
    // source rebalancing rule of mBERT/XLM-R and every pretraining data
    // recipe since: sample source s with probability ∝ n_s^α, α = 1/2).
    // Where l21 applies HAND-PICKED per-stratum rates, l44 DERIVES them
    // from the corpus itself: keep-rate_s = √(min_n / n_s), which
    // down-samples over-represented languages toward the α-tempered
    // distribution while keeping the rarest whole. Rates are computed on
    // a per-lang count frame (5 rows), broadcast back onto the corpus —
    // zero extra shuffle at any scale. Determinism: the rate is
    // floor(1000·√(min/n)) — divide, sqrt, multiply are each IEEE
    // correctly-rounded on both engines in the same order — and the
    // per-doc keep decision reuses the l21 multiplicative-hash gate.
    "l44_mixture_sample" -> { (s, d) =>
      val counts = docs(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_lang"))
      val minN = counts.agg(min(col("n_lang")).as("min_n"))
      val rates = counts.crossJoin(broadcast(minN))
        .select(col("lang"),
          floor(lit(1000.0) *
            sqrt(col("min_n").cast("double") / col("n_lang").cast("double")))
            .as("rate_permille"))
      val h = (col("doc_id") % 999983L) * 2246822519L % 1000L
      docs(s, d)
        .join(broadcast(rates), Seq("lang"))
        .withColumn("keep", h < col("rate_permille"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
             min(col("rate_permille")).as("rate_permille"),
             sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
             sum(when(col("keep"), col("n_chars"))).as("chars_kept"))
        .orderBy("lang")
    },

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
    "l40_kmeans" -> { (s, d) =>
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
    "l41_semdedup" -> { (s, d) =>
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

    // L38 — lexical diversity per language: type-token ratio and hapax
    // share, the corpus-health diagnostics (a repetitive/boilerplate
    // slice shows low TTR; a noisy one shows a hapax spike) standard in
    // corpus linguistics reports. Same whitespace tokenization as L3 (one
    // declared convention); two hash aggregates — (lang, token) counts,
    // then per-lang rollup — so the heavy first shuffle carries partial
    // counts, never raw tokens; ratios via the shared integer half-up
    // ROUND.
    "l38_lexical_diversity" -> { (s, d) =>
      docs(s, d)
        .select(col("lang"), explode(TextFunctions.tokens("text")).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("c"))
        .groupBy(col("lang"))
        .agg(sum(col("c")).as("n_tokens"),
             count(lit(1)).as("n_distinct"),
             expr("count_if(c = 1)").as("n_hapax"))
        .select(col("lang"), col("n_tokens"), col("n_distinct"), col("n_hapax"),
                graft.Q.round4Ratio(col("n_distinct"), col("n_tokens")).as("ttr"),
                graft.Q.round4Ratio(col("n_hapax"), col("n_distinct")).as("hapax_ratio"))
        .orderBy("lang")
    },

    // L39 — vocabulary overlap via ARRAY SET ALGEBRA: each doc's distinct
    // token set against its language's canonical (min doc_id) doc —
    // array_intersect / array_except / array_union / array_distinct, the
    // no-UDF set operations l18's numeric lambdas never touch. Exported
    // as SET CARDINALITIES, which are element-order-independent, so the
    // gate needs no array-ordering convention at all; the oracle replays
    // the sizes relationally (distinct-token join). The shape is the
    // vocabulary-coverage diagnostic of corpus curation: how much of each
    // doc's vocabulary is already in the canonical sample. Canonical sets
    // ride a 5-row broadcast dim; the scan stays one pass.
    "l39_vocab_overlap" -> { (s, d) =>
      val toks = docs(s, d).select(col("doc_id"), col("lang"),
        array_distinct(TextFunctions.tokens("text")).as("ts"))
      val canon = toks.groupBy(col("lang")).agg(min(col("doc_id")).as("cid"))
        .join(toks.select(col("doc_id").as("cid"), col("ts").as("cs")), "cid")
        .select("lang", "cs")
      toks.join(broadcast(canon), "lang")
        .select(col("lang"),
          size(col("ts")).cast("long").as("nd"),
          size(array_intersect(col("ts"), col("cs"))).cast("long").as("ni"),
          size(array_except(col("ts"), col("cs"))).cast("long").as("ne"),
          size(array_union(col("ts"), col("cs"))).cast("long").as("nu"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("ni")).as("sum_int"),
             sum(col("ne")).as("sum_except"),
             sum(col("nu")).as("sum_union"),
             graft.Q.round4Ratio(sum(col("ni")), sum(col("nd")))
               .as("coverage"))
        .orderBy("lang")
    },

    // L24 — the L22 bigram counts through the engine's custom Catalyst
    // GENERATOR (`word_ngrams`, a native UDTF registered via
    // SparkSessionExtensions) on the SQL route: the generator resolves in
    // the parser, plans as a `Generate` node (the operator `explode`
    // rides), and streams n-gram rows without materializing the per-doc
    // array the transform+explode formulation allocates. Same oracle as
    // L22 — two formulations, one declared semantics.
    "l24_generator_ngrams" -> ((s, d) => graft.Engine.sql(s, d,
      """WITH bi AS (SELECT lang, word_ngrams(text, 2) AS bigram FROM documents),
        |c AS (SELECT lang, bigram, COUNT(*) AS cnt FROM bi GROUP BY 1, 2),
        |r AS (SELECT lang, bigram, cnt,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |                                ORDER BY cnt DESC, bigram ASC) AS BIGINT) AS rnk
        |      FROM c)
        |SELECT lang, rnk, bigram, cnt FROM r WHERE rnk <= 10
        |ORDER BY lang, rnk""".stripMargin)),

    // L21 — stratified corpus rebalancing: per-language keep rates (the
    // over-represented language downsampled hard, long-tail kept whole)
    // applied via a DETERMINISTIC multiplicative hash — the curation twin
    // of `sampleBy`, but reproducible across runs, engines, and cluster
    // widths, which seeded-RNG sampling is not. Rates live in a tiny dim
    // BROADCAST onto the fact (zero shuffle for the join); a language
    // absent from the dim defaults to keep-all via LEFT join + coalesce —
    // the fail-open posture a curation pass wants for newly appearing
    // languages. Hash constants differ from L15's so the sample is
    // independent of the train/val/test split. One broadcast join + one
    // hash aggregate, no pre-count pass: kept/total ride the same scan.
    "l21_stratified_sample" -> { (s, d) =>
      import s.implicits._
      val rates = Seq(("en", 250L), ("de", 600L), ("es", 800L), ("fr", 800L))
        .toDF("lang", "rate")   // zh intentionally absent -> default 1000
      val h = (col("doc_id") % 999983L) * 2246822519L % 1000L
      docs(s, d)
        .join(broadcast(rates), Seq("lang"), "left")
        .withColumn("keep", h < coalesce(col("rate"), lit(1000L)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
             sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
             sum(when(col("keep"), col("n_chars"))).as("chars_kept"))
        .orderBy("lang")
    },

    // L17 — distinctive terms per lang: TF-IDF-shaped scoring with
    // integer-exact inverse document frequency (score = tf · ⌊N·10^6/df⌋;
    // log-free so both engines compute bit-identical longs — for fixed tf
    // the ordering equals log-idf's, log being monotone). Two hash
    // aggregates + a broadcast scalar + top-5 window: the shape of every
    // "what characterizes this slice" corpus diagnostic.
    "l17_tfidf" -> { (s, d) =>
      val dd = docs(s, d)
      val n = dd.select(countDistinct(col("doc_id")).as("nn"))
      val tf = dd.select(col("lang"), col("doc_id"),
          explode(TextFunctions.tokens("text")).as("token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df_lang"))
      val df = tf.groupBy(col("token"))
        .agg(sum(col("df_lang")).as("df"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("score").desc, col("token").asc)
      tf.join(df, "token").crossJoin(broadcast(n))
        .withColumn("score", col("tf") * Q.intDiv(col("nn") * 1000000L, col("df")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("lang"), col("rnk"), col("token"), col("tf"), col("score"))
        .orderBy("lang", "rnk")
    },

    // L18 — array higher-order functions over the embedding column
    // (filter/transform/aggregate — codegen'd builtins, the no-UDF way to
    // compute per-vector features): positive-component count and max
    // absolute component, aggregated per label. Comparisons and abs are
    // exact on float-origin doubles, so no rounding convention is needed
    // beyond the avg ratio.
    "l18_array_hof" -> { (s, d) =>
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

    // L11 — rolling-hash document fingerprint (min 8-char-window
    // polynomial hash): winnowing-style content fingerprint, one narrow
    // codegen'd pass.
    "l11_fingerprint" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          TextFunctions.rollingFingerprint("text").as("fingerprint"))
        .orderBy("doc_id")),

    // L20 — the embedding gram matrix G = Eᵀ·E (the PCA/covariance
    // precursor every embedding pipeline eventually computes), expressed
    // as the M1 matmul plan over the posexploded COO view: join on the
    // contraction index (vec_id), hash aggregate on (dim_i, dim_j) —
    // upper triangle only, G being symmetric. Exact order-free product
    // arithmetic and the constant-size-shuffle scale shape live in
    // [[SimilarityOps.gramMatrix]]; the output is the half-up 4-decimal
    // value-scale ratio — never a raw DECIMAL (the r5 formatter hazard).
    "l20_embedding_gram" -> ((s, d) =>
      SimilarityOps.gramMatrix(Tables.load(s, d, "embeddings"))
        .orderBy("i", "j")),

    // L19 — the CAPSTONE curation pass, end to end: exact dedup (keep the
    // min doc_id per content hash) → quality filter (L8's keep flag) →
    // deterministic split assignment (L15's multiplicative hash) →
    // per-(lang, split) corpus accounting. This is the actual shape of a
    // training-data pipeline — each stage is an already-gated operator;
    // the gate proves they COMPOSE: two hash aggregates + two doc_id
    // equi-joins + one final aggregate, no operator-boundary
    // rematerialization anywhere.
    "l19_pipeline" -> { (s, d) =>
      val base = docs(s, d)
      val survivors = base.join(
        DedupOps.exactDedup(base).select(col("keep_doc_id").as("doc_id")),
        "doc_id")
      val quality = TextAnalysis.qualityScore(survivors)
        .filter(col("keep"))
        .select(col("doc_id"), col("n_tokens"))
      val h = (col("doc_id") % 1000003L) * 2654435761L % 1000L
      survivors.select(col("doc_id"), col("lang"), col("n_chars"))
        .join(quality, "doc_id")
        .withColumn("split",
          when(h < 800, "train").when(h < 900, "val").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens")).as("total_tokens"),
             Q.avgInt4(col("n_chars")).as("avg_chars"))
        .orderBy("lang", "split")
    }
  )

  /** DuckDB list-lambda fragment: Σ a[i]·b[i] folded in index order 1..64 —
    * mirrors [[graft.functions.VectorFunctions.dot]]'s zip_with+aggregate
    * fold bit-for-bit (same products, same addition order, 0.0 init).
    */
  /** Shared L22/L24 bigram-count replay (top-10 per lang, lexicographic
    * tie-break).
    */
  private val duckBigrams =
    """WITH toks AS (
      |  SELECT lang, list_filter(string_split(text, ' '), t -> t != '') AS tk
      |  FROM documents),
      |bi AS (
      |  SELECT lang,
      |    unnest(list_transform(range(1, len(tk)),
      |                          i -> tk[i] || ' ' || tk[i+1])) AS bigram
      |  FROM toks),
      |c AS (SELECT lang, bigram, COUNT(*) AS cnt FROM bi GROUP BY 1, 2),
      |r AS (SELECT lang, bigram, cnt,
      |        ROW_NUMBER() OVER (PARTITION BY lang
      |                           ORDER BY cnt DESC, bigram ASC) AS rnk
      |      FROM c)
      |SELECT lang, rnk, bigram, cnt FROM r WHERE rnk <= 10
      |ORDER BY lang, rnk""".stripMargin

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

  /** One BPE learn round of the l53/l56 oracle replay — pair explode,
    * frequency aggregate, (cnt DESC, a, b) argmax, and optionally the
    * next round's merged sequence table — as one template, so the learn
    * chains of the two gates cannot silently diverge (r14 self-review).
    * `withCnt` keeps the count column in bR (l53 reports it); `fallback`
    * substitutes a NO-OP merge (chr(31), chr(31) — the sentinel can never
    * be a symbol, so its replace never matches) when no pair exists, which
    * keeps l56's downstream cross-join apply chain populated on an
    * exhausted learn, matching the Spark side's early-exit behavior.
    * Returns margin-stripped text ending in a comma iff `emitNext`.
    */
  private def duckBpeRound(r: Int, withCnt: Boolean, fallback: Boolean,
                           emitNext: Boolean): String = {
    val cnt = if (withCnt) ", cnt" else ""
    val b =
      if (fallback)
        s"""b$r AS (SELECT a, b$cnt FROM (SELECT a, b$cnt FROM p$r
           |            ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)
           |       UNION ALL
           |       SELECT chr(31), chr(31)${if (withCnt) ", 0" else ""}
           |       WHERE NOT EXISTS (SELECT 1 FROM p$r))""".stripMargin
      else
        s"b$r AS (SELECT a, b$cnt FROM p$r ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)"
    val next =
      if (emitNext)
        s""",
           |s${r + 1} AS (SELECT replace(seq,
           |                chr(31)||a||chr(31)||chr(31)||b||chr(31),
           |                chr(31)||a||b||chr(31)) AS seq, freq FROM s$r, b$r),""".stripMargin
      else ""
    s"""l$r AS (SELECT string_split(trim(seq, chr(31)), chr(31) || chr(31)) AS l,
       |              freq FROM s$r),
       |p$r AS (SELECT p.a AS a, p.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt
       |       FROM (SELECT unnest(list_transform(range(1, len(l)),
       |                      i -> {'a': l[i], 'b': l[i+1]})) AS p, freq
       |             FROM l$r)
       |       GROUP BY 1, 2),
       |$b""".stripMargin + next
  }

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

  /** Shingle/token expansion shared by the L2/L3/L7 oracles. */
  private val duckShingles =
    """sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, length(text) - 1),
      |                            i -> substring(text, i, 3))) AS sh
      |    FROM documents WHERE length(text) >= 3))""".stripMargin

  val oracles: Map[String, String] = baseOracles ++ Map(
    // The l64 artifact family is hash-gated IDENTICAL to its from-scratch
    // twins: staging the pair engine's output as a Parquet artifact must
    // be a pure refactor of the dataflow — same verified pairs, same
    // components, same keeper election, same calibration rows — so each
    // derived gate reuses its twin's oracle verbatim (l64 ↔ l2,
    // l64b ↔ l50, l64c ↔ l61, l64d ↔ l57). A divergence anywhere in the
    // artifact write/read cycle hash-fails the derived gate while the
    // twin still passes — exactly the regression surface staging needs.
    "l64_match_artifact" -> baseOracles("l2_near_dup"),
    "l64b_artifact_survivorship" -> baseOracles("l50_survivorship"),
    "l64c_artifact_source_overlap" -> baseOracles("l61_source_overlap"),
    "l64d_artifact_calibration" -> baseOracles("l57_minhash_calibration"))

  private lazy val baseOracles: Map[String, String] = Map(

    "l1_exact_dedup" ->
      """SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
        |       COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // Quadratic containment replay: shared-shingle pair counts, contained
    // side's size in the denominator, smaller-into-larger orientation.
    // Same planting, same patterns (RE2-compatible), same replacement
    // tokens — counts via regexp_extract_all, bytes via sha256.
    "l28_redact" ->
      """WITH r AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 5 = 0
        |          THEN ' contact user' || CAST(doc_id AS VARCHAR)
        |               || '@example.com or 555-01'
        |               || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        |          ELSE '' END) AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  sha256(regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_sha
        |FROM r ORDER BY doc_id""".stripMargin,

    // Same empty-token filter and 5-gram windows as the Spark side;
    // benchmark = distinct grams of doc_id < 10.
    "l32_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t != '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(tk) - 3),
        |      i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS gram
        |  FROM toks),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10),
        |hits AS (
        |  SELECT doc_id, COUNT(DISTINCT c.gram) AS n_hit_grams,
        |    COUNT(*) AS n_hits
        |  FROM g c JOIN bench b ON c.gram = b.gram
        |  WHERE c.doc_id >= 10 GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(CASE WHEN len(tk) >= 5 THEN len(tk) - 4 ELSE 0 END AS BIGINT)
        |    AS n_grams,
        |  CAST(COALESCE(n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
        |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
        |  CASE WHEN COALESCE(n_hits, 0) > 0 THEN 'flagged'
        |       ELSE 'clean' END AS status
        |FROM toks t LEFT JOIN hits USING (doc_id)
        |WHERE t.doc_id >= 10 ORDER BY doc_id""".stripMargin,

    // Replays the window arithmetic: starts at 1 + 80i, width 100; the
    // chunk count is ⌊(len−1)/80⌋ + 1.
    "l30_chunks" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(length(substring(text, CAST(1 + 80*i AS INTEGER), 100))
        |       AS BIGINT) AS chunk_len,
        |  sha256(substring(text, CAST(1 + 80*i AS INTEGER), 100)) AS chunk_sha
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(range(0, (length(text) - 1) // 80 + 1)) AS i
        |  FROM documents WHERE length(text) > 0)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // Replays the per-language concat-and-split: running pre-document
    // token count // 512 is the bin id.
    "l31_pack" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT lang, doc_id, n_tok,
        |    COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
        |      AS bin
        |  FROM t)
        |SELECT lang, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same distinct-shingle CTE as the pair queries; df counted over the
    // already-distinct (doc, shingle) rows, ratio via the shared integer
    // half-up ROUND formula.
    "l29_dup_shingle_frac" ->
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
         |FROM per ORDER BY doc_id""".stripMargin,

    // Replays the planted decomposition with chr() code points; DuckDB's
    // nfc_normalize produces the same composed bytes, so sha256 matches.
    "l27_normalize" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'Cafe' || chr(769) || ' '
        |          WHEN doc_id % 3 = 1 THEN 'Zu' || chr(776) || 'rich '
        |          ELSE '' END) || text AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS raw_len,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS norm_len,
        |  sha256(nfc_normalize(raw)) AS norm_sha
        |FROM r ORDER BY doc_id""".stripMargin,

    // Replays knnClassify: the l5 top-k CTE at k=10, neighbor labels
    // joined in, majority vote with the (votes DESC, label ASC) tie-break.
    "l26_knn_classify" ->
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
         |ORDER BY query_id""".stripMargin,

    "l25_containment" ->
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
         |ORDER BY contained_id, container_id""".stripMargin,

    "l2_near_dup" ->
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
         |ORDER BY da, db""".stripMargin,

    // l2b answers the SAME question as l2 (both read the staged pairs),
    // so its oracle is the identical exact all-pairs computation.
    "l2b_minhash_lsh" ->
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
         |ORDER BY da, db""".stripMargin,

    "l3_token_freq" ->
      """WITH toks AS (
        |  SELECT lang,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS token
        |  FROM documents),
        |c AS (SELECT lang, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
        |r AS (SELECT lang, token, cnt,
        |        ROW_NUMBER() OVER (PARTITION BY lang
        |                           ORDER BY cnt DESC, token ASC) AS rnk
        |      FROM c)
        |SELECT lang, rnk, token, cnt FROM r WHERE rnk <= 20
        |ORDER BY lang, rnk""".stripMargin,

    "l4_corpus_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  ${Q.duckRound4Ratio("SUM(n_chars)", "COUNT(n_chars)")} AS avg_chars,
         |  COUNT(DISTINCT source) AS n_sources
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "l5_vector_topk" ->
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
         |ORDER BY query_id, rank""".stripMargin,

    // Replays SimilarityOps.ivfTopK exactly: centroids are vec_id ≡ 0
    // mod 50; every vector joins its nearest centroid (rounded cosine,
    // cid tie-break); queries (vec_id ≤ 9) probe their 2 closest
    // centroids; ranking happens only within probed cells.
    "l5b_ivf_topk" ->
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
         |ORDER BY query_id, rank""".stripMargin,

    // Replays SimilarityOps.pqTopK stage by stage: codebooks = subspace
    // slices of vec_id ≡ 0 mod 50 donors CAPPED at 256 entries
    // (vec_id < 12800 — the round-12 gate contract; a no-op below 12 800
    // vectors); encode = argmin ROUNDED squared L2 (cid tie-break) — the
    // index-order fold matches vec_dot's generated loop; recon = codes
    // rejoined to sub-centroids in subspace order; ADC shortlist of 20 by
    // rounded cosine vs reconstructions; exact re-rank to the top 5.
    "l5c_pq_topk" ->
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
         |ORDER BY query_id, rank""".stripMargin,

    // Replays SimilarityOps.ivfPqTopK: l5b's coarse assignment + probe
    // list composed with l5c's subspace encode + reconstruction; ADC
    // ranking restricted to probed cells via the assigned join; exact
    // re-rank of the 20-row shortlist to the final top 5.
    "l5d_ivfpq_topk" ->
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
         |           FROM embeddings),
         |${duckIvfPqChain("", nprobe = "2", shortlist = "20")}
         |SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // Replays SimilarityOps.ivfPqTopK with codebookEntries = 256: the
    // l5d SQL with both donor sets (coarse cells AND subspace codebooks)
    // capped by vec_id < 50*256 = 12800 — pure arithmetic, so the oracle
    // stays bit-replayable at any corpus size (below 12 800 vectors the
    // predicate is a no-op and l5e ≡ l5d).
    "l5e_ivfpq_fixed256" ->
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
         |           FROM embeddings),
         |${duckIvfPqChain(" AND vec_id < 12800", nprobe = "2", shortlist = "20")}
         |SELECT query_id, rank, neighbor_id, sim FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // Replays BOTH sides of the recall verdict: the l5e fixed-256 IVF-PQ
    // chain at nprobe = 16 / shortlist 80 (production search widths) and
    // brute-force top-5, then counts the intersection over the query set.
    "l5f_ann_recall" ->
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
         |FROM hits""".stripMargin,

    // The scaled-width replay: widths re-derived in SQL as integer
    // range-scan minima — np = LEAST(C, GREATEST(16, smallest p with
    // 25p² ≥ 64C)), smallest f ≥ 16 with 625f² ≥ 32N — exactly the
    // engine's integer rules, then the same four-stage chain at (np, 5f).
    "l5g_ann_recall_scaled" ->
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
         |FROM hits, widths w""".stripMargin,

    // Replays the l5c/l5e encode (fixed-256 donor cap, rounded-L2
    // argmin, cid tie-break) and reconstruction, then the distortion in
    // the SAME ⌊x·2^20⌋ fixed point as the engine — the error sum is an
    // order-free integer, so a drifted codebook, a wrong argmin order,
    // or a lossy reconstruction all hash-fail. Floor-divide mean (`//`),
    // non-negative operands.
    "l5h_pq_distortion" ->
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
        |FROM d GROUP BY label ORDER BY label""".stripMargin,

    "l6_label_centroids" ->
      s"""WITH e AS (
         |  SELECT label,
         |    generate_subscripts(embedding, 1) - 1 AS dim,
         |    CAST(CAST(unnest(embedding) AS DOUBLE) * ${Q.Fp45}.0 AS BIGINT) AS fp
         |  FROM embeddings),
         |s AS (SELECT label, dim, SUM(fp) AS p, COUNT(*) AS n
         |      FROM e GROUP BY 1, 2)
         |SELECT label, dim,
         |  ${Q.duckRound4RatioSigned("p", s"n * ${Q.Fp45}")} AS centroid
         |FROM s ORDER BY label, dim""".stripMargin,

    // The gram replay: same fp45 encoding, HUGEINT product sums, and the
    // shared signed half-up ratio at the 2^90 product scale.
    "l20_embedding_gram" ->
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
         |FROM p ORDER BY i, j""".stripMargin,

    "l7_simhash" ->
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
        |FROM votes GROUP BY 1 ORDER BY 1""".stripMargin,

    "l8_quality_score" ->
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split(text, ' '), t -> t != '') AS toks
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, text,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))),
         |                     (a, b) -> a + b) AS BIGINT) AS tok_chars,
         |    CAST(len(list_filter(toks,
         |          t -> list_contains(['the','a','of','and','to'], t))) AS BIGINT) AS n_stop,
         |    CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT) AS clean_chars
         |  FROM t)
         |SELECT doc_id, n_tokens,
         |  ${Q.duckRound4Ratio("tok_chars", "greatest(n_tokens, 1)")} AS avg_token_len,
         |  ${Q.duckRound4Ratio("n_stop", "greatest(n_tokens, 1)")} AS stopword_ratio,
         |  ${Q.duckRound4Ratio("clean_chars", "greatest(length(text), 1)")} AS alpha_ratio,
         |  (n_tokens BETWEEN 5 AND 1000 AND clean_chars = length(text)) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,

    "l9_lang_id" ->
      """WITH profiles(cand, marker) AS (
        |  VALUES ('en','the'),('en','a'),('en','of'),
        |         ('de','der'),('de','die'),('de','und'),
        |         ('es','el'),('es','la'),('es','de'),
        |         ('fr','le'),('fr','la'),('fr','et')),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id, cand, COUNT(*) AS score
        |  FROM toks JOIN profiles ON tok = marker
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, cand, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rn
        |  FROM scores)
        |SELECT d.doc_id,
        |  COALESCE(b.cand, 'und') AS pred_lang,
        |  CAST(COALESCE(b.score, 0) AS BIGINT) AS score
        |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        |  ON d.doc_id = b.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "l10_cosine_dup" ->
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
         |           FROM embeddings)
         |SELECT x.vec_id AS va, y.vec_id AS vb,
         |       ${duckCosine("x.a", "y.a")} AS sim
         |FROM e x JOIN e y ON x.vec_id < y.vec_id
         |WHERE ${duckCosine("x.a", "y.a")} >= 0.9
         |ORDER BY va, vb""".stripMargin,

    // Reuses the l7 fingerprint CTE, then the exact quadratic pair join
    // the banded Spark plan must reproduce. xor/bit_count on BIGINT are
    // exact in both engines (fingerprints are 16-bit non-negative).
    "l14_simhash_pairs" ->
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
        |ORDER BY da, db""".stripMargin,

    // l14's fingerprint CTEs, then the naive id-ordered 3-way triangle
    // join and per-node role counts — orientation-free, so it checks the
    // degree-ordered Spark plan produces the same triangle set.
    "l33_triangle_count" ->
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
        |FROM cnt ORDER BY n_triangles DESC, doc_id ASC LIMIT 10""".stripMargin,

    // Replays the strided window table (range() is exclusive-stop, so
    // len−62 matches sequence()'s inclusive len−63), the df=1 ownership
    // pass, and the zero-window left join.
    "l35_passage_dup" ->
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
         |ORDER BY d.doc_id""".stripMargin,

    // Replays the l14-family polynomial token hash, the bucket/sign
    // split, and the 16-dim grid zero-fill.
    "l36_feature_hash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
        |  FROM documents WHERE doc_id < 50),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(tok) + 1),
        |                       i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000003) AS h
        |  FROM toks),
        |comp AS (
        |  SELECT doc_id, h % 16 AS dim,
        |    CAST(SUM(CASE WHEN (h // 16) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
        |  FROM h GROUP BY 1, 2),
        |grid AS (
        |  SELECT doc_id, g.range AS dim
        |  FROM documents, range(16) g WHERE doc_id < 50)
        |SELECT grid.doc_id, CAST(grid.dim AS BIGINT) AS dim,
        |  CAST(COALESCE(comp.v, 0) AS BIGINT) AS v
        |FROM grid LEFT JOIN comp
        |  ON grid.doc_id = comp.doc_id AND grid.dim = comp.dim
        |ORDER BY 1, 2""".stripMargin,

    // Replays the self-consistent bigram LM: prefix counts derived from
    // the bigram table, integer transition scores, per-doc multiplicity-
    // weighted average. `//` truncates and intDiv floors — equal on the
    // non-negative operands here.
    "l34_lm_score" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> t != '') AS tk
         |  FROM documents),
         |bi AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(tk)),
         |                          i -> tk[i] || ' ' || tk[i+1])) AS bigram
         |  FROM toks),
         |db AS (SELECT doc_id, bigram, COUNT(*) AS m FROM bi GROUP BY 1, 2),
         |cb AS (SELECT bigram, CAST(SUM(m) AS BIGINT) AS cb FROM db GROUP BY 1),
         |ca AS (
         |  SELECT string_split(bigram, ' ')[1] AS pre, CAST(SUM(cb) AS BIGINT) AS ca
         |  FROM cb GROUP BY 1),
         |sc AS (
         |  SELECT bigram, CAST((cb * 1000000) // ca AS BIGINT) AS sc
         |  FROM cb JOIN ca ON string_split(bigram, ' ')[1] = ca.pre),
         |ds AS (
         |  SELECT db.doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
         |    CAST(SUM(m * sc) AS BIGINT) AS st
         |  FROM db JOIN sc USING (bigram) GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(ds.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
         |  CASE WHEN ds.doc_id IS NULL THEN 0.0
         |       ELSE ${Q.duckRound4Ratio("st", "n_bigrams * 1000000")}
         |  END AS lm_score
         |FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // l14's scheme at 64 bits: four independent polynomial hash lanes
    // (multipliers 31/37/41/43, 16 fingerprint bits each), then the exact
    // quadratic pair join at Hamming ≤ 3. Bit 63 is the BIGINT sign bit —
    // DuckDB refuses the overflowing `1 << 63`, so that term is the
    // explicit MIN_BIGINT literal; xor/bit_count are two's-complement-
    // exact in both engines, so negative fingerprints compare fine.
    "l14b_simhash64_pairs" -> {
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
    },

    // l14's fingerprint CTE → edge list → transitive closure via a
    // recursive CTE (UNION dedups, so it terminates), min reachable id
    // per node = component id. Singletons fall out of the base case.
    // The pair predicate replays l2's exact all-pairs oracle verbatim
    // (the gated engine is hash-equal to it), components are the same
    // transitive-closure reachability as l16's oracle, and the keeper is
    // a per-component window argmax on (n_chars DESC, doc_id ASC).
    "l50_survivorship" ->
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
         |ORDER BY c.doc_id""".stripMargin,

    // l50's chain up to the components, then the source rollup: the
    // ≥2-doc filter on the closure-built components equals the engine's
    // match-graph-only construction (a component has ≥ 2 docs iff its
    // docs appear in some pair).
    "l61_source_overlap" ->
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
         |FROM m ORDER BY 1, 2""".stripMargin,

    // Exact bottom-k replay: distinct spread hashes per language, the
    // k-th smallest via ROW_NUMBER, the same integer (k−1)·M // h_k
    // estimator and cross-multiplied band — the whole sketch state is a
    // set function, so the oracle reproduces it exactly (no r30-style
    // exact-side-only dodge needed).
    "l62_kmv_distinct" ->
      """WITH w AS (
        |  SELECT lang, list_filter(string_split(text, ' '), t -> t != '') AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT lang, unnest(list_transform(range(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM w WHERE len(ws) >= 3),
        |h AS (
        |  SELECT lang,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       list_transform(range(1, length(g) + 1),
        |                      i -> CAST(ascii(substring(g, i, 1)) AS BIGINT))),
        |     (acc, c) -> (acc * 31 + c) % 1000003) * 2654435761) % 2147483647
        |      AS h2
        |  FROM grams),
        |d AS (SELECT DISTINCT lang, h2 FROM h),
        |ex AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS exact_distinct
        |       FROM d GROUP BY 1),
        |bk AS (SELECT lang, h2,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h2) AS rn
        |       FROM d),
        |kth AS (SELECT lang, CAST(MAX(h2) AS BIGINT) AS hk,
        |               CAST(COUNT(*) AS BIGINT) AS m
        |        FROM bk WHERE rn <= 256 GROUP BY 1),
        |est AS (
        |  SELECT k.lang, ex.exact_distinct, k.hk,
        |    CASE WHEN k.m < 256 THEN k.m
        |         ELSE (CAST(255 AS BIGINT) * 2147483647) // k.hk END
        |      AS est_distinct
        |  FROM kth k JOIN ex ON k.lang = ex.lang)
        |SELECT lang, exact_distinct, hk, est_distinct,
        |  100 * abs(est_distinct - exact_distinct) <= 25 * exact_distinct
        |    AS within_band
        |FROM est ORDER BY lang""".stripMargin,

    // Exact replay of the sketch ALGEBRA: per-language bottom-256, the
    // pairwise union sketch as the bottom-256 of the two sketch sets,
    // |S∪ ∩ Sa ∩ Sb|, and the same integer estimators and bands. The
    // unsaturated branch (size < k ⇒ sketches are exact) mirrors the
    // engine's CASE.
    "l63_kmv_setops" ->
      """WITH w AS (
        |  SELECT lang, list_filter(string_split(text, ' '), t -> t != '') AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT lang, unnest(list_transform(range(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM w WHERE len(ws) >= 3),
        |h AS (
        |  SELECT lang,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       list_transform(range(1, length(g) + 1),
        |                      i -> CAST(ascii(substring(g, i, 1)) AS BIGINT))),
        |     (acc, c) -> (acc * 31 + c) % 1000003) * 2654435761) % 2147483647
        |      AS h2
        |  FROM grams),
        |d AS (SELECT DISTINCT lang, h2 FROM h),
        |ex AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd FROM d GROUP BY 1),
        |bk AS (SELECT lang, h2,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h2) AS rn
        |       FROM d),
        |sk AS (SELECT lang, h2 FROM bk WHERE rn <= 256),
        |ix AS (SELECT x.lang AS lang_a, y.lang AS lang_b,
        |         CAST(COUNT(*) AS BIGINT) AS exact_inter
        |       FROM d x JOIN d y ON x.h2 = y.h2 AND x.lang < y.lang
        |       GROUP BY 1, 2),
        |pr AS (SELECT a.lang AS lang_a, a.nd AS na, b.lang AS lang_b,
        |              b.nd AS nb
        |       FROM ex a JOIN ex b ON a.lang < b.lang),
        |mem AS (SELECT DISTINCT p.lang_a, p.lang_b, s.h2
        |        FROM pr p JOIN sk s ON s.lang = p.lang_a OR s.lang = p.lang_b),
        |mu AS (SELECT lang_a, lang_b, h2,
        |         ROW_NUMBER() OVER (PARTITION BY lang_a, lang_b
        |                            ORDER BY h2) AS rn
        |       FROM mem),
        |musz AS (SELECT lang_a, lang_b, CAST(COUNT(*) AS BIGINT) AS m,
        |                CAST(MAX(h2) AS BIGINT) AS hk
        |         FROM mu WHERE rn <= 256 GROUP BY 1, 2),
        |kb AS (SELECT u.lang_a, u.lang_b, CAST(COUNT(*) AS BIGINT) AS k_both
        |       FROM mu u
        |       JOIN sk sa ON sa.lang = u.lang_a AND sa.h2 = u.h2
        |       JOIN sk sb ON sb.lang = u.lang_b AND sb.h2 = u.h2
        |       WHERE u.rn <= 256 GROUP BY 1, 2),
        |est AS (
        |  SELECT p.lang_a, p.lang_b,
        |    p.na + p.nb - COALESCE(ix.exact_inter, 0) AS exact_union,
        |    COALESCE(ix.exact_inter, 0) AS exact_inter,
        |    CASE WHEN z.m < 256 THEN z.m
        |         ELSE (CAST(255 AS BIGINT) * 2147483647) // z.hk END
        |      AS est_union,
        |    COALESCE(kb.k_both, 0) AS k_both, z.m
        |  FROM pr p
        |  JOIN musz z ON z.lang_a = p.lang_a AND z.lang_b = p.lang_b
        |  LEFT JOIN ix ON ix.lang_a = p.lang_a AND ix.lang_b = p.lang_b
        |  LEFT JOIN kb ON kb.lang_a = p.lang_a AND kb.lang_b = p.lang_b),
        |fin AS (
        |  SELECT lang_a, lang_b, exact_union, exact_inter, est_union,
        |    CASE WHEN m < 256 THEN k_both
        |         ELSE k_both * est_union // 256 END AS est_inter
        |  FROM est)
        |SELECT lang_a, lang_b, exact_union, exact_inter, est_union,
        |  est_inter,
        |  100 * abs(est_union - exact_union) <= 25 * exact_union
        |    AS union_in_band,
        |  100 * abs(est_inter - exact_inter) <= 15 * exact_union
        |    AS inter_in_band
        |FROM fin ORDER BY lang_a, lang_b""".stripMargin,

    // The oracle IS the naive single-partition window the engine refuses
    // to run — row_number over the corpus-wide total order; DuckDB's `//`
    // and Spark's `div` agree on non-negative BIGINTs.
    "l51_global_order" ->
      """WITH ranked AS (
        |  SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) - 1
        |         AS BIGINT) AS global_pos
        |  FROM documents)
        |SELECT doc_id, global_pos, global_pos // 64 AS shard_id
        |FROM ranked ORDER BY doc_id""".stripMargin,

    // Arrival-order rank → decile arithmetic → first-occurrence counts →
    // 10-row running sum; the engine's two-pass rank is hash-equal to the
    // oracle's naive ROW_NUMBER by the l51 contract.
    "l55_vocab_growth" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS pos
        |  FROM documents),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |dec AS (SELECT doc_id, (pos * 10) // n AS decile FROM r, n),
        |fs AS (
        |  SELECT tok, MIN(doc_id) AS doc_id FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
        |    FROM documents)
        |  GROUP BY 1),
        |nt AS (SELECT d.decile, CAST(COUNT(*) AS BIGINT) AS n_new_tokens
        |       FROM fs JOIN dec d ON d.doc_id = fs.doc_id GROUP BY 1),
        |docs_d AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs
        |           FROM dec GROUP BY 1)
        |SELECT d.decile, d.n_docs,
        |  COALESCE(nt.n_new_tokens, 0) AS n_new_tokens,
        |  CAST(SUM(COALESCE(nt.n_new_tokens, 0)) OVER (ORDER BY d.decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_vocab
        |FROM docs_d d LEFT JOIN nt ON nt.decile = d.decile
        |ORDER BY d.decile""".stripMargin,

    // Per-doc bigram counts → row_number argmax (the Spark side's
    // min(struct) aggregate is the same (cnt desc, gram asc) pick) →
    // exact half-up ROUND(4) mass ratio → per-source rollup.
    "l54_topgram_mass" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t != '')
         |           AS tk
         |  FROM documents),
         |bi AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(tk)),
         |                          i -> tk[i] || ' ' || tk[i+1])) AS gram
         |  FROM toks),
         |c AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM bi GROUP BY 1, 2),
         |t AS (SELECT doc_id, gram, cnt FROM (
         |        SELECT doc_id, gram, cnt,
         |          ROW_NUMBER() OVER (PARTITION BY doc_id
         |                             ORDER BY cnt DESC, gram ASC) AS rn
         |        FROM c) WHERE rn = 1),
         |f AS (
         |  SELECT d.source,
         |    CASE WHEN t.cnt IS NULL THEN 0.0
         |         ELSE ${graft.Q.duckRound4Ratio("t.cnt * length(t.gram)",
                                                  "d.n_chars")} END AS frac
         |  FROM documents d LEFT JOIN t ON t.doc_id = d.doc_id)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN frac > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  MAX(frac) AS max_frac
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // Replays the 3 merge rounds as chained CTEs: same word-frequency
    // contraction, same sentinel-wrapped sequences (chr(31)), same
    // left-to-right non-overlapping replace = greedy-left merge, same
    // (cnt DESC, a, b) argmax. The inline (?s) keeps '.' newline-safe in
    // both regex engines.
    "l53_bpe_merges" ->
      s"""WITH w0 AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(list_filter(string_split(lower(text), ' '),
         |                              t -> t <> '')) AS word
         |    FROM documents)
         |  WHERE NOT contains(word, chr(31))
         |  GROUP BY 1),
         |s1 AS (SELECT regexp_replace(word, '(?s)(.)',
         |                             chr(31) || '\\1' || chr(31), 'g') AS seq,
         |              freq FROM w0),
         |${duckBpeRound(1, withCnt = true, fallback = false, emitNext = true)}
         |${duckBpeRound(2, withCnt = true, fallback = false, emitNext = true)}
         |${duckBpeRound(3, withCnt = true, fallback = false, emitNext = false)}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, a AS lhs, b AS rhs,
         |         a||b AS merged, cnt AS pair_count FROM b1
         |  UNION ALL SELECT 2, a, b, a||b, cnt FROM b2
         |  UNION ALL SELECT 3, a, b, a||b, cnt FROM b3)
         |ORDER BY round""".stripMargin,

    // Replays l53's 3 learn rounds (corpus-wide word contraction — the
    // per-lang table re-grouped by seq, a word↔seq bijection) then APPLIES
    // the 3 winning merges to the per-language word table with the same
    // left-to-right replace, and rolls up words / base symbols / tokens /
    // distinct post-merge symbols per language. Each bN falls back to a
    // NO-OP merge (chr(31), chr(31)) when no pair exists — the sentinel
    // can never appear as a symbol (sentinel-carrying words are filtered),
    // so the replace never matches and the apply chain stays populated,
    // matching the Spark side's early-exhaustion behavior (merges learned
    // so far applied, stats still emitted) instead of emptying every
    // downstream CTE through the cross join.
    "l56_bpe_apply" ->
      s"""WITH wl AS (
         |  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
         |    SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
         |                                    t -> t <> '')) AS word
         |    FROM documents)
         |  WHERE NOT contains(word, chr(31))
         |  GROUP BY 1, 2),
         |s1 AS (SELECT regexp_replace(word, '(?s)(.)',
         |                             chr(31) || '\\1' || chr(31), 'g') AS seq,
         |              CAST(SUM(freq) AS BIGINT) AS freq
         |       FROM wl GROUP BY 1),
         |${duckBpeRound(1, withCnt = false, fallback = true, emitNext = true)}
         |${duckBpeRound(2, withCnt = false, fallback = true, emitNext = true)}
         |${duckBpeRound(3, withCnt = false, fallback = true, emitNext = false)},
         |a0 AS (SELECT lang,
         |              regexp_replace(word, '(?s)(.)',
         |                             chr(31) || '\\1' || chr(31), 'g') AS seq,
         |              freq FROM wl),
         |n0 AS (SELECT lang, seq, freq,
         |              CAST(len(string_split(trim(seq, chr(31)),
         |                                    chr(31)||chr(31))) AS BIGINT) AS n_pre
         |       FROM a0),
         |a1 AS (SELECT lang, replace(seq,
         |                chr(31)||a||chr(31)||chr(31)||b||chr(31),
         |                chr(31)||a||b||chr(31)) AS seq, freq, n_pre FROM n0, b1),
         |a2 AS (SELECT lang, replace(seq,
         |                chr(31)||a||chr(31)||chr(31)||b||chr(31),
         |                chr(31)||a||b||chr(31)) AS seq, freq, n_pre FROM a1, b2),
         |a3 AS (SELECT lang, replace(seq,
         |                chr(31)||a||chr(31)||chr(31)||b||chr(31),
         |                chr(31)||a||b||chr(31)) AS seq, freq, n_pre FROM a2, b3),
         |e AS (SELECT lang, freq, n_pre,
         |             CAST(len(string_split(trim(seq, chr(31)),
         |                                   chr(31)||chr(31))) AS BIGINT) AS n_post
         |      FROM a3),
         |st AS (SELECT lang, CAST(SUM(freq) AS BIGINT) AS n_words,
         |              CAST(SUM(freq * n_pre) AS BIGINT) AS n_base,
         |              CAST(SUM(freq * n_post) AS BIGINT) AS n_tokens
         |       FROM e GROUP BY 1),
         |v AS (SELECT lang, CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab_size
         |      FROM (SELECT lang, unnest(string_split(trim(seq, chr(31)),
         |                                             chr(31)||chr(31))) AS sym
         |            FROM a3)
         |      GROUP BY 1)
         |SELECT st.lang, n_words, n_base, n_tokens, vocab_size,
         |  ${Q.duckRound4Ratio("n_tokens", "n_base")} AS compression
         |FROM st JOIN v ON st.lang IS NOT DISTINCT FROM v.lang
         |ORDER BY 1""".stripMargin,

    // Replays BOTH sides of the calibration: exact pairs over the rep
    // contraction (quadratic shared-shingle join — the semantic
    // definition, affordable at sf) AND the 64-lane affine MinHash
    // (seed-free lane k: min over codes of ((2k+3)·c + k²+7k+1) mod
    // (2³¹−1)), then the cross-multiplied integer band — so a broken
    // hash family, a wrong lane count, or a drifted estimate all
    // hash-fail.
    "l57_minhash_calibration" ->
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
         |FROM m ORDER BY da, db""".stripMargin,

    // Replays the span-dedup semantics literally: 0-based word-6-gram
    // occurrences, first (doc_id, s) per gram survives (row_number),
    // covered positions = union of [s, s+5] over duplicate occurrences,
    // cleaned text = ordered string_agg of the kept words. A doc whose
    // every position is covered keeps the empty string (matches Spark's
    // array_join over the empty kept array).
    "l65_span_dedup" ->
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
        |ORDER BY t.doc_id""".stripMargin,

    // Verdict shape (r30/l13b): the CMS estimate depends on Spark's hash
    // family, so the oracle replays the EXACT heavy-hitter side — counts,
    // totals, the integer ⌈N/1000⌉ band — and asserts the verdict
    // literally; an out-of-band sketch flips within_band and hash-fails.
    "l58_cms_heavyhitters" ->
      """WITH toks AS (
        |  SELECT lang,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS token
        |  FROM documents),
        |c AS (SELECT lang, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
        |tot AS (SELECT lang, COUNT(*) AS n_tokens FROM toks GROUP BY 1),
        |r AS (SELECT lang, token, cnt,
        |        ROW_NUMBER() OVER (PARTITION BY lang
        |                           ORDER BY cnt DESC, token ASC) AS rnk
        |      FROM c)
        |SELECT r.lang, rnk, token, cnt, n_tokens,
        |  cnt + (n_tokens + 999) // 1000 AS cms_bound,
        |  true AS within_band
        |FROM r JOIN tot ON r.lang = tot.lang
        |WHERE rnk <= 5
        |ORDER BY 1, 2""".stripMargin,

    // Replays the l14 fingerprint + exact pair join, then UNROLLS the five
    // integer damped-rank updates — generated from one template so the
    // iteration arithmetic can never drift between rounds (the r13
    // lockstep-copy lesson). All divisions are integer floors on positive
    // values, so both engines agree bit-for-bit.
    "l59_pagerank" -> {
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
    },

    // Replays the l14 fingerprint + exact pair join, derives k as the
    // integer lower median of degrees (running-sum threshold, no
    // cume_dist doubles), then UNROLLS eight synchronous peel rounds from
    // one template (each round: surviving degree = edges into the
    // previous survivor set; remove < k). Fixpoint at gate scale is round
    // 3, so rounds 4–8 are no-ops — unrolling past convergence is safe
    // because peeling is monotone.
    "l60_kcore" -> {
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
    },

    // The oracle replays the budget fill with the naive per-lang window
    // (affordable at sf); arg_max is tie-free because cum_before is
    // strictly increasing within a language (every doc has ≥1 token).
    "l52_token_budget" ->
      """WITH t AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_tok,
        |    COALESCE(SUM(n_tok) OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM t)
        |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_tok) AS BIGINT) AS tok_kept,
        |  arg_max(doc_id, cum_before) AS last_doc
        |FROM c WHERE cum_before < 2000 GROUP BY 1 ORDER BY 1""".stripMargin,

    "l16_dedup_components" ->
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
        |FROM reach GROUP BY x ORDER BY doc_id""".stripMargin,

    "l15_split_assign" ->
      s"""WITH assigned AS (
         |  SELECT lang, n_chars,
         |    CASE WHEN (doc_id % 1000003) * 2654435761 % 1000 < 800 THEN 'train'
         |         WHEN (doc_id % 1000003) * 2654435761 % 1000 < 900 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT lang, split, COUNT(*) AS n_docs,
         |  ${Q.duckRound4Ratio("SUM(n_chars)", "COUNT(n_chars)")} AS avg_chars
         |FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Replays the incremental classification with the l14 fingerprint
    // machinery (text-grouped exact dedup ≡ sha2 grouping — injective on
    // any real corpus), quadratic cross-side pair scan, left-join status
    // derivation.
    "l23_incremental_dedup" ->
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "l22_bigram_freq" -> duckBigrams,
    // The generator formulation shares L22's oracle — identical contract.
    "l24_generator_ngrams" -> duckBigrams,

    "l21_stratified_sample" ->
      """WITH rates(lang, rate) AS (VALUES ('en', 250), ('de', 600), ('es', 800), ('fr', 800)),
        |k AS (
        |  SELECT d.lang, d.n_chars,
        |    (d.doc_id % 999983) * 2246822519 % 1000 < COALESCE(r.rate, 1000) AS keep
        |  FROM documents d LEFT JOIN rates r ON d.lang = r.lang)
        |SELECT lang, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN keep THEN n_chars END) AS BIGINT) AS chars_kept
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    // The capstone pass replayed stage by stage: dedup keeps MIN(doc_id)
    // per text (sha2 grouping ≡ text grouping — the hash is injective on
    // any real corpus), quality is l8's keep predicate, the split is
    // l15's multiplicative hash. total_tokens is CAST to BIGINT — a naked
    // SUM would come back HUGEINT and fail the driver's hash (r5 lesson,
    // now enforced by check.py's type parity).
    "l19_pipeline" ->
      s"""WITH kept AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
         |surv AS (
         |  SELECT d.doc_id, d.lang, d.n_chars, d.text
         |  FROM documents d JOIN kept ON d.doc_id = kept.doc_id),
         |q AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t != '')) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS BIGINT) AS clean_chars,
         |    CAST(length(text) AS BIGINT) AS text_len
         |  FROM surv),
         |k AS (
         |  SELECT doc_id, n_tokens FROM q
         |  WHERE n_tokens BETWEEN 5 AND 1000 AND clean_chars = text_len),
         |assigned AS (
         |  SELECT s.lang, s.n_chars, k.n_tokens,
         |    CASE WHEN (s.doc_id % 1000003) * 2654435761 % 1000 < 800 THEN 'train'
         |         WHEN (s.doc_id % 1000003) * 2654435761 % 1000 < 900 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM surv s JOIN k ON s.doc_id = k.doc_id)
         |SELECT lang, split, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  ${Q.duckRound4Ratio("SUM(n_chars)", "COUNT(n_chars)")} AS avg_chars
         |FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // tf and df are exact integers; the score uses floor division on
    // positives, where DuckDB's `//` agrees with Spark's DECIMAL intDiv.
    "l17_tfidf" ->
      """WITH toks AS (
        |  SELECT lang, doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT lang, token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS dfl
        |  FROM toks GROUP BY 1, 2),
        |df AS (SELECT token, CAST(SUM(dfl) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS nn FROM documents),
        |scored AS (
        |  SELECT lang, token, tf,
        |    tf * ((nn * 1000000) // df) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |r AS (
        |  SELECT lang, token, tf, score,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |                       ORDER BY score DESC, token ASC) AS rnk
        |  FROM scored)
        |SELECT lang, rnk, token, tf, score FROM r WHERE rnk <= 5
        |ORDER BY lang, rnk""".stripMargin,

    "l18_array_hof" ->
      s"""WITH e AS (
         |  SELECT label,
         |    CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS npos,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
         |  FROM embeddings)
         |SELECT label,
         |  ${Q.duckRound4Ratio("SUM(npos)", "COUNT(npos)")} AS avg_pos,
         |  MAX(maxabs) AS max_abs, COUNT(*) AS n
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "l11_fingerprint" ->
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
        |FROM documents ORDER BY doc_id""".stripMargin,

    "l12_bpe_tokens" ->
      s"""WITH toks AS (
         |  SELECT lang, doc_id,
         |    unnest(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS tok
         |  FROM documents)
         |SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_unique,
         |  ${Q.duckRound4Ratio("COUNT(*)", "COUNT(DISTINCT doc_id)")} AS avg_tokens_per_doc
         |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin,

    "l13_length_quantiles" ->
      """SELECT lang,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5)  AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Set cardinalities replayed relationally: per-doc distinct tokens
    // joined to the canonical doc's distinct tokens; except/union derive
    // from |d|, |c|, |d∩c|.
    "l39_vocab_overlap" ->
      s"""WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS token
        |  FROM documents),
        |td AS (SELECT DISTINCT doc_id, lang, token FROM tok),
        |base AS (SELECT doc_id, lang FROM documents),
        |nd AS (SELECT b.doc_id, b.lang, COUNT(td.token) AS nd
        |       FROM base b LEFT JOIN td ON td.doc_id = b.doc_id GROUP BY 1, 2),
        |c AS (SELECT lang, MIN(doc_id) AS cid FROM documents GROUP BY 1),
        |tc AS (SELECT c.lang, td.token FROM c JOIN td ON td.doc_id = c.cid),
        |ncs AS (SELECT lang, COUNT(*) AS nc FROM tc GROUP BY 1),
        |ni AS (SELECT b.doc_id, b.lang, COUNT(tc.token) AS ni
        |       FROM base b
        |       LEFT JOIN td ON td.doc_id = b.doc_id
        |       LEFT JOIN tc ON tc.lang = b.lang AND tc.token = td.token
        |       GROUP BY 1, 2)
        |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(i.ni) AS BIGINT) AS sum_int,
        |  CAST(SUM(d.nd - i.ni) AS BIGINT) AS sum_except,
        |  CAST(SUM(d.nd + COALESCE(n.nc, 0) - i.ni) AS BIGINT) AS sum_union,
        |  ${graft.Q.duckRound4Ratio("SUM(i.ni)", "SUM(d.nd)")} AS coverage
        |FROM nd d
        |JOIN ni i ON i.doc_id = d.doc_id
        |LEFT JOIN ncs n ON n.lang = d.lang
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "l37_edit_distance" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    substring(regexp_replace(text, '[^ -~]', '', 'g'), 1, 64) AS probe
        |  FROM documents),
        |c AS (SELECT lang, MIN(doc_id) AS cid FROM b GROUP BY 1),
        |cp AS (SELECT c.lang, b.probe AS canon_probe
        |       FROM c JOIN b ON b.doc_id = c.cid),
        |dd AS (SELECT b.lang,
        |         CAST(levenshtein(b.probe, cp.canon_probe) AS BIGINT) AS dist
        |       FROM b JOIN cp ON b.lang = cp.lang)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(MAX(dist) AS BIGINT) AS max_dist,
        |       CAST(SUM(dist) AS BIGINT) AS sum_dist,
        |       CAST(COUNT(*) FILTER (WHERE dist <= 16) AS BIGINT) AS n_close
        |FROM dd GROUP BY 1 ORDER BY 1""".stripMargin,
    // Multiset clipping replayed relationally: per-(doc, token) counts
    // LEFT-joined to the canonical doc's counts, min() per row.
    "l42_clipped_precision" ->
      s"""WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS token
        |  FROM documents),
        |tc AS (SELECT doc_id, lang, token, COUNT(*) AS c
        |       FROM toks GROUP BY 1, 2, 3),
        |cn AS (SELECT lang, MIN(doc_id) AS cid FROM documents GROUP BY 1),
        |ref AS (SELECT tc.lang, tc.token, tc.c AS cref
        |        FROM tc JOIN cn ON tc.doc_id = cn.cid AND tc.lang = cn.lang),
        |cl AS (SELECT tc.doc_id, tc.lang, tc.c,
        |         least(tc.c, COALESCE(ref.cref, 0)) AS clipped
        |       FROM tc LEFT JOIN ref
        |         ON ref.lang = tc.lang AND ref.token = tc.token)
        |SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(SUM(clipped) AS BIGINT) AS sum_clipped,
        |  CAST(SUM(c) AS BIGINT) AS sum_tokens,
        |  ${graft.Q.duckRound4Ratio("SUM(clipped)", "SUM(c)")} AS avg_precision
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,

    "l43_intra_doc_repetition" ->
      s"""WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), t -> t != '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
        |  FROM w WHERE len(ws) >= 3),
        |c AS (SELECT doc_id, source, gram, COUNT(*) AS cnt
        |      FROM g GROUP BY 1, 2, 3),
        |per AS (SELECT doc_id, source, SUM(cnt) AS n_grams,
        |          SUM(cnt - 1) AS n_rep
        |        FROM c GROUP BY 1, 2)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_grams) AS BIGINT) AS n_grams,
        |  CAST(SUM(n_rep) AS BIGINT) AS n_rep,
        |  ${graft.Q.duckRound4Ratio("SUM(n_rep)", "SUM(n_grams)")} AS rep_frac,
        |  CAST(SUM(CASE WHEN n_rep * 5 > n_grams THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    "l49_mix_independence" ->
      s"""WITH cells AS (
        |  SELECT source, lang, COUNT(*) AS obs FROM documents GROUP BY 1, 2),
        |rm AS (SELECT source, COUNT(*) AS rn FROM documents GROUP BY 1),
        |cm AS (SELECT lang, COUNT(*) AS cn FROM documents GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT c.source, c.lang, c.obs, rm.rn, cm.cn,
        |  ${graft.Q.duckRound4RatioSigned(
               "CAST(c.obs AS HUGEINT) * n - CAST(rm.rn AS HUGEINT) * cm.cn",
               "CAST(rm.rn AS HUGEINT) * cm.cn")} AS deviation
        |FROM cells c JOIN rm USING (source) JOIN cm USING (lang), tot
        |ORDER BY 1, 2""".stripMargin,

    "l48_ngram_novelty" ->
      s"""WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), t -> t != '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest(list_transform(range(1, len(ws) - 3),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
        |           ws[i+3] || ' ' || ws[i+4])) AS gram
        |  FROM w WHERE len(ws) >= 5),
        |f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1),
        |per AS (
        |  SELECT g.doc_id, g.source, COUNT(*) AS n_grams,
        |    CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM g JOIN f USING (gram) GROUP BY 1, 2)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_grams) AS BIGINT) AS n_grams,
        |  CAST(SUM(n_novel) AS BIGINT) AS n_novel,
        |  ${graft.Q.duckRound4Ratio("SUM(n_novel)", "SUM(n_grams)")}
        |    AS novelty_frac,
        |  CAST(SUM(CASE WHEN n_novel * 2 < n_grams THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_mostly_copied
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    "l47_collocation_lift" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> t != ''))
        |    AS tok
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t != '') AS ws
        |  FROM documents),
        |bi AS (
        |  SELECT unnest(list_transform(range(1, len(ws)),
        |                               i -> ws[i] || ' ' || ws[i+1])) AS bigram
        |  FROM tk),
        |uni AS (SELECT tok, COUNT(*) AS cu FROM toks GROUP BY 1),
        |big AS (SELECT bigram, COUNT(*) AS cab FROM bi GROUP BY 1
        |        HAVING COUNT(*) >= 5),
        |tot AS (SELECT (SELECT COUNT(*) FROM toks) AS n1,
        |               (SELECT COUNT(*) FROM bi) AS n2)
        |SELECT b.bigram, b.cab, ua.cu AS ca, ub.cu AS cb,
        |  CAST((CAST(b.cab AS HUGEINT) * n1 * n1 * 10000)
        |    // (CAST(n2 AS HUGEINT) * ua.cu * ub.cu) AS BIGINT) AS lift
        |FROM big b
        |JOIN uni ua ON ua.tok = string_split(b.bigram, ' ')[1]
        |JOIN uni ub ON ub.tok = string_split(b.bigram, ' ')[2], tot
        |ORDER BY lift DESC, bigram ASC LIMIT 10""".stripMargin,

    // Replays the full l34 model build, then the ANSI ntile cut.
    "l46_perplexity_buckets" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> t != '') AS tk
         |  FROM documents),
         |bi AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(tk)),
         |                          i -> tk[i] || ' ' || tk[i+1])) AS bigram
         |  FROM toks),
         |db AS (SELECT doc_id, bigram, COUNT(*) AS m FROM bi GROUP BY 1, 2),
         |cb AS (SELECT bigram, CAST(SUM(m) AS BIGINT) AS cb FROM db GROUP BY 1),
         |ca AS (
         |  SELECT string_split(bigram, ' ')[1] AS pre, CAST(SUM(cb) AS BIGINT) AS ca
         |  FROM cb GROUP BY 1),
         |sc AS (
         |  SELECT bigram, CAST((cb * 1000000) // ca AS BIGINT) AS sc
         |  FROM cb JOIN ca ON string_split(bigram, ' ')[1] = ca.pre),
         |ds AS (
         |  SELECT db.doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
         |    CAST(SUM(m * sc) AS BIGINT) AS st
         |  FROM db JOIN sc USING (bigram) GROUP BY 1),
         |sd AS (
         |  SELECT d.doc_id, d.lang, d.n_chars,
         |    CASE WHEN ds.doc_id IS NULL THEN 0.0
         |         ELSE ${Q.duckRound4Ratio("st", "n_bigrams * 1000000")}
         |    END AS lm_score
         |  FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id),
         |bk AS (
         |  SELECT lang, n_chars, lm_score,
         |    ntile(3) OVER (PARTITION BY lang
         |                   ORDER BY lm_score DESC, doc_id ASC) AS bucket
         |  FROM sd)
         |SELECT lang, CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  MAX(lm_score) AS max_score, MIN(lm_score) AS min_score
         |FROM bk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "l45_importance_resample" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(tok) + 1),
        |                       i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000003) % 256 AS b
        |  FROM toks),
        |corpus AS (SELECT b, COUNT(*) AS cr FROM h GROUP BY 1),
        |target AS (SELECT b, COUNT(*) AS ct FROM h WHERE doc_id % 10 = 0
        |           GROUP BY 1),
        |tot AS (SELECT (SELECT SUM(cr) FROM corpus) AS nr,
        |               (SELECT SUM(ct) FROM target) AS nt),
        |wt AS (
        |  SELECT c.b,
        |    (CAST(COALESCE(t.ct, 0) AS HUGEINT) * nr * 10000)
        |      // (CAST(c.cr AS HUGEINT) * nt) AS w
        |  FROM corpus c LEFT JOIN target t ON c.b = t.b, tot),
        |sc AS (SELECT h.doc_id, h.lang, CAST(SUM(w.w) AS BIGINT) AS score
        |       FROM h JOIN wt w ON h.b = w.b GROUP BY 1, 2),
        |rk AS (
        |  SELECT lang, doc_id, score,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY score DESC, doc_id ASC) AS rnk,
        |    COUNT(*) OVER (PARTITION BY lang) AS n_lang
        |  FROM sc),
        |k AS (SELECT lang, score, rnk <= GREATEST(1, n_lang // 5) AS kept
        |      FROM rk)
        |SELECT lang, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN score END) AS BIGINT) AS sum_kept_score,
        |  CAST(MAX(score) AS BIGINT) AS max_score,
        |  CAST(MIN(CASE WHEN kept THEN score END) AS BIGINT) AS min_kept_score
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    "l44_mixture_sample" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1),
        |r AS (
        |  SELECT lang,
        |    CAST(FLOOR(1000.0 * SQRT(
        |      CAST((SELECT MIN(n_lang) FROM c) AS DOUBLE) / n_lang))
        |      AS BIGINT) AS rate_permille
        |  FROM c),
        |k AS (
        |  SELECT d.lang, d.n_chars, r.rate_permille,
        |    (d.doc_id % 999983) * 2246822519 % 1000 < r.rate_permille AS keep
        |  FROM documents d JOIN r ON d.lang = r.lang)
        |SELECT lang, COUNT(*) AS n_total, MIN(rate_permille) AS rate_permille,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN keep THEN n_chars END) AS BIGINT) AS chars_kept
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    "l40_kmeans" ->
      s"""WITH ${duckKmeans("8")}
        |SELECT c2.cid, CAST(COUNT(a3.vec_id) AS BIGINT) AS n_vecs,
        |  CAST(COALESCE(SUM(f.v[1]), 0) AS BIGINT) AS sum_fp0,
        |  c2.c[1] AS centroid_fp0
        |FROM c2
        |LEFT JOIN a3 ON a3.cid = c2.cid
        |LEFT JOIN fp f ON f.vec_id = a3.vec_id
        |GROUP BY c2.cid, c2.c[1] ORDER BY c2.cid""".stripMargin,

    "l41_semdedup" ->
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
        |FROM m LEFT JOIN dd USING (cid) ORDER BY m.cid""".stripMargin,

    "l38_lexical_diversity" ->
      s"""WITH toks AS (
        |  SELECT lang,
        |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS token
        |  FROM documents),
        |c AS (SELECT lang, token, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |g AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |        CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |        CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax
        |      FROM c GROUP BY 1)
        |SELECT lang, n_tokens, n_distinct, n_hapax,
        |  ${graft.Q.duckRound4Ratio("n_distinct", "n_tokens")} AS ttr,
        |  ${graft.Q.duckRound4Ratio("n_hapax", "n_distinct")} AS hapax_ratio
        |FROM g ORDER BY lang""".stripMargin,
    // Verdict shape (see r14b): the GK estimate is engine-specific, so the
    // oracle carries the exact interpolated median + the literal verdict.
    "l13b_approx_quantiles" ->
      """SELECT lang, quantile_cont(n_chars, 0.5) AS exact_p50,
        |       CAST(5 AS BIGINT) AS band_pct, true AS within_band
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // Replays Multimodal.frameSample: k = least(4, n_bytes) frames at
    // offsets ⌊i·(n−1)/(k−1)⌋ (0 when k=1); the byte probe decodes two
    // hex chars of the UTF-8 payload at that offset.
    "mm2_frame_sample" ->
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
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    // Replays Multimodal.patchGrid: StubCodec dims, ceil-div 16 grid,
    // evenly-spaced linear patch indices, and the scaled byte probe —
    // all integer arithmetic.
    "mm4_patch_grid" ->
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
        |FROM o ORDER BY doc_id, patch_idx""".stripMargin,

    // Replays Multimodal.dHash (17 evenly-spaced byte probes of the UTF-8
    // payload via hex, bit i = probe_i > probe_{i+1}) and then the exact
    // quadratic pair join the banded engine must reproduce — same shape
    // as the l14 oracle, over payload bytes instead of token hashes.
    "mm5_phash_pairs" ->
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
        |ORDER BY da, db""".stripMargin,

    // mm5's replay at 64 bits: 65 hex probes, bit 63 through the
    // two's-complement convention (l14b's oracle), quadratic join ≤ 3.
    "mm6_phash64_pairs" ->
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
        |ORDER BY da, db""".stripMargin,

    // Replays Multimodal.resize: StubCodec dims (w = n%640+1,
    // h = (first_byte&127)+1), 1e6 fixed-point downscale fit, and the
    // per-destination-column strided byte digest, all in integer SQL.
    "mm3_resize" ->
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
        |FROM d ORDER BY doc_id""".stripMargin,

    // Mirrors Multimodal.StubCodec exactly, including the empty-payload
    // branch (ok=false, width=height=0, first_byte=-1) and the true first
    // UTF-8 *byte* (hex of the encoded blob, not the code point — they
    // differ for non-ASCII text).
    "mm1_decode_meta" ->
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
        |FROM m ORDER BY doc_id""".stripMargin
  )
}
