package graft.operators

import graft.{Gate, Q, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Declared curation gates of the LLM data pipeline (SURVEY.md §2.2
  * L-table) over the `documents` table, each with its DuckDB oracle: split
  * assignment, sampling and mixture weights, chunking and packing,
  * decontamination, global ordering, token budgets, and the composed
  * pipeline (l19).
  */
object CurationQueries {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  val gates: Seq[Gate] = Seq(
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
    Gate("l51_global_order", { (s, d) =>
      OrderOps.globalOrder(
          docs(s, d).select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("global_pos"),
                expr("global_pos div 64").as("shard_id"))
        .orderBy("doc_id")
    },
      // The oracle IS the naive single-partition window the engine refuses
      // to run — row_number over the corpus-wide total order; DuckDB's `//`
      // and Spark's `div` agree on non-negative BIGINTs.
      """WITH ranked AS (
        |  SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) - 1
        |         AS BIGINT) AS global_pos
        |  FROM documents)
        |SELECT doc_id, global_pos, global_pos // 64 AS shard_id
        |FROM ranked ORDER BY doc_id""".stripMargin),

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
    Gate("l52_token_budget", { (s, d) =>
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
      // The oracle replays the budget fill with the naive per-lang window
      // (affordable at sf); arg_max is tie-free because cum_before is
      // strictly increasing within a language (every doc has ≥1 token).
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
        |FROM c WHERE cum_before < 2000 GROUP BY 1 ORDER BY 1""".stripMargin),

    // L15 — deterministic dataset split assignment: every doc lands in
    // train/val/test (8/1/1) via a pure multiplicative hash of doc_id —
    // reproducible across runs, engines, and cluster sizes, which is the
    // property a training pipeline needs from its holdout split (seeded
    // RNG sampling is neither engine- nor partitioning-stable). One
    // narrow codegen pass + hash aggregate.
    Gate("l15_split_assign", { (s, d) =>
      val h = (col("doc_id") % 1000003L) * 2654435761L % 1000L
      docs(s, d)
        .withColumn("split",
          when(h < 800, "train").when(h < 900, "val").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
             Q.avgInt4(col("n_chars")).as("avg_chars"))
        .orderBy("lang", "split")
    },
      s"""WITH assigned AS (
         |  SELECT lang, n_chars,
         |    CASE WHEN (doc_id % 1000003) * 2654435761 % 1000 < 800 THEN 'train'
         |         WHEN (doc_id % 1000003) * 2654435761 % 1000 < 900 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT lang, split, COUNT(*) AS n_docs,
         |  ${Q.duckRound4Ratio("SUM(n_chars)", "COUNT(n_chars)")} AS avg_chars
         |FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // L30 — document CHUNKING: fixed 100-char windows at stride 80 (20
    // overlap) — the splitting step every RAG index and long-document
    // pretraining pipeline runs between cleaning and embedding. Chunk
    // starts come from an array-local `sequence` + `posexplode` (no
    // self-join, no driver loop — the same parallel-expansion shape as
    // s9's gap-fill spine); the gate hashes every chunk's bytes and
    // offsets, so boundary arithmetic must match the oracle exactly.
    Gate("l30_chunks", { (s, d) =>
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
      // Replays the window arithmetic: starts at 1 + 80i, width 100; the
      // chunk count is ⌊(len−1)/80⌋ + 1.
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(length(substring(text, CAST(1 + 80*i AS INTEGER), 100))
        |       AS BIGINT) AS chunk_len,
        |  sha256(substring(text, CAST(1 + 80*i AS INTEGER), 100)) AS chunk_sha
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(range(0, (length(text) - 1) // 80 + 1)) AS i
        |  FROM documents WHERE length(text) > 0)
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // L31 — SEQUENCE PACKING: documents concatenated into fixed
    // 512-token training bins per language (monolingual packing), the
    // batch-prep step between tokenization and the trainer. The bin id
    // is the running pre-document token count div the budget — the
    // deterministic concat-and-split formulation. Round 13: the per-lang
    // cumulative WINDOW (one task owns all of a language's docs — the
    // data-sized-partition scale-killer l52 names) is replaced by the
    // grouped two-pass prefix sum, whose only single-partition work is
    // the P+G−1 offset cells.
    Gate("l31_pack", { (s, d) =>
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
      // Replays the per-language concat-and-split: running pre-document
      // token count // 512 is the bin id.
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
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // L32 — benchmark DECONTAMINATION: corpus documents screened against
    // the word-5-gram set of a held-out benchmark (doc_id < 10 stands in
    // for the eval suite) — the step that keeps test data out of a
    // training corpus. The benchmark gram set is tiny at any corpus
    // scale, so it BROADCASTS onto the exploded corpus grams (no
    // shuffle of the big side) — the production decontamination shape;
    // zero-hit docs survive via the left join, and the flag, hit counts,
    // and per-doc gram totals are all hashed.
    Gate("l32_decontaminate", { (s, d) =>
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
      // Same empty-token filter and 5-gram windows as the Spark side;
      // benchmark = distinct grams of doc_id < 10.
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
        |WHERE t.doc_id >= 10 ORDER BY doc_id""".stripMargin),

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
    Gate("l49_mix_independence", { (s, d) =>
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
        |ORDER BY 1, 2""".stripMargin),

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
    Gate("l45_importance_resample", (s, d) =>
      TextAnalysis.importanceResample(docs(s, d)),
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
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin),

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
    Gate("l44_mixture_sample", { (s, d) =>
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
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin),

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
    Gate("l21_stratified_sample", { (s, d) =>
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
      """WITH rates(lang, rate) AS (VALUES ('en', 250), ('de', 600), ('es', 800), ('fr', 800)),
        |k AS (
        |  SELECT d.lang, d.n_chars,
        |    (d.doc_id % 999983) * 2246822519 % 1000 < COALESCE(r.rate, 1000) AS keep
        |  FROM documents d LEFT JOIN rates r ON d.lang = r.lang)
        |SELECT lang, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN keep THEN n_chars END) AS BIGINT) AS chars_kept
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin),

    // L19 — the CAPSTONE curation pass, end to end: exact dedup (keep the
    // min doc_id per content hash) → quality filter (L8's keep flag) →
    // deterministic split assignment (L15's multiplicative hash) →
    // per-(lang, split) corpus accounting. This is the actual shape of a
    // training-data pipeline — each stage is an already-gated operator;
    // the gate proves they COMPOSE: two hash aggregates + two doc_id
    // equi-joins + one final aggregate, no operator-boundary
    // rematerialization anywhere.
    Gate("l19_pipeline", { (s, d) =>
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
    },
      // The capstone pass replayed stage by stage: dedup keeps MIN(doc_id)
      // per text (sha2 grouping ≡ text grouping — the hash is injective on
      // any real corpus), quality is l8's keep predicate, the split is
      // l15's multiplicative hash. total_tokens is CAST to BIGINT — a naked
      // SUM would come back HUGEINT and fail the driver's hash (r5 lesson,
      // now enforced by check.py's type parity).
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
         |FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
}
