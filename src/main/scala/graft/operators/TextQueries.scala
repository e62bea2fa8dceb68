package graft.operators

import graft.{Gate, Q, Tables}
import graft.functions.{NfcNormalize, TextFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declared text-analytics gates of the LLM data pipeline (SURVEY.md §2.2
  * L-table) over the `documents` table, each with its DuckDB oracle:
  * token and n-gram statistics, BPE, normalization and redaction, LM
  * scoring, lexical measures and the gram sketches. They are pure Catalyst
  * expressions ([[graft.functions.TextFunctions]]), whole-stage-codegen
  * friendly.
  */
object TextQueries {

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

  val gates: Seq[Gate] = Seq(
    // L3 — token frequency: top-20 tokens per lang (count desc, token asc).
    Gate("l3_token_freq", { (s, d) =>
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
        |ORDER BY lang, rnk""".stripMargin),

    // L4 — corpus stats per lang: doc count, avg chars (exact-int round),
    // distinct sources.
    Gate("l4_corpus_stats", (s, d) =>
      docs(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             Q.avgInt4(col("n_chars")).as("avg_chars"),
             countDistinct(col("source")).as("n_sources"))
        .orderBy("lang"),
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  ${Q.duckRound4Ratio("SUM(n_chars)", "COUNT(n_chars)")} AS avg_chars,
         |  COUNT(DISTINCT source) AS n_sources
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // L8 — document quality scoring: token counts, average token length,
    // stopword ratio, alpha-space purity, composite keep/drop flag. One
    // narrow projection pass — the shape of a 100 TB quality filter.
    Gate("l8_quality_score", (s, d) =>
      TextAnalysis.qualityScore(docs(s, d)).orderBy("doc_id"),
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
         |FROM f ORDER BY doc_id""".stripMargin),

    // L9 — language-ID heuristic: marker-token profile scoring (explode →
    // broadcast profile join → argmax). The fixture corpus shares one
    // vocabulary across its lang labels, so predictions are uniform — the
    // operator's contract is the deterministic scoring itself.
    Gate("l9_lang_id", (s, d) =>
      TextAnalysis.langId(docs(s, d)).orderBy("doc_id"),
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
        |ORDER BY d.doc_id""".stripMargin),

    // L12 — BPE-ish regex tokenization (the GPT-2 pre-tokenizer shape:
    // space-prefixed letter runs / digit runs / punctuation runs) and
    // per-lang token statistics. regexp_extract_all is a codegen'd
    // built-in; the alternation uses only portable leftmost-first
    // constructs so the oracle's RE2 matches Java regex exactly.
    Gate("l12_bpe_tokens", { (s, d) =>
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
      s"""WITH toks AS (
         |  SELECT lang, doc_id,
         |    unnest(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS tok
         |  FROM documents)
         |SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_unique,
         |  ${Q.duckRound4Ratio("COUNT(*)", "COUNT(DISTINCT doc_id)")} AS avg_tokens_per_doc
         |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin),

    // L13 — exact length quantiles per lang: sort-based `percentile`
    // aggregate with (n−1)·p linear interpolation — the same definition
    // DuckDB's quantile_cont uses, so values hash-match without a custom
    // rounding convention (quarters/halves of integers are exact doubles).
    // 100 TB posture: exact percentile needs a per-group sort (fine for
    // bounded groups like per-lang); the unbounded-cardinality scale path
    // is approx_percentile, declared non-hash-gated like R14b's HLL.
    Gate("l13_length_quantiles", (s, d) =>
      docs(s, d).groupBy(col("lang"))
        .agg(percentile(col("n_chars"), lit(0.25)).as("p25"),
             percentile(col("n_chars"), lit(0.5)).as("p50"),
             percentile(col("n_chars"), lit(0.75)).as("p75"))
        .orderBy("lang"),
      """SELECT lang,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5)  AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // L13b — the declared scale path of L13: GK-sketch approx_percentile
    // (mergeable, one pass, no per-group sort). Sketch outputs are
    // engine-specific, so the gate exports the r14b verdict shape: the
    // EXACT interpolated median, the declared ±5% band, and within_band =
    // |ap50 − p50|·20 ≤ p50 — the estimate stays out of the hash and the
    // oracle asserts literal true, hash-enforcing the sketch's band. (At
    // fixture scale GK with accuracy=10000 returns an exact element; the
    // slack covers element-vs-interpolation, which is one gap at most.)
    Gate("l13b_approx_quantiles", (s, d) =>
      docs(s, d).groupBy(col("lang"))
        .agg(approx_percentile(col("n_chars"), lit(0.5), lit(10000)).as("ap50"),
             percentile(col("n_chars"), lit(0.5)).as("exact_p50"))
        .select(col("lang"), col("exact_p50"), lit(5L).as("band_pct"),
                (abs(col("ap50") - col("exact_p50")) * 20 <=
                  col("exact_p50")).as("within_band"))
        .orderBy("lang"),
      // Verdict shape (see r14b): the GK estimate is engine-specific, so the
      // oracle carries the exact interpolated median + the literal verdict.
      """SELECT lang, quantile_cont(n_chars, 0.5) AS exact_p50,
        |       CAST(5 AS BIGINT) AS band_pct, true AS within_band
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // L53 — BPE MERGE INDUCTION (round 13): the first 3 byte-pair-encoding
    // merges learned from the corpus — the tokenizer-vocabulary step of a
    // training pipeline (Sennrich et al. 2016), distinct from l12's
    // APPLICATION of a fixed pre-tokenizer. See [[TextAnalysis.bpeMerges]]
    // for the word-frequency contraction + sentinel-string merge design
    // and the 100 TB argument (per-round cost is vocabulary-sized; driver
    // traffic is one argmax row per round).
    Gate("l53_bpe_merges", (s, d) => TextAnalysis.bpeMerges(docs(s, d), 3),
      // Replays the 3 merge rounds as chained CTEs: same word-frequency
      // contraction, same sentinel-wrapped sequences (chr(31)), same
      // left-to-right non-overlapping replace = greedy-left merge, same
      // (cnt DESC, a, b) argmax. The inline (?s) keeps '.' newline-safe in
      // both regex engines.
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
         |ORDER BY round""".stripMargin),

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
    Gate("l54_topgram_mass", { (s, d) =>
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
      // Per-doc bigram counts → row_number argmax (the Spark side's
      // min(struct) aggregate is the same (cnt desc, gram asc) pick) →
      // exact half-up ROUND(4) mass ratio → per-source rollup.
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
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

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
    Gate("l55_vocab_growth", { (s, d) =>
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
      // Arrival-order rank → decile arithmetic → first-occurrence counts →
      // 10-row running sum; the engine's two-pass rank is hash-equal to the
      // oracle's naive ROW_NUMBER by the l51 contract.
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
        |ORDER BY d.decile""".stripMargin),

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
    Gate("l56_bpe_apply", (s, d) => TextAnalysis.bpeApply(docs(s, d), 3),
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
         |ORDER BY 1""".stripMargin),

    // L58 — count-min-sketch heavy hitters (round 14): per-language exact
    // top-5 tokens probed against Spark's `count_min_sketch` aggregate,
    // with the CMS guarantee (exact ≤ est ≤ exact + ⌈N/1000⌉) hash-
    // enforced as a verdict band — the third mergeable-sketch family
    // (GK quantiles l13b, HLL r30, CMS here). See
    // [[SketchOps.cmsHeavyHitters]] for the integer band arithmetic and
    // the bounded driver-side sketch collect.
    Gate("l58_cms_heavyhitters", (s, d) =>
      SketchOps.cmsHeavyHitters(docs(s, d)),
      // Verdict shape (r30/l13b): the CMS estimate depends on Spark's hash
      // family, so the oracle replays the EXACT heavy-hitter side — counts,
      // totals, the integer ⌈N/1000⌉ band — and asserts the verdict
      // literally; an out-of-band sketch flips within_band and hash-fails.
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
        |ORDER BY 1, 2""".stripMargin),

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
    Gate("l62_kmv_distinct", { (s, d) =>
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
      // Exact bottom-k replay: distinct spread hashes per language, the
      // k-th smallest via ROW_NUMBER, the same integer (k−1)·M // h_k
      // estimator and cross-multiplied band — the whole sketch state is a
      // set function, so the oracle reproduces it exactly (no r30-style
      // exact-side-only dodge needed).
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
        |FROM est ORDER BY lang""".stripMargin),

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
    Gate("l63_kmv_setops", { (s, d) =>
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
      // Exact replay of the sketch ALGEBRA: per-language bottom-256, the
      // pairwise union sketch as the bottom-256 of the two sketch sets,
      // |S∪ ∩ Sa ∩ Sb|, and the same integer estimators and bands. The
      // unsaturated branch (size < k ⇒ sketches are exact) mirrors the
      // engine's CASE.
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
        |FROM fin ORDER BY lang_a, lang_b""".stripMargin),

    // L22 — bigram language-model counts: top-10 word bigrams per language
    // by frequency (ties broken lexicographically so the rank-10 boundary
    // is deterministic cross-engine). Bigram extraction is ARRAY-LOCAL —
    // tokens → transform(sequence, slice) inside each row's projection —
    // not a positional self-join: at 100 TB the join formulation would
    // shuffle the exploded token table twice on (doc_id, pos); this shape
    // shuffles only (lang, bigram) partial counts. Same top-k window
    // funnel as L3 (unigrams).
    Gate("l22_bigram_freq", { (s, d) =>
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
      duckBigrams),

    // L27 — Unicode NFC canonicalization via the engine's native
    // `nfc_normalize` expression ([[graft.functions.NfcNormalize]]): the
    // text-cleaning step that must precede content hashing (composed vs
    // decomposed accents are different bytes, same text). The fixture is
    // ASCII, so decomposed sequences are planted per doc_id — the gate
    // proves composition actually happens (length shrinks by exactly the
    // combining marks) and that the normalized bytes hash identically in
    // both engines.
    Gate("l27_normalize", { (s, d) =>
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
      // Replays the planted decomposition with chr() code points; DuckDB's
      // nfc_normalize produces the same composed bytes, so sha256 matches.
      """WITH r AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'Cafe' || chr(769) || ' '
        |          WHEN doc_id % 3 = 1 THEN 'Zu' || chr(776) || 'rich '
        |          ELSE '' END) || text AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS raw_len,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS norm_len,
        |  sha256(nfc_normalize(raw)) AS norm_sha
        |FROM r ORDER BY doc_id""".stripMargin),

    // L28 — PII redaction: email and phone patterns scrubbed from the
    // text before it can enter a training corpus — the compliance step
    // every curation pipeline runs between dedup and tokenization. The
    // fixture is synthetic-clean, so PII is PLANTED deterministically per
    // doc_id (same convention as l27); the gate hashes the redacted bytes
    // and counts the redactions, so both the match set and the
    // replacement must agree with the oracle's regex engine exactly
    // (patterns are kept in the RE2 ∩ java.util.regex common dialect).
    Gate("l28_redact", { (s, d) =>
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
      // Quadratic containment replay: shared-shingle pair counts, contained
      // side's size in the denominator, smaller-into-larger orientation.
      // Same planting, same patterns (RE2-compatible), same replacement
      // tokens — counts via regexp_extract_all, bytes via sha256.
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
        |FROM r ORDER BY doc_id""".stripMargin),

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
    Gate("l34_lm_score", (s, d) => lmScore(docs(s, d)).orderBy("doc_id"),
      // Replays the self-consistent bigram LM: prefix counts derived from
      // the bigram table, integer transition scores, per-doc multiplicity-
      // weighted average. `//` truncates and intDiv floors — equal on the
      // non-negative operands here.
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
         |ORDER BY d.doc_id""".stripMargin),

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
    Gate("l36_feature_hash", { (s, d) =>
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
      // Replays the l14-family polynomial token hash, the bucket/sign
      // split, and the 16-dim grid zero-fill.
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
        |ORDER BY 1, 2""".stripMargin),

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
    Gate("l37_edit_distance", { (s, d) =>
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
        |FROM dd GROUP BY 1 ORDER BY 1""".stripMargin),

    // L42 — clipped n-gram precision (the BLEU-1 primitive, Papineni et
    // al. 2002): each doc scored against its language's canonical doc by
    // MULTISET overlap — Σ_t min(c_doc(t), c_ref(t)) / |doc tokens| —
    // the count-clipping that distinguishes the eval-metric family from
    // l39's set algebra (a doc repeating one reference word 100× gets
    // set-coverage 1.0 but clipped precision c_ref/100). Reference
    // counts are one doc's vocabulary per language — a broadcast dim at
    // any corpus size; the heavy side is one (doc, token) hash aggregate.
    Gate("l42_clipped_precision", { (s, d) =>
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
      // Multiset clipping replayed relationally: per-(doc, token) counts
      // LEFT-joined to the canonical doc's counts, min() per row.
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
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin),

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
    Gate("l43_intra_doc_repetition", (s, d) =>
      TextAnalysis.intraDocRepetition(docs(s, d)),
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
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin),

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
    Gate("l48_ngram_novelty", (s, d) =>
      TextAnalysis.ngramNovelty(docs(s, d)),
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
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin),

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
    Gate("l47_collocation_lift", { (s, d) =>
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
        |ORDER BY lift DESC, bigram ASC LIMIT 10""".stripMargin),

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
    Gate("l46_perplexity_buckets", { (s, d) =>
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
      // Replays the full l34 model build, then the ANSI ntile cut.
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
         |FROM bk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // L38 — lexical diversity per language: type-token ratio and hapax
    // share, the corpus-health diagnostics (a repetitive/boilerplate
    // slice shows low TTR; a noisy one shows a hapax spike) standard in
    // corpus linguistics reports. Same whitespace tokenization as L3 (one
    // declared convention); two hash aggregates — (lang, token) counts,
    // then per-lang rollup — so the heavy first shuffle carries partial
    // counts, never raw tokens; ratios via the shared integer half-up
    // ROUND.
    Gate("l38_lexical_diversity", { (s, d) =>
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
        |FROM g ORDER BY lang""".stripMargin),

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
    Gate("l39_vocab_overlap", { (s, d) =>
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
      // Set cardinalities replayed relationally: per-doc distinct tokens
      // joined to the canonical doc's distinct tokens; except/union derive
      // from |d|, |c|, |d∩c|.
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
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // L24 — the L22 bigram counts through the engine's custom Catalyst
    // GENERATOR (`word_ngrams`, a native UDTF registered via
    // SparkSessionExtensions) on the SQL route: the generator resolves in
    // the parser, plans as a `Generate` node (the operator `explode`
    // rides), and streams n-gram rows without materializing the per-doc
    // array the transform+explode formulation allocates. Same oracle as
    // L22 — two formulations, one declared semantics.
    Gate("l24_generator_ngrams", (s, d) => graft.Engine.sql(s, d,
      """WITH bi AS (SELECT lang, word_ngrams(text, 2) AS bigram FROM documents),
        |c AS (SELECT lang, bigram, COUNT(*) AS cnt FROM bi GROUP BY 1, 2),
        |r AS (SELECT lang, bigram, cnt,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |                                ORDER BY cnt DESC, bigram ASC) AS BIGINT) AS rnk
        |      FROM c)
        |SELECT lang, rnk, bigram, cnt FROM r WHERE rnk <= 10
        |ORDER BY lang, rnk""".stripMargin),
      // The generator formulation shares L22's oracle — identical contract.
      duckBigrams),

    // L17 — distinctive terms per lang: TF-IDF-shaped scoring with
    // integer-exact inverse document frequency (score = tf · ⌊N·10^6/df⌋;
    // log-free so both engines compute bit-identical longs — for fixed tf
    // the ordering equals log-idf's, log being monotone). Two hash
    // aggregates + a broadcast scalar + top-5 window: the shape of every
    // "what characterizes this slice" corpus diagnostic.
    Gate("l17_tfidf", { (s, d) =>
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
      // tf and df are exact integers; the score uses floor division on
      // positives, where DuckDB's `//` agrees with Spark's DECIMAL intDiv.
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
        |ORDER BY lang, rnk""".stripMargin))
}
