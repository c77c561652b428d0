package graft.operators

import graft.{Oracle, Q, QueryModule}
import graft.functions.{OrderedFold, TextFns}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-scoring operators a large-scale training-data pipeline runs on
  * top of the LM/quality stages: CCNet-style perplexity bucketing, a
  * bigram LM (the first-order upgrade of q_lm_score's unigram surprisal),
  * tokenizer fertility per language, and Gopher's intra-document
  * duplicate-n-gram fraction.
  *
  * Reference framing: the thesis corpus work stops at TF-IDF/LDA
  * (wiki_lda.py); these are the scoring operators its pipeline would need
  * at web scale, kept in the same Spark-first shape — per-row codegen
  * expressions or single bounded shuffles, DuckDB-oracle-gated.
  */
object TextScoring extends QueryModule {

  // ---------------------------------------------------------------- ccnet

  /** q_ccnet_buckets: CCNet head/middle/tail perplexity bucketing (Wenzek
    * et al. 2020): score every doc with the corpus LM (qLmScore's mean
    * token NLL — memoized stages underneath), cut the score distribution
    * at its terciles, and label each doc head (cleanest third) / middle /
    * tail. The cuts are the exact interpolated percentiles (the
    * q_percentiles contract — both engines implement (n−1)·p linear
    * interpolation), rounded at 1e-6 like every fp gate here; the
    * per-doc scores they cut are themselves already rounded. Scale shape:
    * scoring is the LM join, the terciles are one tiny aggregate
    * broadcast back — no extra corpus pass. Exact percentile buffers the
    * per-doc scores in the final reduce task; at billions of docs swap
    * the cut computation for approx_percentile exactly as q_percentiles →
    * q_percentiles_approx (bucket semantics unchanged). */
  def qCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val sc = TextAnalysis.qLmScore(s, dir).select(col("doc_id"), col("avg_nll"))
    val cuts = sc.agg(
      round(expr("percentile(avg_nll, CAST(1 AS DOUBLE)/3)"), 6).as("t1"),
      round(expr("percentile(avg_nll, CAST(2 AS DOUBLE)/3)"), 6).as("t2"))
    sc.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("avg_nll"),
        when(col("avg_nll") <= col("t1"), "head")
          .when(col("avg_nll") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  private lazy val qCcnetBucketsSql =
    s"""WITH ${TextAnalysis.lmScoreCtes},
       cuts AS (
         SELECT round(quantile_cont(avg_nll, CAST(1 AS DOUBLE)/3), 6) AS t1,
           round(quantile_cont(avg_nll, CAST(2 AS DOUBLE)/3), 6) AS t2
         FROM lmscore)
       SELECT doc_id, avg_nll,
         CASE WHEN avg_nll <= t1 THEN 'head'
              WHEN avg_nll <= t2 THEN 'middle'
              ELSE 'tail' END AS bucket
       FROM lmscore CROSS JOIN cuts"""

  // ------------------------------------------------------------ bigram LM

  /** Interpolation weight of the bigram maximum-likelihood estimate; the
    * unigram backoff carries the rest (Jelinek–Mercer smoothing). */
  val BigramLambda = 0.9

  /** q_bigram_lm: first-order interpolated LM scoring — the bigram
    * upgrade of q_lm_score that actually catches scrambled word ORDER
    * (a bag-of-words duplicate scores identically under a unigram LM):
    * P(w₂|w₁) = λ·c(w₁w₂)/cf(w₁) + (1−λ)·cf(w₂)/N with ML bigram counts
    * and the unigram collection-frequency backoff (c(w₁w₂) ≤ cf(w₁), so
    * the ML term is a true probability). Per-doc mean/max NLL over its
    * bigrams, rounded at 1e-6 (the qLmScore fp posture). Scale shape: the
    * bigram and unigram count tables are vocabulary-sized aggregates of
    * one corpus pass; scoring is three equi-joins AQE broadcasts while
    * the vocab fits, then one groupBy(doc_id). */
  def qBigramLm(s: SparkSession, dir: String): DataFrame = {
    val bgDocs = TextPrep.cleanDocs(s, dir)
      .select(col("doc_id"), explode(TextFns.shingles(col("toks"), 2)).as("bg"))
    val c2 = bgDocs.groupBy("bg").agg(count(lit(1)).as("c2"))
    val stats = TextPrep.tokenStats(s, dir).select(col("tok"), col("cf"))
    val total = stats.agg(sum(col("cf")).cast("double").as("total_cf"))
    val p = lit(BigramLambda) * (col("c2").cast("double") / col("cf1")) +
      lit(1.0 - BigramLambda) * (col("cf2").cast("double") / col("total_cf"))
    bgDocs
      .select(col("doc_id"), col("bg"),
        element_at(split(col("bg"), " "), 1).as("w1"),
        element_at(split(col("bg"), " "), 2).as("w2"))
      .join(c2, Seq("bg"))
      .join(stats.select(col("tok").as("w1"), col("cf").as("cf1")), Seq("w1"))
      .join(stats.select(col("tok").as("w2"), col("cf").as("cf2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(p)), 6).as("avg_nll2"),
        round(max(-log(p)), 6).as("max_nll2"))
  }

  private lazy val qBigramLmSql = {
    val t = TextFns.cleanTokensSql("text")
    val p = s"$BigramLambda * (CAST(c2 AS DOUBLE) / cf1) + " +
      s"${1.0 - BigramLambda} * (CAST(cf2 AS DOUBLE) / total_cf)"
    s"""WITH docs AS (SELECT doc_id, $t AS toks FROM documents),
       bg AS (SELECT doc_id, unnest(${TextFns.shinglesSql("toks", 2)}) AS bg FROM docs),
       c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
       toks AS (SELECT doc_id, unnest(toks) AS tok FROM docs),
       stats AS (SELECT tok, count(*) AS cf FROM toks GROUP BY tok),
       tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS total_cf FROM stats),
       scored AS (
         SELECT bg.doc_id, $p AS p
         FROM bg
         JOIN c2 USING (bg)
         JOIN stats s1 ON s1.tok = string_split(bg.bg, ' ')[1]
         JOIN stats s2 ON s2.tok = string_split(bg.bg, ' ')[2],
         LATERAL (SELECT s1.cf AS cf1, s2.cf AS cf2) l
         CROSS JOIN tot)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(-ln(p)), 6) AS avg_nll2,
         round(max(-ln(p)), 6) AS max_nll2
       FROM scored GROUP BY doc_id"""
  }

  // ----------------------------------------------------------- kneser-ney

  /** Absolute discount (the standard 0.75 = 3/4 — dyadic, so the
    * discounted count 4c−3 stays exactly integral ×4). */
  val KnDiscountNum = 3
  val KnDiscountDen = 4

  /** q_kneser_ney: interpolated Kneser–Ney bigram scoring — the smoothing
    * that replaced Jelinek–Mercer (q_bigram_lm) as the n-gram standard:
    * the backoff is the CONTINUATION probability (in how many distinct
    * left contexts does w₂ appear) rather than raw frequency, which stops
    * high-frequency-but-context-bound tokens from leaking probability
    * ("francisco" is frequent but only ever follows "san").
    * P(w₂|w₁) = (c(w₁w₂) − D)/c(w₁·) + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··)
    * with D = 3/4. Every count — bigram c, left-context mass c(w₁·),
    * continuation type counts N₁₊ — is an exact integer aggregate of the
    * one bigram table; D is dyadic so 4c−3 is exact; the probability is
    * one fixed double expression per bigram. Same scale shape as
    * q_bigram_lm: vocabulary-sized count tables, equi-join scoring, one
    * groupBy(doc_id). Scored bigrams are observed (c ≥ 1), so the
    * max(c−D, 0) clamp never binds and is omitted IDENTICALLY in both
    * engines. */
  def qKneserNey(s: SparkSession, dir: String): DataFrame =
    kneserNeyOf(TextPrep.cleanDocs(s, dir)
      .select(col("doc_id"), explode(TextFns.shingles(col("toks"), 2)).as("bg")))

  /** Core on a (doc_id, bg) exploded-bigram relation — split out so specs
    * can feed fixtures with controlled context diversity. */
  def kneserNeyOf(bgDocs: DataFrame): DataFrame = {
    // ONE vocabulary-sized bigram count table feeds every other count
    // (r22, guide §2.3 aggregate-before-reuse): a bigram string IS its
    // (w1, w2) type, so the r21 `types` relation — a second full corpus
    // explode + aggregate — was c2 re-keyed; deriving left-context mass,
    // continuation types and the type total from the checkpointed c2
    // removes one of the three corpus-wide bigram passes per invocation
    // (plan: 3 Scan+Generate chains → 2; the per-occurrence scoring join
    // below is untouched, so the avg/max inputs are bit-identical).
    val c2 = bgDocs.groupBy("bg").agg(count(lit(1)).as("c2"))
      .select(col("bg"),
        element_at(split(col("bg"), " "), 1).as("w1"),
        element_at(split(col("bg"), " "), 2).as("w2"),
        col("c2"))
      .localCheckpoint(true) // four consumers: left, cont, nAll, scoring
    val left = c2.groupBy("w1")
      .agg(sum(col("c2")).as("c1dot"), count(lit(1)).as("n1_w1"))
    val cont = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1_w2"))
    val nAll = c2.agg(count(lit(1)).as("n1_all"))
    val p = (lit(KnDiscountDen) * col("c2") - lit(KnDiscountNum)).cast("double") /
      (lit(KnDiscountDen) * col("c1dot")).cast("double") +
      (lit(KnDiscountNum).cast("double") / lit(KnDiscountDen)) *
        col("n1_w1").cast("double") / col("c1dot") *
        (col("n1_w2").cast("double") / col("n1_all"))
    bgDocs
      .select(col("doc_id"), col("bg"))
      .join(c2.select("bg", "w1", "w2", "c2"), Seq("bg"))
      .join(left, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(nAll))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(p)), 6).as("avg_nll_kn"),
        round(max(-log(p)), 6).as("max_nll_kn"))
  }

  private lazy val qKneserNeySql = {
    val t = TextFns.cleanTokensSql("text")
    val p = s"CAST($KnDiscountDen * c2 - $KnDiscountNum AS DOUBLE) / " +
      s"CAST($KnDiscountDen * c1dot AS DOUBLE) + " +
      s"(CAST($KnDiscountNum AS DOUBLE) / $KnDiscountDen) * " +
      s"CAST(n1_w1 AS DOUBLE) / c1dot * (CAST(n1_w2 AS DOUBLE) / n1_all)"
    s"""WITH docs AS (SELECT doc_id, $t AS toks FROM documents),
       bgd AS (SELECT doc_id, unnest(${TextFns.shinglesSql("toks", 2)}) AS bg FROM docs),
       bg AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1,
                string_split(bg, ' ')[2] AS w2 FROM bgd),
       c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
       types AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
       lft AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1dot,
                 CAST(count(*) AS BIGINT) AS n1_w1 FROM types GROUP BY w1),
       cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1_w2 FROM types GROUP BY w2),
       nall AS (SELECT CAST(count(*) AS BIGINT) AS n1_all FROM types),
       scored AS (
         SELECT bg.doc_id, $p AS p
         FROM bg
         JOIN c2 USING (bg)
         JOIN lft USING (w1)
         JOIN cont USING (w2)
         CROSS JOIN nall)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(-ln(p)), 6) AS avg_nll_kn,
         round(max(-ln(p)), 6) AS max_nll_kn
       FROM scored GROUP BY doc_id"""
  }

  // ------------------------------------------------------------ fertility

  /** q_tok_fertility: tokenizer fertility per language — BPE-ish tokens
    * emitted per whitespace word (the multilingual-tokenizer health
    * metric: a tokenizer with fertility ≫ 1 on a language wastes context
    * window on it). Reuses q_token_count's two per-row counters, rolled
    * up by the table's language column; one division over exact integer
    * sums. */
  def qTokFertility(s: SparkSession, dir: String): DataFrame =
    TextPrep.rawDocs(s, dir)
      .select(col("lang"),
        size(col("rtoks")).as("ws"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]', 0)")).as("bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws").cast("long")).as("sum_words"),
        sum(col("bpe").cast("long")).as("sum_tokens"))
      .select(col("lang"), col("n_docs"), col("sum_words"), col("sum_tokens"),
        round(col("sum_tokens").cast("double") / col("sum_words"), 6).as("fertility"))

  private lazy val qTokFertilitySql =
    s"""WITH c AS (
         SELECT lang,
           CAST(len(${TextFns.rawTokensSql("text")}) AS BIGINT) AS ws,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS bpe
         FROM documents)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(ws) AS BIGINT) AS sum_words, CAST(sum(bpe) AS BIGINT) AS sum_tokens,
         round(CAST(sum(bpe) AS DOUBLE) / sum(ws), 6) AS fertility
       FROM c GROUP BY lang"""

  // ------------------------------------------------------ dup-ngram gate

  /** Gopher's duplicate-n-gram ceiling: documents where more than this
    * fraction of bigram occurrences are internal repeats are looping
    * templates. (n = 2 and a 0.1 ceiling calibrated to the corpus: 349 of
    * 500 sf0.01 docs carry SOME internal bigram repetition and the worst
    * reach ~0.13, so both the fraction and the boolean discriminate; at
    * n = 5 the corpus has zero repeats and the gate would be vacuous.) */
  val DupNgramN = 2
  val DupNgramMax = 0.1

  /** q_dup_ngrams: intra-document duplicate n-gram fraction (Gopher's
    * repetition family, the within-doc counterpart of q_rep_ngram's
    * top-bigram rule): fraction of a doc's bigram occurrences that are
    * repeats of an earlier bigram in the SAME doc. Pure per-row array
    * expressions over the shared tokenization — no shuffle at all; the
    * fraction is a ratio of two per-row integers. */
  def qDupNgrams(s: SparkSession, dir: String): DataFrame =
    TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), TextFns.shingles(col("rtoks"), DupNgramN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        size(col("sh")).as("n_grams"),
        (size(col("sh")) - size(array_distinct(col("sh")))).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams"), 6).as("dup_frac"),
        (col("n_dup").cast("double") / col("n_grams") <= DupNgramMax).as("rep_ok"))

  private lazy val qDupNgramsSql =
    s"""WITH sh AS (
         SELECT doc_id, ${TextFns.shinglesSql("toks", DupNgramN)} AS sh
         FROM (SELECT doc_id, ${TextFns.rawTokensSql("text")} AS toks FROM documents)),
       c AS (
         SELECT doc_id, CAST(len(sh) AS INT) AS n_grams,
           CAST(len(sh) - len(list_distinct(sh)) AS INT) AS n_dup
         FROM sh WHERE len(sh) > 0)
       SELECT doc_id, n_grams, n_dup,
         round(CAST(n_dup AS DOUBLE) / n_grams, 6) AS dup_frac,
         CAST(n_dup AS DOUBLE) / n_grams <= $DupNgramMax AS rep_ok
       FROM c"""

  // ----------------------------------------------------- temperature mixing

  /** q_temp_sampling: temperature-based multilingual sampling weights
    * (the XLM-R recipe): language i with token share p_i is sampled with
    * probability q_i ∝ p_i^α, flattening the language distribution so
    * low-resource languages are upsampled (boost = q/p > 1) and the head
    * language is downsampled. α = 0.5 on purpose — p^0.5 = sqrt(p) is
    * correctly rounded by every IEEE implementation, so both engines
    * compute the identical weight (a general pow(x, 0.7) is NOT
    * guaranteed bit-identical across libm builds). The normalizer Z is a
    * language-count-sized fold summed in sorted-lang order. Complements
    * q_mix_rates' budget-capped planner with the temperature-law planner. */
  def qTempSampling(s: SparkSession, dir: String): DataFrame = {
    val tok = TextPrep.rawDocs(s, dir)
      .select(col("lang"), size(col("rtoks")).cast("long").as("nt"))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("toks"))
    val tot = tok.agg(sum(col("toks")).as("t"))
    val withP = tok.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("toks"),
        sqrt(col("toks").cast("double") / col("t")).as("s"),
        (col("toks").cast("double") / col("t")).as("p"))
    val z = withP
      .agg(OrderedFold.sum(col("s"), col("lang")).as("z"))
    withP.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"), col("toks"),
        round(col("p"), 6).as("p"),
        round(col("s") / col("z"), 6).as("q"),
        round((col("s") / col("z")) / col("p"), 6).as("boost"))
  }

  /** q_ess: Kish effective sample size of the temperature-sampling
    * design — the single number that tells you what the α-reweighting
    * COSTS in statistical power (q_temp_sampling emits per-language
    * boosts; importance-weighting docs by those boosts inflates
    * variance by n/ESS, the standard survey-sampling diagnostic):
    * ESS = (Σ_d w_d)² / Σ_d w_d² with w_d the doc's language boost, so
    * both sums collapse to per-language n_l·b and n_l·b² — k-term
    * ordered folds over the language relation, no fp outside them.
    * ess_frac = ESS/n ∈ (0, 1]; 1 ⇔ uniform weights. */
  def qEss(s: SparkSession, dir: String): DataFrame = {
    val w = qTempSampling(s, dir).select(col("lang"), col("n_docs"), col("boost"))
    val m = w.agg(count(lit(1)).as("k"), sum(col("n_docs")).as("n"),
      OrderedFold.sum(col("n_docs").cast("double") * col("boost"), col("lang")).as("sw"),
      OrderedFold.sum(col("n_docs").cast("double") * col("boost") * col("boost"),
        col("lang")).as("sw2"))
    val ess = col("sw") * col("sw") / col("sw2")
    m.select(col("k"), col("n"), round(ess, 6).as("ess"),
      round(ess / col("n").cast("double"), 6).as("ess_frac"))
  }

  private lazy val qEssSql =
    s"""WITH ts AS ($qTempSamplingSql),
       m AS (SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n_docs) AS BIGINT) AS n,
               list_sum(list(CAST(n_docs AS DOUBLE) * boost ORDER BY lang)) AS sw,
               list_sum(list(CAST(n_docs AS DOUBLE) * boost * boost ORDER BY lang))
                 AS sw2
             FROM ts)
       SELECT k, n, round(sw * sw / sw2, 6) AS ess,
         round(sw * sw / sw2 / CAST(n AS DOUBLE), 6) AS ess_frac
       FROM m"""

  private lazy val qTempSamplingSql = {
    val toks = TextFns.rawTokensSql("text")
    s"""WITH d AS (SELECT lang, CAST(len($toks) AS BIGINT) AS nt FROM documents),
       tok AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nt) AS BIGINT) AS toks
               FROM d GROUP BY lang),
       tot AS (SELECT CAST(sum(toks) AS BIGINT) AS t FROM tok),
       wp AS (SELECT lang, n_docs, toks,
                sqrt(CAST(toks AS DOUBLE) / t) AS s,
                CAST(toks AS DOUBLE) / t AS p
              FROM tok CROSS JOIN tot),
       z AS (SELECT list_sum(list(s ORDER BY lang)) AS z FROM wp)
       SELECT lang, n_docs, toks, round(p, 6) AS p,
         round(s / z, 6) AS q, round((s / z) / p, 6) AS boost
       FROM wp CROSS JOIN z"""
  }

  // ------------------------------------------------------------ calibration

  /** q_calibration: reliability table for the continuous quality score
    * against the boolean Gopher gates — bin the score into deciles and
    * measure the empirical pass rate per bin (the monotone-increasing
    * curve a usable ranking score must show; the ECE/reliability-diagram
    * primitive, computed the only way a 100 TB corpus can: one join on
    * doc_id of two per-row scorings + one tiny groupBy). The bin edge is
    * floor(score·10) over identically-rounded doubles, so both engines
    * bin identically. */
  def qCalibration(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qQuality(s, dir).select(col("doc_id"), col("quality"))
      .join(TextAnalysis.qQualityRules(s, dir).select(col("doc_id"), col("passes")),
        Seq("doc_id"))
      .groupBy(least(floor(col("quality") * 10), lit(9)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("passes").cast("long")).as("n_pass"))
      .select(col("bin"), col("n"), col("n_pass"),
        round(col("n_pass").cast("double") / col("n"), 6).as("pass_rate"))

  private lazy val qCalibrationSql =
    s"""WITH q AS (${TextAnalysis.qQualitySql}),
       r AS (${TextAnalysis.qQualityRulesSql})
       SELECT CAST(least(floor(q.quality * 10), 9) AS INT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN r.passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         round(CAST(sum(CASE WHEN r.passes THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
           AS pass_rate
       FROM q JOIN r ON r.doc_id = q.doc_id
       GROUP BY 1"""

  /** q_isotonic_curve: EXACT hash-gated PAV over the reliability curve —
    * q_calibration SHOWS the per-decile pass rates; isotonic regression
    * is what production calibration actually FITS on them (the
    * monotone-non-decreasing step function minimizing weighted squared
    * error; sklearn's IsotonicRegression, the standard probability
    * calibrator beside Platt scaling). Classification.qIsotonic already
    * fits MLlib's IsotonicRegression at DOC granularity (rows-only + a
    * conservation certificate); this is the complementary DIRECT PAV on
    * the decile curve, every merge decision exact, so the whole fit
    * hash-gates against DuckDB. Pool-adjacent-violators is run as
    * the same bounded-fold ↔ recursive-CTE pair as q_dtw/q_pacf: state =
    * (next bin to consume, stack of pooled blocks); each step either
    * MERGES the top two blocks when the lower's mean exceeds the
    * upper's — tested by EXACT integer cross-multiplication
    * s_prev·c_cur > s_cur·c_prev, never a float mean compare — or PUSHES
    * the next bin; Spark runs 2K guarded fold steps (enough for K pushes
    * + ≤K−1 merges, extras no-op), DuckDB recurses until quiescent, and
    * both leave the identical terminal stack. Block sums are exact
    * integers; the only division is the fitted rate on the output
    * surface. The distributed work is q_calibration's one join + tiny
    * groupBy; PAV itself is O(K) on a dimension-sized row. */
  def qIsotonicCurve(s: SparkSession, dir: String): DataFrame = {
    val stackT = "array<struct<lo:int,hi:int,s:bigint,c:bigint>>"
    val bins = qCalibration(s, dir).select("bin", "n", "n_pass")
    val arrDf = bins.groupBy()
      .agg(array_sort(collect_list(struct(col("bin"), col("n"),
        col("n_pass")))).as("arr"))
      .select(col("arr"), size(col("arr")).as("kk"))
    val arr = col("arr")
    // ANSI discipline: the stack carries a SENTINEL bottom block
    // (lo = −1, mean 0/1 = 0, which can never out-mean a real block and
    // so never merges), and every element_at index is clamped into
    // range — Spark 4 runs ANSI mode, where an out-of-bounds or zero
    // index is an ERROR, not a NULL, even on a when()-untaken branch.
    val sentinel = struct(lit(-1).as("lo"), lit(-1).as("hi"),
      lit(0L).as("s"), lit(1L).as("c"))
    val zero = struct(lit(1).as("pos"), array(sentinel).cast(stackT).as("stack"))
    val folded = arrDf.select(col("arr"), col("kk"),
      aggregate(sequence(lit(1), col("kk") * 2), zero, (acc, _) => {
        val pos = acc.getField("pos")
        val stack = acc.getField("stack")
        val len = size(stack)
        val top = element_at(stack, len)
        val prev = element_at(stack, greatest(len - 1, lit(1)))
        val viol = len >= 2 &&
          prev.getField("s") * top.getField("c") >
            top.getField("s") * prev.getField("c")
        val merged = struct(prev.getField("lo").as("lo"),
          top.getField("hi").as("hi"),
          (prev.getField("s") + top.getField("s")).as("s"),
          (prev.getField("c") + top.getField("c")).as("c"))
        val cur = element_at(arr, least(pos, col("kk")))
        val pushed = struct(cur.getField("bin").as("lo"),
          cur.getField("bin").as("hi"),
          cur.getField("n_pass").as("s"), cur.getField("n").as("c"))
        when(viol, struct(pos.as("pos"),
            concat(slice(stack, lit(1), len - 2), array(merged)).cast(stackT)
              .as("stack")))
          .when(pos <= col("kk"), struct((pos + 1).as("pos"),
            concat(stack, array(pushed)).cast(stackT).as("stack")))
          .otherwise(acc)
      }).getField("stack").as("stack"))
    val blocks = folded.select(explode(col("stack")).as("b"))
      .filter(col("b.lo") >= 0)
      .select(col("b.lo").as("lo"), col("b.hi").as("hi"),
        col("b.s").as("bs"), col("b.c").as("bc"))
    bins.join(blocks, col("bin") >= col("lo") && col("bin") <= col("hi"))
      .select(col("bin"), col("n"), col("n_pass"),
        round(col("n_pass").cast("double") / col("n"), 6).as("raw_rate"),
        round(col("bs").cast("double") / col("bc"), 6).as("iso_rate"),
        (col("hi") > col("lo")).as("pooled"))
  }

  private lazy val qIsotonicCurveSql =
    s"""WITH RECURSIVE bins AS (
         SELECT bin, n, n_pass FROM ($qCalibrationSql)),
       arr AS (SELECT list(struct_pack(bin := bin, n := n, np := n_pass)
                 ORDER BY bin) AS arr,
               CAST(count(*) AS INT) AS kk
             FROM bins),
       pav(step, pos, stack, arr, kk) AS (
         SELECT 0, 1,
           [struct_pack(lo := -1, hi := -1,
             s := CAST(0 AS BIGINT), c := CAST(1 AS BIGINT))],
           arr, kk
         FROM arr
         UNION ALL
         SELECT step + 1,
           CASE WHEN viol THEN pos ELSE pos + 1 END,
           CASE WHEN viol THEN
               stack[1:l - 2] || [struct_pack(
                 lo := stack[l - 1].lo, hi := stack[l].hi,
                 s := stack[l - 1].s + stack[l].s,
                 c := stack[l - 1].c + stack[l].c)]
             ELSE stack || [struct_pack(
               lo := arr[pos].bin, hi := arr[pos].bin,
               s := arr[pos].np, c := arr[pos].n)] END,
           arr, kk
         FROM (SELECT step, pos, stack, arr, kk, len(stack) AS l,
                 (len(stack) >= 2 AND
                   stack[len(stack) - 1].s * stack[len(stack)].c >
                   stack[len(stack)].s * stack[len(stack) - 1].c) AS viol
               FROM pav) t
         WHERE viol OR pos <= kk),
       terminal AS (SELECT stack FROM pav ORDER BY step DESC LIMIT 1),
       blocks AS (SELECT b FROM (SELECT unnest(stack) AS b FROM terminal)
                  WHERE b.lo >= 0)
       SELECT bins.bin, bins.n, bins.n_pass,
         round(CAST(bins.n_pass AS DOUBLE) / bins.n, 6) AS raw_rate,
         round(CAST(b.s AS DOUBLE) / b.c, 6) AS iso_rate,
         b.hi > b.lo AS pooled
       FROM bins JOIN blocks
         ON bins.bin >= b.lo AND bins.bin <= b.hi"""

  /** Brier quantization scale: 2²⁰ — a power of TWO, so quality·2²⁰ is
    * an exact IEEE multiply and ⌊·⌋ lands on the same integer in both
    * engines. */
  private val BrierScale = 1048576L
  private val BrierScaleSq = 1099511627776.0 // 2^40, exact in double

  /** q_brier: Brier score of the quality score read as a probability
    * forecast of the Gopher gate, with the FULL Murphy (1973)
    * decomposition over q_calibration's deciles — reliability (how far
    * bin forecasts sit from bin outcomes), resolution (how far bin
    * outcomes spread from the base rate), uncertainty (the base rate's
    * own variance), and the two within-bin terms — variance AND
    * covariance — that make the identity
    * brier = rel − res + unc + wbv − 2·wbc EXACT at doc granularity
    * (the 3-term textbook decomposition is exact only for forecasts
    * already collapsed to bin representatives; a continuous score
    * binned into deciles carries both residual terms, and the spec
    * asserts the full identity). The score-quality panel beside
    * q_calibration / q_auc / q_lift.
    *
    * Determinism: forecasts are quantized to exact integers
    * pq = ⌊quality·2²⁰⌋, so the global numerator Σ(pq − y·2²⁰)² is an
    * order-FREE exact integer sum (DECIMAL-widened internally, cast to
    * double ONCE on the surface); per-bin means are single divisions of
    * exact integers; the three bin-level sums fold a SORTED ≤10-element
    * array (the k-bounded ordered-fold rule); uncertainty is exact
    * integer arithmetic divided once. One doc-keyed join + one bounded
    * decile rollup — nothing here outgrows 10 bins at any corpus size. */
  def qBrier(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.qQuality(s, dir).select(col("doc_id"), col("quality"))
      .join(TextAnalysis.qQualityRules(s, dir).select(col("doc_id"), col("passes")),
        Seq("doc_id"))
      .select(least(floor(col("quality") * 10), lit(9)).cast("int").as("bin"),
        floor(col("quality") * BrierScale.toDouble).cast("long").as("pq"),
        col("passes").cast("long").as("y"))
    val d = col("pq") - col("y") * BrierScale
    val perBin = scored.groupBy("bin").agg(
      count(lit(1)).as("nk"),
      sum(col("pq")).as("sp"),
      sum(col("y")).as("sy"),
      sum((d * d).cast("decimal(38,0)")).as("ssq"),
      sum((col("pq") * col("pq")).cast("decimal(38,0)")).as("spq2"),
      sum((col("pq") * col("y")).cast("decimal(38,0)")).as("spy"))
    val tot = perBin.agg(sum("nk").as("n"), sum("sy").as("sum_y"),
      sum("ssq").as("ssq_all"))
    val pbar = col("sp").cast("double") / (col("nk").cast("double") * BrierScale.toDouble)
    val ybk = col("sy").cast("double") / col("nk").cast("double")
    val ybar = col("sum_y").cast("double") / col("n").cast("double")
    perBin.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("sum_y"), col("ssq_all"),
        (col("nk").cast("double") * ((pbar - ybk) * (pbar - ybk))).as("rel_t"),
        (col("nk").cast("double") * ((ybk - ybar) * (ybk - ybar))).as("res_t"),
        ((col("spq2").cast("double") -
          col("sp").cast("double") * col("sp").cast("double") / col("nk").cast("double"))
          / BrierScaleSq).as("wbv_t"),
        ((col("spy").cast("double") -
          col("sp").cast("double") * col("sy").cast("double") / col("nk").cast("double"))
          / BrierScale.toDouble).as("wbc_t"))
      .groupBy(col("n"), col("sum_y"), col("ssq_all"))
      .agg(OrderedFold.sum(col("rel_t"), col("bin")).as("rel_t_sum"),
        OrderedFold.sum(col("res_t"), col("bin")).as("res_t_sum"),
        OrderedFold.sum(col("wbv_t"), col("bin")).as("wbv_t_sum"),
        OrderedFold.sum(col("wbc_t"), col("bin")).as("wbc_t_sum"))
      .select(col("n"), col("sum_y").as("n_pass"),
        round(col("ssq_all").cast("double") /
          (col("n").cast("double") * BrierScaleSq), 6).as("brier"),
        round(col("rel_t_sum") / col("n").cast("double"), 6).as("reliability"),
        round(col("res_t_sum") / col("n").cast("double"), 6).as("resolution"),
        round((col("sum_y").cast("double") / col("n").cast("double")) *
          ((col("n") - col("sum_y")).cast("double") / col("n").cast("double")),
          6).as("uncertainty"),
        round(col("wbv_t_sum") / col("n").cast("double"), 6).as("within_bin_var"),
        round(col("wbc_t_sum") / col("n").cast("double"), 6).as("within_bin_cov"))
  }

  private lazy val qBrierSql =
    s"""WITH q AS (${TextAnalysis.qQualitySql}),
       r AS (${TextAnalysis.qQualityRulesSql}),
       sc AS (SELECT CAST(least(floor(q.quality * 10), 9) AS INT) AS bin,
                CAST(floor(q.quality * 1048576.0) AS BIGINT) AS pq,
                CAST(CASE WHEN r.passes THEN 1 ELSE 0 END AS BIGINT) AS y
              FROM q JOIN r ON r.doc_id = q.doc_id),
       pb AS (SELECT bin, CAST(count(*) AS BIGINT) AS nk,
                CAST(sum(pq) AS BIGINT) AS sp,
                CAST(sum(y) AS BIGINT) AS sy,
                sum(CAST((pq - y * 1048576) * (pq - y * 1048576) AS HUGEINT)) AS ssq,
                sum(CAST(pq * pq AS HUGEINT)) AS spq2,
                sum(CAST(pq * y AS HUGEINT)) AS spy
              FROM sc GROUP BY bin),
       tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n,
                 CAST(sum(sy) AS BIGINT) AS sum_y,
                 sum(ssq) AS ssq_all FROM pb),
       terms AS (SELECT pb.bin, t.n, t.sum_y, t.ssq_all,
           CAST(nk AS DOUBLE) *
             ((CAST(sp AS DOUBLE) / (CAST(nk AS DOUBLE) * 1048576.0)
               - CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE))
            * (CAST(sp AS DOUBLE) / (CAST(nk AS DOUBLE) * 1048576.0)
               - CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE))) AS rel_t,
           CAST(nk AS DOUBLE) *
             ((CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)
               - CAST(t.sum_y AS DOUBLE) / CAST(t.n AS DOUBLE))
            * (CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE)
               - CAST(t.sum_y AS DOUBLE) / CAST(t.n AS DOUBLE))) AS res_t,
           (CAST(spq2 AS DOUBLE)
             - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / CAST(nk AS DOUBLE))
             / 1099511627776.0 AS wbv_t,
           (CAST(spy AS DOUBLE)
             - CAST(sp AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(nk AS DOUBLE))
             / 1048576.0 AS wbc_t
         FROM pb CROSS JOIN tot t)
       SELECT n, sum_y AS n_pass,
         round(CAST(ssq_all AS DOUBLE) / (CAST(n AS DOUBLE) * 1099511627776.0), 6) AS brier,
         round(list_sum(list(rel_t ORDER BY bin)) / CAST(n AS DOUBLE), 6) AS reliability,
         round(list_sum(list(res_t ORDER BY bin)) / CAST(n AS DOUBLE), 6) AS resolution,
         round((CAST(sum_y AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(n - sum_y AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS uncertainty,
         round(list_sum(list(wbv_t ORDER BY bin)) / CAST(n AS DOUBLE), 6) AS within_bin_var,
         round(list_sum(list(wbc_t ORDER BY bin)) / CAST(n AS DOUBLE), 6) AS within_bin_cov
       FROM terms GROUP BY n, sum_y, ssq_all"""

  // ----------------------------------------------------------------- lift

  /** q_lift: cumulative-gains / lift table at score deciles — the
    * business-facing twin of q_calibration's reliability diagram (a
    * ranking score earns its keep by concentrating positives in the top
    * deciles: gain = share of positives captured, lift = gain ÷ share of
    * population). Docs are ranked by (quality desc, doc_id) through the
    * DISTRIBUTED ranker (a bare global window would collapse to one
    * task); the decile is cross-multiplied integer arithmetic
    * ⌈rank·10/N⌉; the cumulative pass is one window over the 10-row
    * decile table. Counts exact; gain/lift divide once each. */
  def qLift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = TextAnalysis.qQuality(s, dir).select(col("doc_id"), col("quality"))
      .join(TextAnalysis.qQualityRules(s, dir).select(col("doc_id"), col("passes")),
        Seq("doc_id"))
    val ranked = graft.functions.Ranks.globalRowNumber(
      scored, col("quality").desc, col("doc_id").asc)
    val tot = scored.agg(count(lit(1)).as("n_all"),
      sum(col("passes").cast("long")).as("pos_all"))
    val byDecile = ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("(rn * 10 + n_all - 1) div n_all").cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col("passes").cast("long")).as("n_pos"),
        first(col("n_all")).as("n_all"), first(col("pos_all")).as("pos_all"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("cum_n", sum(col("n")).over(wCum))
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .select(col("decile"), col("n"), col("n_pos"), col("cum_n"), col("cum_pos"),
        round(col("cum_pos").cast("double") / col("pos_all"), 6).as("gain"),
        round((col("cum_pos").cast("double") / col("pos_all")) /
          (col("cum_n").cast("double") / col("n_all")), 6).as("lift"))
  }

  private lazy val qLiftSql =
    s"""WITH q AS (${TextAnalysis.qQualitySql}),
       r AS (${TextAnalysis.qQualityRulesSql}),
       sc AS (SELECT q.doc_id, q.quality, r.passes
              FROM q JOIN r ON r.doc_id = q.doc_id),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
                 CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS pos_all
               FROM sc),
       rk AS (SELECT doc_id, passes,
                row_number() OVER (ORDER BY quality DESC, doc_id ASC) AS rn
              FROM sc),
       dec AS (SELECT CAST((rn * 10 + n_all - 1) // n_all AS INT) AS decile,
                 passes, n_all, pos_all
               FROM rk CROSS JOIN tot),
       agg AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                 any_value(n_all) AS n_all, any_value(pos_all) AS pos_all
               FROM dec GROUP BY decile),
       cum AS (SELECT decile, n, n_pos, n_all, pos_all,
                 CAST(sum(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
                 CAST(sum(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
               FROM agg)
       SELECT decile, n, n_pos, cum_n, cum_pos,
         round(CAST(cum_pos AS DOUBLE) / pos_all, 6) AS gain,
         round((CAST(cum_pos AS DOUBLE) / pos_all) / (CAST(cum_n AS DOUBLE) / n_all), 6) AS lift
       FROM cum"""

  // ------------------------------------------------------------ four-fifths

  /** q_fourfifths: disparate-impact audit of the quality gate across
    * languages — the four-fifths rule (EEOC 1978, now the standard
    * first-pass fairness screen): a group whose selection rate falls
    * below 4/5 of the most-selected group's rate is adversely impacted.
    * Here the "selection" is the Gopher rules gate (q_quality_rules) and
    * the protected attribute is document language — exactly the audit a
    * multilingual curation pipeline owes its corpus (aggressive quality
    * filters are known to disproportionately drop low-resource
    * languages). Per-language (n, passes) are exact integers; the
    * max-rate group is an argmax with language tie-break; the 4/5 flag is
    * CROSS-MULTIPLIED exact (5·p_g·n_max < 4·p_max·n_g — no rounded
    * ratio ever decides); only the reported rates divide. */
  def qFourFifths(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = TextAnalysis.qQualityRules(s, dir).select(col("doc_id"), col("passes"))
      .join(Tables.documents(s, dir).select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("passes").cast("long")).as("p"))
    val top = byLang
      .withColumn("r", row_number().over(Window.orderBy(
        (col("p").cast("double") / col("n")).desc, col("lang").asc)))
      .filter(col("r") === 1)
      .select(col("lang").as("ref_lang"), col("n").as("n_max"), col("p").as("p_max"))
    byLang.crossJoin(broadcast(top))
      .select(col("lang"), col("n"), col("p"),
        round(col("p").cast("double") / col("n"), 6).as("pass_rate"),
        col("ref_lang"),
        round((col("p").cast("double") / col("n")) /
          (col("p_max").cast("double") / col("n_max")), 6).as("impact_ratio"),
        (col("p") * 5 * col("n_max") < col("p_max") * 4 * col("n"))
          .as("adverse_impact"))
  }

  private lazy val qFourFifthsSql =
    s"""WITH r AS (${TextAnalysis.qQualityRulesSql}),
       bl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS p
              FROM r JOIN documents USING (doc_id) GROUP BY lang),
       top AS (SELECT lang AS ref_lang, n AS n_max, p AS p_max FROM (
                 SELECT lang, n, p, row_number() OVER (
                   ORDER BY CAST(p AS DOUBLE) / n DESC, lang ASC) AS rr
                 FROM bl) WHERE rr = 1)
       SELECT lang, n, p,
         round(CAST(p AS DOUBLE) / n, 6) AS pass_rate,
         ref_lang,
         round((CAST(p AS DOUBLE) / n) / (CAST(p_max AS DOUBLE) / n_max), 6) AS impact_ratio,
         p * 5 * n_max < p_max * 4 * n AS adverse_impact
       FROM bl CROSS JOIN top"""

  // ---------------------------------------------------------- good-turing

  /** Katz-style cutoff: only low frequencies get GT-adjusted counts. */
  val GoodTuringMaxR = 20

  /** q_good_turing: simple Good–Turing frequency-of-frequencies table
    * over word-TRIGRAM counts — the LM-smoothing diagnostic that says
    * how much probability mass an n-gram LM should reserve for UNSEEN
    * events (the companion to q_oov, which measures the seen/unseen
    * split against a fixed vocab): for each low frequency r, N_r
    * (trigrams seen exactly r times) and the adjusted count
    * r* = (r+1)·N_{r+1}/N_r. Trigrams, not unigrams, deliberately: the
    * driver corpus draws from a ~31-token vocabulary whose every
    * unigram is frequent (min cf 26 at sf0.01 — a unigram gate would
    * be VACUOUS below any sane cutoff), while trigram counts show the
    * classic Zipfian count-of-counts (N_1 ≈ 9.4k at sf0.01) that GT
    * exists for. One explode off the memoized raw-token stage + two
    * bounded aggregates; the r↔r+1 alignment is a self-join on the
    * tiny distinct-frequency table (Katz cutoff r ≤ 20). r* stays an
    * exact integer product over one division — identical doubles in
    * both engines. */
  def qGoodTuring(s: SparkSession, dir: String): DataFrame = {
    val tri = TextPrep.rawDocs(s, dir)
      .select(explode(TextFns.shingles(col("rtoks"), 3)).as("tri"))
    val nr = tri.groupBy("tri").agg(count(lit(1)).as("cf"))
      .groupBy(col("cf").as("r")).agg(count(lit(1)).as("n_r"))
      .filter(col("r") <= GoodTuringMaxR + 1)
    val nr1 = nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
    nr.join(nr1, Seq("r"), "left").na.fill(0L, Seq("n_r1"))
      .filter(col("r") <= GoodTuringMaxR)
      .select(col("r").cast("int").as("r"), col("n_r"), col("n_r1"),
        round(((col("r") + 1) * col("n_r1")).cast("double") / col("n_r"), 6)
          .as("r_star"))
  }

  private lazy val qGoodTuringSql =
    s"""WITH d AS (SELECT ${TextFns.rawTokensSql("text")} AS toks FROM documents),
       tg AS (SELECT unnest(${TextFns.shinglesSql("toks", 3)}) AS tri FROM d),
       ts AS (SELECT tri, CAST(count(*) AS BIGINT) AS cf FROM tg GROUP BY tri),
       nr AS (SELECT cf AS r, CAST(count(*) AS BIGINT) AS n_r
              FROM ts GROUP BY cf)
       SELECT CAST(a.r AS INT) AS r, a.n_r, coalesce(b.n_r, 0) AS n_r1,
         round(CAST((a.r + 1) * coalesce(b.n_r, 0) AS DOUBLE) / a.n_r, 6) AS r_star
       FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
       WHERE a.r <= $GoodTuringMaxR"""

  /** Phrase blocklist of the policy filter (the C4 "bad words" stage shape
    * — C4 drops any page containing a blocklist phrase; the LIST here is a
    * deterministic stand-in over the synthetic vocabulary, the OPERATOR is
    * the real thing). Multi-word phrases exercise the token-boundary
    * matching a naive substring check gets wrong. */
  val Blocklist: Seq[String] = Seq("slow", "hash value", "merge batch", "fast table")

  /** q_blocklist: phrase-blocklist policy filter — per doc, the number of
    * distinct blocklist phrases present and the total hit count
    * (token-boundary regex on the lowercased text; `\b` word boundaries
    * behave identically in Java regex and RE2), plus the C4-style
    * `blocked` verdict. Pure per-row codegen map over the scan — the
    * 100 TB plan is the scan itself; the blocklist is a bounded literal
    * (a production list broadcast-joins the same shape). */
  def qBlocklist(s: SparkSession, dir: String): DataFrame = {
    val txt = lower(col("text"))
    val hits = Blocklist.map(p => regexp_count(txt, lit("\\b" + p + "\\b")))
    val nPhrases = hits.map(h => when(h > 0, 1).otherwise(0))
      .reduce(_ + _).cast("long")
    val nHits = hits.reduce(_ + _).cast("long")
    Tables.documents(s, dir)
      .select(col("doc_id"), nPhrases.as("n_phrases"), nHits.as("n_hits"),
        (nHits > 0L).as("blocked"))
  }

  private lazy val qBlocklistSql = {
    val hits = Blocklist.map(p =>
      s"len(regexp_extract_all(lower(text), '\\b${p}\\b'))")
    val nPhrases = hits.map(h => s"CASE WHEN $h > 0 THEN 1 ELSE 0 END").mkString(" + ")
    val nHits = hits.mkString(" + ")
    s"""SELECT doc_id, CAST($nPhrases AS BIGINT) AS n_phrases,
         CAST($nHits AS BIGINT) AS n_hits, ($nHits) > 0 AS blocked
       FROM documents"""
  }

  /** Head size reported by [[qNegSampling]] (the full table is
    * vocabulary-sized; the gate pins the head the trainer actually
    * inspects — the q_cms_audit TopK convention). */
  val NegSamplingTopK = 100

  /** q_neg_sampling: word2vec/GloVe negative-sampling distribution —
    * the embedding-training-prep member of the sampling family beside
    * q_temp_sampling (α=0.5 via one sqrt): Mikolov's canonical unigram
    * exponent is 0.75, and x^0.75 = sqrt(x·sqrt(x)) — two IEEE
    * CORRECTLY-ROUNDED sqrts and one multiply, so the weight is
    * bit-identical across engines where a general pow(x, 0.75) is not
    * (the libm-seam rule that bans exp/pow from gated surfaces).
    * The normalizer dodges the k-bounded ordered-fold idiom entirely:
    * weights are quantized to exact integers wq = ⌊w·2²⁰⌋ (the scale is
    * a power of TWO, so the multiply is exact), making Z = Σwq an
    * order-FREE exact-integer sum — fully partial-aggregable over a
    * vocabulary no collect_list fold should ever hold (the fold rule is
    * for k-bounded relations; vocabularies are not k-bounded). share
    * and the vs-unigram boost are single divisions of exact integers,
    * rounded on output only. One aggregate over the memoized token
    * stats + a TakeOrderedAndProject head. */
  def qNegSampling(s: SparkSession, dir: String): DataFrame = {
    val w = TextPrep.tokenStats(s, dir).select(col("tok"), col("cf"),
      floor(sqrt(col("cf").cast("double") * sqrt(col("cf").cast("double")))
        * 1048576.0).as("wq"))
    val tot = w.agg(sum(col("wq")).as("zw"), sum(col("cf")).as("zc"))
    w.orderBy(col("cf").desc, col("tok").asc).limit(NegSamplingTopK)
      .crossJoin(broadcast(tot))
      .select(col("tok"), col("cf"), col("wq"),
        round(col("wq").cast("double") / col("zw"), 6).as("share"),
        round((col("wq").cast("double") / col("zw"))
          * (col("zc").cast("double") / col("cf")), 6).as("boost"))
  }

  private lazy val qNegSamplingSql = {
    val toks = TextFns.cleanTokensSql("text")
    s"""WITH tk AS (SELECT unnest($toks) AS tok FROM documents),
       stats AS (SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM tk GROUP BY tok),
       w AS (SELECT tok, cf,
               CAST(floor(sqrt(cf * sqrt(cf)) * 1048576) AS BIGINT) AS wq
             FROM stats),
       tot AS (SELECT CAST(sum(wq) AS BIGINT) AS zw,
                 CAST(sum(cf) AS BIGINT) AS zc FROM w),
       top AS (SELECT tok, cf, wq FROM (
                 SELECT tok, cf, wq,
                   row_number() OVER (ORDER BY cf DESC, tok ASC) AS r
                 FROM w) WHERE r <= $NegSamplingTopK)
       SELECT tok, cf, wq,
         round(CAST(wq AS DOUBLE) / zw, 6) AS share,
         round((CAST(wq AS DOUBLE) / zw) * (CAST(zc AS DOUBLE) / cf), 6) AS boost
       FROM top CROSS JOIN tot"""
  }

  override def registry: Seq[Q] = Seq(
    Q("q_neg_sampling", qNegSampling, Oracle(qNegSamplingSql)),
    Q("q_brier", qBrier, Oracle(qBrierSql)),
    Q("q_blocklist", qBlocklist, Oracle(qBlocklistSql)),
    Q("q_ccnet_buckets", qCcnetBuckets, Oracle(qCcnetBucketsSql)),
    Q("q_good_turing", qGoodTuring, Oracle(qGoodTuringSql)),
    Q("q_bigram_lm", qBigramLm, Oracle(qBigramLmSql)),
    Q("q_kneser_ney", qKneserNey, Oracle(qKneserNeySql)),
    Q("q_tok_fertility", qTokFertility, Oracle(qTokFertilitySql)),
    Q("q_dup_ngrams", qDupNgrams, Oracle(qDupNgramsSql)),
    Q("q_temp_sampling", qTempSampling, Oracle(qTempSamplingSql)),
    Q("q_ess", qEss, Oracle(qEssSql)),
    Q("q_calibration", qCalibration, Oracle(qCalibrationSql)),
    Q("q_isotonic_curve", qIsotonicCurve, Oracle(qIsotonicCurveSql)),
    Q("q_lift", qLift, Oracle(qLiftSql)),
    Q("q_fourfifths", qFourFifths, Oracle(qFourFifthsSql)))
}
