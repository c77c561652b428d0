package graft.operators

import graft.{Ml, Oracle, Q, QueryModule}
import graft.functions.{OrderedFold, TextFns}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data text analysis, all per-row Column expressions (codegen,
  * embarrassingly parallel — the 100 TB case is a pure map over the scan):
  * language-ID (marker-word scoring), quality scoring, token counting
  * (whitespace + BPE-ish regex), document fingerprinting (md5 canonical).
  */
object TextAnalysis extends QueryModule {

  // marker lists for the n-gram/stopword language heuristic
  val EnMarkers = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  val DeMarkers = Seq("der", "die", "das", "und", "ist", "mit", "ein", "nicht")
  val EsMarkers = Seq("el", "la", "los", "y", "es", "un", "una", "que")
  val FrMarkers = Seq("le", "les", "et", "est", "une", "des", "du", "avec")

  private def score(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers: _*)))

  private def scoreSql(toksCol: String, markers: Seq[String]): String =
    s"len(list_filter($toksCol, t -> t IN ${markers.map(m => s"'$m'").mkString("(", ",", ")")}))"

  /** Deterministic argmax over the four score columns with fixed priority
    * en > de > es > fr, 'und' when nothing matches (shared by both
    * language-ID variants). */
  private def argmaxLang: Column =
    when(col("en_s") >= col("de_s") && col("en_s") >= col("es_s") &&
      col("en_s") >= col("fr_s") && col("en_s") > 0, "en")
      .when(col("de_s") >= col("es_s") && col("de_s") >= col("fr_s") &&
        col("de_s") > 0, "de")
      .when(col("es_s") >= col("fr_s") && col("es_s") > 0, "es")
      .when(col("fr_s") > 0, "fr")
      .otherwise("und")

  /** Marker-word language-ID over any frame with an `rtoks` raw-token
    * column (or a `text` column to tokenize) — input columns are
    * preserved, so consumers (q_eval_metrics) can score prediction
    * against a same-row gold label without re-joining the corpus. */
  def langIdOf(docs: DataFrame): DataFrame = {
    val base =
      if (docs.columns.contains("rtoks")) docs
      else docs.withColumn("rtoks", TextFns.rawTokens(col("text")))
    val toks = col("rtoks")
    base
      .withColumn("en_s", score(toks, EnMarkers))
      .withColumn("de_s", score(toks, DeMarkers))
      .withColumn("es_s", score(toks, EsMarkers))
      .withColumn("fr_s", score(toks, FrMarkers))
      .withColumn("pred_lang", argmaxLang)
  }

  /** q_lang_id: deterministic argmax over marker hit counts with fixed
    * priority en > de > es > fr, 'und' when nothing matches. */
  def qLangId(s: SparkSession, dir: String): DataFrame =
    langIdOf(TextPrep.rawDocs(s, dir))
      .select("doc_id", "en_s", "de_s", "es_s", "fr_s", "pred_lang")

  private[operators] val qLangIdSql = {
    val t = TextFns.rawTokensSql("text")
    s"""WITH sc AS (
         SELECT doc_id,
           CAST(${scoreSql("toks", EnMarkers)} AS INT) AS en_s,
           CAST(${scoreSql("toks", DeMarkers)} AS INT) AS de_s,
           CAST(${scoreSql("toks", EsMarkers)} AS INT) AS es_s,
           CAST(${scoreSql("toks", FrMarkers)} AS INT) AS fr_s
         FROM (SELECT doc_id, $t AS toks FROM documents))
       SELECT doc_id, en_s, de_s, es_s, fr_s,
         CASE WHEN en_s >= de_s AND en_s >= es_s AND en_s >= fr_s AND en_s > 0 THEN 'en'
              WHEN de_s >= es_s AND de_s >= fr_s AND de_s > 0 THEN 'de'
              WHEN es_s >= fr_s AND es_s > 0 THEN 'es'
              WHEN fr_s > 0 THEN 'fr'
              ELSE 'und' END AS pred_lang
       FROM sc"""
  }

  // characteristic char-bigram profiles (tiny literal tables; scoring is a
  // pure per-row expression via the replace-and-measure occurrence count)
  val EnBigrams = Seq("th", "he", "in", "er", "an")
  val DeBigrams = Seq("ch", "ei", "en", "de", "un")
  val EsBigrams = Seq("la", "os", "el", "ue", "ar")
  val FrBigrams = Seq("le", "es", "ou", "ai", "nt")

  /** Non-overlapping occurrence count of each bigram via the replace trick:
    * (len(t) − len(replace(t, b, ''))) / 2 — identical left-to-right
    * semantics in Spark and DuckDB, fully codegen, no explode. */
  private def bigramScore(tCol: String, bigrams: Seq[String]): Column =
    bigrams.map(b =>
      (length(col(tCol)) - length(expr(s"replace($tCol, '$b', '')"))) / 2)
      .reduce(_ + _).cast("int")

  private def bigramScoreSql(tCol: String, bigrams: Seq[String]): String =
    "CAST(" + bigrams.map(b =>
      s"(len($tCol) - len(replace($tCol, '$b', ''))) / 2").mkString(" + ") + " AS INT)"

  /** q_lang_ngram: character-n-gram language ID — the n-gram counterpart of
    * the marker-word heuristic (q_lang_id); same argmax + priority rule. */
  def qLangNgram(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"),
        bigramScore("t", EnBigrams).as("en_s"), bigramScore("t", DeBigrams).as("de_s"),
        bigramScore("t", EsBigrams).as("es_s"), bigramScore("t", FrBigrams).as("fr_s"))
      .withColumn("pred_lang", argmaxLang)

  private val qLangNgramSql =
    s"""WITH sc AS (
         SELECT doc_id,
           ${bigramScoreSql("t", EnBigrams)} AS en_s,
           ${bigramScoreSql("t", DeBigrams)} AS de_s,
           ${bigramScoreSql("t", EsBigrams)} AS es_s,
           ${bigramScoreSql("t", FrBigrams)} AS fr_s
         FROM (SELECT doc_id, lower(text) AS t FROM documents))
       SELECT doc_id, en_s, de_s, es_s, fr_s,
         CASE WHEN en_s >= de_s AND en_s >= es_s AND en_s >= fr_s AND en_s > 0 THEN 'en'
              WHEN de_s >= es_s AND de_s >= fr_s AND de_s > 0 THEN 'de'
              WHEN es_s >= fr_s AND es_s > 0 THEN 'es'
              WHEN fr_s > 0 THEN 'fr'
              ELSE 'und' END AS pred_lang
       FROM sc"""

  /** The composite quality score over (n_toks, n_stop, tok_chars) columns.
    * floor(x·1e6 + 0.5)/1e6 instead of round(x, 6): the three-term sum can
    * land exactly on a .5 rounding boundary, where Spark's BigDecimal
    * HALF_UP and DuckDB's rint disagree on the same double; floor runs the
    * identical IEEE sequence in both engines (the q_embed_quant trick).
    * ONE definition shared by q_quality and the fused corpus-stats plan. */
  private def qualityExpr: Column =
    floor((
      least(col("n_toks").cast("double") / 50.0, lit(1.0)) * 0.4 +
        (lit(1.0) - col("n_stop").cast("double") / col("n_toks")) * 0.3 +
        least((col("tok_chars").cast("double") / col("n_toks")) / 8.0, lit(1.0)) * 0.3
      ) * 1000000.0 + 0.5) / 1000000.0

  /** doc_id, quality, flesch in ONE pass over the memoized rawDocs —
    * the fused input of q_spearman (r21): computing qQuality and
    * qReadability separately and joining on doc_id re-scans documents
    * and re-runs one of the two scoring chains single-core; both scores
    * are pure projections of the same row, so the join is a fusion the
    * optimizer can't see (guide §2.4). Expressions are VERBATIM those of
    * qQuality / qReadability (same filter n_toks > 0 ≡ the inner join's
    * row set: readability covers every doc). */
  private[operators] def qualityFleschDocs(s: SparkSession, dir: String): DataFrame =
    TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), col("text"),
        size(col("rtoks")).as("n_toks"),
        size(filter(col("rtoks"), t => t.isin(TextFns.Stopwords: _*))).as("n_stop"),
        aggregate(col("rtoks"), lit(0L), (acc, t) => acc + length(t)).as("tok_chars"))
      .filter(col("n_toks") > 0)
      .select(col("doc_id"), qualityExpr.as("quality"),
        greatest(regexp_count(col("text"), lit("[A-Za-z]+")), lit(1)).as("words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).as("sentences"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).as("syllables"))
      .select(col("doc_id"), col("quality"),
        (lit(206.835) - lit(1.015) * (col("words") / col("sentences"))
          - lit(84.6) * (col("syllables") / col("words"))).as("flesch"))

  /** q_quality: length / stopword-ratio / mean-word-length quality score.
    * All ratios are double divisions of exact integers — engine-identical. */
  def qQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = col("toks") // bound column: tokenize once, derive four stats
    TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), col("text"), col("rtoks").as("toks"))
      .select(col("doc_id"), length(col("text")).as("n_chars_m"),
        size(toks).as("n_toks"),
        size(filter(toks, t => t.isin(TextFns.Stopwords: _*))).as("n_stop"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("tok_chars"))
      .filter(col("n_toks") > 0)
      .select(col("doc_id"), col("n_chars_m"), col("n_toks"),
        round(col("n_stop").cast("double") / col("n_toks"), 6).as("stop_ratio"),
        round(col("tok_chars").cast("double") / col("n_toks"), 6).as("avg_tok_len"),
        qualityExpr.as("quality"))
  }

  private[operators] val qQualitySql = {
    val t = TextFns.rawTokensSql("text")
    s"""WITH b AS (
         SELECT doc_id, CAST(len(text) AS INT) AS n_chars_m,
           CAST(len(toks) AS INT) AS n_toks,
           CAST(len(list_filter(toks, t -> t IN ${TextFns.stopListSql})) AS INT) AS n_stop,
           CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS tok_chars
         FROM (SELECT doc_id, text, $t AS toks FROM documents))
       SELECT doc_id, n_chars_m, n_toks,
         round(CAST(n_stop AS DOUBLE) / n_toks, 6) AS stop_ratio,
         round(CAST(tok_chars AS DOUBLE) / n_toks, 6) AS avg_tok_len,
         floor((
           least(CAST(n_toks AS DOUBLE) / 50.0, 1.0) * 0.4 +
           (1.0 - CAST(n_stop AS DOUBLE) / n_toks) * 0.3 +
           least((CAST(tok_chars AS DOUBLE) / n_toks) / 8.0, 1.0) * 0.3
         ) * 1000000 + 0.5) / 1000000 AS quality
       FROM b WHERE n_toks > 0"""
  }

  /** Low-entropy gate: below ~2.5 nats a doc's token distribution is
    * dominated by a few repeated tokens — templated/looping text. */
  val EntropyMin = 2.5

  /** q_entropy: per-doc Shannon entropy of the token distribution (in
    * nats) — the repetitiveness signal complementing the top-bigram gate:
    * H = ln(n) − (Σ c·ln c)/n over per-doc token counts. Pure per-row
    * codegen (no shuffle): counts come from higher-order array functions
    * over the one shared tokenization, and the Σ c·ln c fold runs over the
    * SORTED distinct tokens, so the floating addition order is identical
    * in both engines (the PMI/zipf ln() determinism pattern) and round(6)
    * lands on the same value. Per-doc cost is O(k·n) array scanning with
    * k distinct tokens — bounded by document length, never corpus size. */
  def entropyOf(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    val n = size(toks).cast("double")
    val ds = array_sort(array_distinct(toks))
    val sum_clnc = aggregate(ds, lit(0.0), (acc, t) => {
      val c = size(filter(toks, x => x === t)).cast("double")
      acc + c * log(c)
    })
    val base =
      if (docs.columns.contains("rtoks")) docs.select(col("doc_id"), col("rtoks"))
      else docs.select(col("doc_id"), TextFns.rawTokens(col("text")).as("rtoks"))
    base
      .select(col("doc_id"), col("rtoks").as("toks"))
      .filter(size(toks) > 0)
      .select(col("doc_id"), size(toks).as("n_toks"),
        round(log(n) - sum_clnc / n, 6).as("entropy"))
      .select(col("doc_id"), col("n_toks"), col("entropy"),
        (col("entropy") >= EntropyMin).as("entropy_ok"))
  }

  def qEntropy(s: SparkSession, dir: String): DataFrame =
    entropyOf(TextPrep.rawDocs(s, dir))

  private[operators] val qEntropySql = {
    val t = TextFns.rawTokensSql("text")
    s"""WITH b AS (SELECT doc_id, $t AS toks FROM documents),
       e AS (
         SELECT doc_id, CAST(len(toks) AS INT) AS n_toks,
           round(ln(CAST(len(toks) AS DOUBLE)) -
             list_sum(list_transform(list_sort(list_distinct(toks)),
               t -> CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE) *
                    ln(CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE))))
             / CAST(len(toks) AS DOUBLE), 6) AS entropy
         FROM b WHERE len(toks) > 0)
       SELECT doc_id, n_toks, entropy, entropy >= $EntropyMin AS entropy_ok
       FROM e"""
  }

  /** q_normalize: Unicode NFC canonicalization audit — composed vs
    * decomposed accent sequences render identically but hash differently,
    * so every fingerprint/dedup pass needs NFC first. The normalizer is a
    * NATIVE codegen expression (functions.TextKernel.NfcNormalize, with an
    * isNormalized fast path so ASCII rows allocate nothing); the audit
    * emits the canonical-text md5 and whether normalization changed the
    * row. DuckDB's nfc_normalize implements the same TR-15 composition, so
    * the md5s hash-gate exactly. */
  def qNormalize(s: SparkSession, dir: String): DataFrame = {
    val norm = TextFns.nfcNormalize(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(norm).as("norm_md5"),
        (norm =!= col("text")).as("changed"))
  }

  private val qNormalizeSql =
    """SELECT doc_id, md5(nfc_normalize(text)) AS norm_md5,
       nfc_normalize(text) <> text AS changed
       FROM documents"""

  /** q_token_count: whitespace tokens + BPE-ish regex tokens. The regex
    * avoids backslash classes so Java regex and RE2 agree literally. */
  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    TextPrep.rawDocs(s, dir)
      .select(col("doc_id"),
        size(col("rtoks")).as("ws_tokens"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]', 0)"))
          .as("bpe_tokens"))

  private val qTokenCountSql =
    s"""SELECT doc_id,
        CAST(len(${TextFns.rawTokensSql("text")}) AS INT) AS ws_tokens,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS INT) AS bpe_tokens
        FROM documents"""

  /** q_ttr: type-token ratio per document (lexical diversity — distinct
    * clean tokens over total clean tokens; low TTR = repetitive/template
    * text, the per-doc cousin of the corpus-level Zipf/entropy gates and
    * a standard feature beside quality scores). Pure per-row array
    * expressions off the memoized clean-token stage — codegen, zero
    * shuffle; counts are exact integers to one division. */
  def qTtr(s: SparkSession, dir: String): DataFrame =
    TextPrep.cleanDocs(s, dir)
      .select(col("doc_id"),
        size(array_distinct(col("toks"))).as("n_types"),
        size(col("toks")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_types"), col("n_tokens"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"))

  private lazy val qTtrSql = {
    val t = TextFns.cleanTokensSql("text")
    s"""WITH d AS (SELECT doc_id, $t AS toks FROM documents)
       SELECT doc_id, CAST(len(list_distinct(toks)) AS INT) AS n_types,
         CAST(len(toks) AS INT) AS n_tokens,
         round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr
       FROM d WHERE len(toks) > 0"""
  }

  /** q_burstiness: per-token burstiness (Church & Gale: collection
    * frequency over document frequency — mean occurrences per CONTAINING
    * doc; function words spread evenly ≈ docs·tf while topical/bursty
    * terms clump). Reads the memoized vocabulary stats (no corpus pass);
    * burst = cf/df is an exact-integer ratio to one division; ranked
    * (burst desc, tok asc) with a top-k cut so the output stays bounded
    * when the vocabulary is 10⁸ tokens. */
  /** q_chao1: Chao1 vocabulary-richness estimator per language — "how
    * many word types does this language's corpus REALLY have, counting
    * the ones we haven't seen yet?" (the Good–Turing sibling: 60n models
    * the frequency-of-frequencies, Chao1 turns its first two cells into
    * the classic lower-bound estimate V + f₁(f₁−1)/(2(f₂+1)),
    * bias-corrected form so f₂ = 0 stays defined). The vocabulary-growth
    * planning number beside q_heaps' empirical curve. All exact integer
    * aggregates of the per-(lang, token) counts; one double expression. */
  def qChao1(s: SparkSession, dir: String): DataFrame = {
    val tf = TextPrep.cleanDocs(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .select(col("lang"), explode(col("toks")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("f"))
    val chao = col("n_types").cast("double") +
      col("f1").cast("double") * (col("f1") - 1).cast("double") /
        (lit(2.0) * (col("f2") + 1).cast("double"))
    tf.groupBy("lang").agg(
        count(lit(1)).as("n_types"), sum(col("f")).as("n_tokens"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("f") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        col("f1"), col("f2"), round(chao, 6).as("chao1"))
  }

  private lazy val qChao1Sql = {
    val t = TextFns.cleanTokensSql("text")
    s"""WITH w AS (SELECT lang, unnest($t) AS tok FROM documents),
       tf AS (SELECT lang, tok, count(*) AS f FROM w GROUP BY 1, 2),
       a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(f) AS BIGINT) AS n_tokens,
               CAST(count(*) FILTER (WHERE f = 1) AS BIGINT) AS f1,
               CAST(count(*) FILTER (WHERE f = 2) AS BIGINT) AS f2
             FROM tf GROUP BY lang)
       SELECT lang, n_tokens, n_types, f1, f2,
         round(CAST(n_types AS DOUBLE)
           + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
             / (2.0 * CAST(f2 + 1 AS DOUBLE)), 6) AS chao1
       FROM a"""
  }

  /** KS 95% critical coefficient (asymptotic, c(α)=1.358). */
  val KsCrit95 = 1.358

  /** q_sampler_audit: Kolmogorov–Smirnov uniformity certificate of the
    * md5 sampling uniforms — the methodological audit underneath the
    * whole deterministic-sampling family (47j's 3/16 gate, 47j2's hex
    * prefixes, 47j3's hash ranks and 55b's Efraimidis–Spirakis keys ALL
    * assume md5(doc_id) behaves as U(0,1); this query tests exactly
    * that, corpus-visible instead of folklore). u = first 52 bits of
    * md5 / 2⁵² (exactly representable doubles), exact ECDF via the
    * distributed global ranking (range-partitioned, never one task),
    * D = max(i/n − u, u − (i−1)/n) per rank, gate at the asymptotic
    * 95% band 1.358/√n. A biased hash, a doc_id→hex bug, or a
    * truncation mistake all move D outside the band. */
  def qSamplerAudit(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.documents(s, dir).select(col("doc_id"),
      (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("long").cast("double") / lit(4503599627370496.0)).as("u"))
    val n = u.count()
    val ranked = graft.functions.Ranks.globalRowNumber(
      u, col("u").asc, col("doc_id").asc)
    val nD = lit(n.toDouble)
    val term = greatest(col("rn").cast("double") / nD - col("u"),
      col("u") - (col("rn") - 1).cast("double") / nD)
    val crit = KsCrit95 / math.sqrt(n.toDouble)
    ranked.agg(max(term).as("d"))
      .select(lit(n).as("n"), round(col("d"), 6).as("d_stat"),
        round(lit(crit), 6).as("d_crit"),
        (col("d") < crit).as("uniform_ok"))
  }

  private lazy val qSamplerAuditSql =
    s"""WITH u AS (SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
             AS BIGINT) AS DOUBLE) / 4503599627370496.0 AS u
         FROM documents),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
       r AS (SELECT u, row_number() OVER (ORDER BY u ASC, doc_id ASC) AS rn
             FROM u),
       t AS (SELECT greatest(
               CAST(rn AS DOUBLE) / CAST(n AS DOUBLE) - u,
               u - CAST(rn - 1 AS DOUBLE) / CAST(n AS DOUBLE)) AS term
             FROM r CROSS JOIN tot)
       SELECT n, round(max(term), 6) AS d_stat,
         round($KsCrit95 / sqrt(CAST(n AS DOUBLE)), 6) AS d_crit,
         max(term) < $KsCrit95 / sqrt(CAST(n AS DOUBLE)) AS uniform_ok
       FROM t CROSS JOIN tot GROUP BY n"""

  /** Token-budget fraction for the water-filling allocator. */
  val BudgetFrac = 0.5

  /** q_token_budget: water-filling token-budget allocation across
    * sources — the CORRECT version of the uniform-share heuristic
    * (q_mix_rates hands every source tot·frac/k, but a small source
    * cannot fill its share and the surplus is silently lost; water-
    * filling raises one common cap C so undersized sources keep
    * EVERYTHING, oversized ones are cut to C, and Σ min(m_s, C) equals
    * the budget exactly — the standard allocator for "fit these k
    * corpora into B tokens without starving the small ones"). The cap
    * is found analytically on the k-row mass relation: sort by mass,
    * one prefix-sum window, the FIRST index where
    * p_{i−1} + (k−i+1)·m_i ≥ B (exact widened-integer comparison)
    * yields C = (B − p_{i−1})/(k−i+1); total mass under budget → no
    * cap (NULL → everything allocated). One corpus scan; everything
    * after is k-row. */
  /** q_mixture_weights: training-data mixture rebalancing per source —
    * the companion decision to q_token_budget's water-filling cap: given
    * the corpus' ACTUAL per-source token mass, the sampling rate each
    * source needs so one pass over the sampled corpus hits a UNIFORM
    * source mixture (the default target when no downstream signal says
    * otherwise; DoReMi-style learned weights would replace only the
    * target vector). weight_s ∝ target/actual collapses to
    * rate_s = min_tokens/tokens_s — the largest rate is exactly 1 (the
    * scarcest source is never oversampled, everything else subsamples
    * down to it), so every output derives from two exact integers per
    * row: share = m/total, rate = min_m/m, effective = m·rate = min_m
    * (emitted as the exact integer — the fp detour can floor to
    * min_m−1). One source-sized aggregate — dimension-bounded
    * everywhere. */
  def qMixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val perSrc = TextPrep.rawDocs(s, dir).groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("rtoks"))).cast("long").as("m"))
    val tot = perSrc.agg(sum(col("m")).cast("long").as("tm"),
      min(col("m")).as("mn"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("m").as("n_tokens"),
        round(col("m").cast("double") / col("tm"), 6).as("share"),
        round(col("mn").cast("double") / col("m"), 6).as("sampling_rate"),
        // effective = m·(mn/m) = mn EXACTLY; computing it through the fp
        // rate can floor to mn-1 (e.g. 3·fl(1/3)) — emit the exact
        // integer (r16 ADVICE).
        col("mn").as("effective_tokens"))
  }

  private lazy val qMixtureWeightsSql = {
    val toks = TextFns.rawTokensSql("text")
    s"""WITH perSrc AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len($toks)) AS BIGINT) AS m
         FROM documents GROUP BY 1),
       tot AS (SELECT CAST(sum(m) AS BIGINT) AS tm,
                 CAST(min(m) AS BIGINT) AS mn FROM perSrc)
       SELECT source, n_docs, m AS n_tokens,
         round(CAST(m AS DOUBLE) / tm, 6) AS share,
         round(CAST(mn AS DOUBLE) / m, 6) AS sampling_rate,
         mn AS effective_tokens
       FROM perSrc CROSS JOIN tot"""
  }

  def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSrc = TextPrep.rawDocs(s, dir).groupBy("source")
      .agg(sum(size(col("rtoks"))).cast("long").as("m"))
    val tot = perSrc.agg(sum(col("m")).cast("long").as("tm"),
      count(lit(1)).as("k"))
    val w = Window.orderBy(col("m").asc, col("source").asc)
    val ranked = perSrc.crossJoin(broadcast(tot))
      // FLOOR, not a bare long cast (r15 sf0.001 sweep): Spark's
      // double->long cast TRUNCATES while DuckDB's rounds half-away, so
      // an odd token total under frac=0.5 gave budgets one token apart
      .withColumn("b", floor(col("tm").cast("double") * BudgetFrac).cast("long"))
      .withColumn("i", row_number().over(w))
      .withColumn("p", sum(col("m")).over(w))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val capRow = ranked
      .filter(dec(col("p") - col("m")) +
        dec(col("k") - col("i") + 1) * dec(col("m")) >= dec(col("b")))
      .agg(min(struct(col("i"), col("p"), col("m"), col("b"), col("k"))).as("s"))
      .select(((col("s.b") - (col("s.p") - col("s.m"))).cast("double") /
        (col("s.k") - col("s.i") + 1).cast("double")).as("cap"))
    val mD = col("m").cast("double")
    ranked.crossJoin(broadcast(capRow))
      .select(col("source"), col("m").as("n_tokens"),
        round(when(col("cap").isNull || mD <= col("cap"), mD)
          .otherwise(col("cap")), 6).as("alloc"),
        (col("cap").isNotNull && mD > col("cap")).as("capped"))
  }

  private lazy val qTokenBudgetSql = {
    val toks = TextFns.rawTokensSql("text")
    s"""WITH per AS (SELECT source, CAST(sum(len($toks)) AS BIGINT) AS m
             FROM documents GROUP BY source),
       tot AS (SELECT CAST(sum(m) AS BIGINT) AS tm,
                 CAST(count(*) AS BIGINT) AS k FROM per),
       r AS (SELECT source, m, k,
               CAST(floor(CAST(tm AS DOUBLE) * $BudgetFrac) AS BIGINT) AS b,
               row_number() OVER (ORDER BY m ASC, source ASC) AS i,
               sum(m) OVER (ORDER BY m ASC, source ASC) AS p
             FROM per CROSS JOIN tot),
       cr AS (SELECT i, p, m, b, k FROM r
              WHERE CAST(p - m AS HUGEINT) + CAST(k - i + 1 AS HUGEINT) * m >= b
              ORDER BY i LIMIT 1),
       cap AS (SELECT CAST(b - (p - m) AS DOUBLE)
                 / CAST(k - i + 1 AS DOUBLE) AS cap FROM cr)
       SELECT source, m AS n_tokens,
         round(CASE WHEN cap.cap IS NULL OR CAST(m AS DOUBLE) <= cap.cap
                    THEN CAST(m AS DOUBLE) ELSE cap.cap END, 6) AS alloc,
         (cap.cap IS NOT NULL AND CAST(m AS DOUBLE) > cap.cap) AS capped
       FROM r LEFT JOIN cap ON TRUE"""
  }

  /** Cohen's h magnitude thresholds (Cohen 1988). */
  val CohensHSmall = 0.2
  val CohensHMedium = 0.5
  val CohensHLarge = 0.8

  /** q_cohens_h: Cohen's h effect size of the Gopher pass RATE between
    * every language pair — the PROPORTION member of the effect-size
    * family (61h's Cohen's d standardizes mean differences; h is the
    * arcsine-stabilized difference 2·(asin√p_a − asin√p_b), the correct
    * magnitude scale when the quantity is a rate — a 1% vs 2% pass-rate
    * gap is a LARGE effect that a raw difference hides). Rates from
    * exact integer counts; one asin-expression per side, identical
    * cross-engine; magnitude labelled on the standard 0.2/0.5/0.8
    * thresholds. k² pair grid, everything group-level. */
  def qCohensH(s: SparkSession, dir: String): DataFrame = {
    val rates = qQualityRules(s, dir).select(col("doc_id"), col("passes"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .groupBy("lang").agg(count(lit(1)).as("n"),
        sum(when(col("passes"), 1L).otherwise(0L)).as("np"))
      .select(col("lang"), col("n"), col("np"),
        (col("np").cast("double") / col("n").cast("double")).as("p"))
    val h = lit(2.0) * (asin(sqrt(col("a.p"))) - asin(sqrt(col("b.p"))))
    rates.as("a").join(rates.as("b"), col("a.lang") < col("b.lang"))
      .select(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"),
        round(col("a.p"), 6).as("p_a"), round(col("b.p"), 6).as("p_b"),
        round(h, 6).as("h"),
        when(abs(h) < CohensHSmall, "negligible")
          .when(abs(h) < CohensHMedium, "small")
          .when(abs(h) < CohensHLarge, "medium")
          .otherwise("large").as("magnitude"))
  }

  private lazy val qCohensHSql =
    s"""WITH g AS ($qQualityRulesSql),
       rates AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) FILTER (WHERE passes) AS BIGINT) AS np
                 FROM g JOIN documents USING (doc_id) GROUP BY lang),
       p AS (SELECT lang, CAST(np AS DOUBLE) / CAST(n AS DOUBLE) AS p
             FROM rates)
       SELECT a.lang AS lang_a, b.lang AS lang_b,
         round(a.p, 6) AS p_a, round(b.p, 6) AS p_b,
         round(2.0 * (asin(sqrt(a.p)) - asin(sqrt(b.p))), 6) AS h,
         CASE WHEN abs(2.0 * (asin(sqrt(a.p)) - asin(sqrt(b.p)))) < $CohensHSmall
                THEN 'negligible'
              WHEN abs(2.0 * (asin(sqrt(a.p)) - asin(sqrt(b.p)))) < $CohensHMedium
                THEN 'small'
              WHEN abs(2.0 * (asin(sqrt(a.p)) - asin(sqrt(b.p)))) < $CohensHLarge
                THEN 'medium'
              ELSE 'large' END AS magnitude
       FROM p a JOIN p b ON a.lang < b.lang"""

  /** Burrows Delta function-word count. */
  val BurrowsM = 30

  /** q_burrows: Burrows' Delta stylometric distance between every
    * source pair — the authorship-attribution classic (Burrows 2002):
    * distances over z-scored RELATIVE frequencies of the corpus' top-m
    * most frequent words (function words — kept, not stopped, which is
    * why this runs on raw tokens), Δ(a,b) = (1/m)·Σ_t |z_ta − z_tb|.
    * A high-Δ source pair writes in measurably different styles even
    * when topics overlap — the provenance-drift signal c-TF-IDF's
    * content signatures can't give. Everything after one corpus scan is
    * bounded (m × k grid, k² pairs): top-m by collection frequency with
    * a deterministic (cf desc, token asc) tie-break; per-token mean/std
    * across sources and the per-pair |Δz| sums are ordered folds;
    * zero-variance tokens are excluded from the mean (same exact doubles
    * → same exclusion set cross-engine), their count visible via m_used. */
  def qBurrows(s: SparkSession, dir: String): DataFrame = {
    val toks = TextPrep.rawDocs(s, dir)
      .select(col("source"), explode(col("rtoks")).as("t"))
    val cnt = toks.groupBy("source", "t").agg(count(lit(1)).as("c"))
    val ns = toks.groupBy("source").agg(count(lit(1)).as("n_s"))
    val top = cnt.groupBy("t").agg(sum(col("c")).as("cf"))
      .orderBy(col("cf").desc, col("t").asc).limit(BurrowsM)
      .select("t")
    // grid is (BurrowsM × sources) rows — driver-tiny at any scale — but
    // FIVE downstream references (sf, sf2, and z's self-join sides) each
    // replayed the full corpus tokenize + two vocabulary-sized
    // aggregates without this materialization (r21 plan audit: five
    // concurrent broadcast-subquery stages re-running the same explode +
    // groupBy; guide §3.3 — materialise an intermediate with several
    // consumers).
    val grid = broadcast(top).crossJoin(ns)
      .join(cnt, Seq("source", "t"), "left").na.fill(0L, Seq("c"))
      .select(col("t"), col("source"),
        (col("c").cast("double") / col("n_s").cast("double")).as("f"))
      .localCheckpoint(true)
    val st = grid.groupBy("t")
      .agg(count(lit(1)).as("sf_n"),
        OrderedFold.sum(col("f"), col("source")).as("sf"),
        OrderedFold.sum(col("f") * col("f"), col("source")).as("sf2"))
      .select(col("t"), col("sf_n").as("k"),
        (col("sf") / col("sf_n").cast("double")).as("mu"),
        sqrt((col("sf_n").cast("double") * col("sf2") - col("sf") * col("sf")) /
          (col("sf_n").cast("double") * (col("sf_n") - 1).cast("double")))
          .as("sigma"))
      .filter(col("sigma") > 0.0)
    val z = grid.join(broadcast(st), Seq("t"))
      .select(col("t"), col("source"),
        ((col("f") - col("mu")) / col("sigma")).as("z"))
    val pairs = z.as("a").join(z.as("b"),
        col("a.t") === col("b.t") && col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.t").as("t"), abs(col("a.z") - col("b.z")).as("dz"))
    pairs.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("m_used"),
        OrderedFold.sum(col("dz"), col("t")).as("sd"))
      .select(col("source_a"), col("source_b"), col("m_used"),
        round(col("sd") / col("m_used").cast("double"), 6).as("delta"))
  }

  private lazy val qBurrowsSql = {
    val toks = TextFns.rawTokensSql("text")
    s"""WITH w AS (SELECT source, unnest($toks) AS t FROM documents),
       cnt AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
               FROM w GROUP BY 1, 2),
       ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
              FROM w GROUP BY 1),
       top AS (SELECT t FROM (SELECT t, sum(c) AS cf FROM cnt GROUP BY t)
               ORDER BY cf DESC, t ASC LIMIT $BurrowsM),
       grid AS (SELECT top.t, ns.source,
                  CAST(coalesce(cnt.c, 0) AS DOUBLE) / CAST(ns.n_s AS DOUBLE) AS f
                FROM top CROSS JOIN ns
                LEFT JOIN cnt ON cnt.source = ns.source AND cnt.t = top.t),
       st AS (SELECT t, CAST(count(*) AS BIGINT) AS k,
                list_sum(list(f ORDER BY source)) AS sf,
                list_sum(list(f * f ORDER BY source)) AS sf2
              FROM grid GROUP BY t),
       sig AS (SELECT t, sf / CAST(k AS DOUBLE) AS mu,
                 sqrt((CAST(k AS DOUBLE) * sf2 - sf * sf)
                   / (CAST(k AS DOUBLE) * CAST(k - 1 AS DOUBLE))) AS sigma
               FROM st),
       z AS (SELECT grid.t, grid.source, (f - mu) / sigma AS z
             FROM grid JOIN sig ON sig.t = grid.t WHERE sigma > 0),
       pd AS (SELECT a.source AS source_a, b.source AS source_b, a.t,
                abs(a.z - b.z) AS dz
              FROM z a JOIN z b ON a.t = b.t AND a.source < b.source)
       SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS m_used,
         round(list_sum(list(dz ORDER BY t)) / CAST(count(*) AS DOUBLE), 6)
           AS delta
       FROM pd GROUP BY 1, 2"""
  }

  /** q_yule_k: Yule's characteristic K and Simpson's diversity D per
    * language — the CORPUS-level lexical-concentration pair beside the
    * per-doc measures (q_ttr is per-doc type/token, q_entropy per-doc
    * distributional; K and D summarize the whole language's frequency
    * SPECTRUM and, unlike TTR, are length-invariant — the reason
    * stylometry uses K). From the per-(lang, token) counts f:
    * K = 10⁴·(Σf² − N)/N², D = (Σf² − N)/(N(N−1)) — the probability two
    * randomly drawn tokens are the same type. Everything is an exact
    * integer aggregate until one double division per language; N ≤ 1 →
    * NULL D (undefined), never a fabricated 0. Scale shape: explode →
    * (lang, token)-keyed count (vocabulary-×-lang-sized) → k-row rollup;
    * the spectrum never leaves the shuffle un-aggregated. */
  def qYuleK(s: SparkSession, dir: String): DataFrame = {
    val tf = TextPrep.cleanDocs(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .select(col("lang"), explode(col("toks")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("f"))
    val n = col("n_tokens").cast("double")
    tf.groupBy("lang").agg(
        count(lit(1)).as("n_types"),
        sum(col("f")).as("n_tokens"),
        sum(col("f") * col("f")).as("s2"))
      .select(col("lang"), col("n_types"), col("n_tokens"),
        round(lit(1e4) * (col("s2") - col("n_tokens")).cast("double") / (n * n), 6)
          .as("yule_k"),
        when(col("n_tokens") > 1,
          round((col("s2") - col("n_tokens")).cast("double") /
            (n * (col("n_tokens") - 1).cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("simpson_d"))
  }

  private lazy val qYuleKSql = {
    val t = TextFns.cleanTokensSql("text")
    s"""WITH w AS (SELECT lang, unnest($t) AS tok FROM documents),
       tf AS (SELECT lang, tok, count(*) AS f FROM w GROUP BY lang, tok),
       a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(f) AS BIGINT) AS n_tokens,
               CAST(sum(f * f) AS BIGINT) AS s2
             FROM tf GROUP BY lang)
       SELECT lang, n_types, n_tokens,
         round(1e4 * CAST(s2 - n_tokens AS DOUBLE)
           / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6) AS yule_k,
         CASE WHEN n_tokens > 1 THEN
           round(CAST(s2 - n_tokens AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE)), 6)
         END AS simpson_d
       FROM a"""
  }

  def qBurstiness(s: SparkSession, dir: String): DataFrame =
    TextPrep.tokenStats(s, dir)
      .select(col("tok"), col("df"), col("cf"),
        (floor(col("cf").cast("double") / col("df") * lit(1000000.0) + lit(0.5))
          / lit(1000000.0)).as("burst"))
      .orderBy(col("burst").desc, col("tok").asc)
      .limit(50)

  private lazy val qBurstinessSql = {
    val t = TextFns.cleanTokensSql("text")
    s"""WITH ts AS (
         SELECT tok, count(DISTINCT doc_id) AS df, CAST(count(*) AS BIGINT) AS cf
         FROM (SELECT doc_id, unnest($t) AS tok FROM documents)
         GROUP BY tok)
       SELECT tok, df, cf,
         floor(CAST(cf AS DOUBLE) / df * 1000000.0 + 0.5) / 1000000.0 AS burst
       FROM ts ORDER BY burst DESC, tok ASC LIMIT 50"""
  }

  /** Concordance target and context half-width (tokens per side). */
  val ConcordanceTerm = "window"
  val ConcordanceCtx = 2

  /** q_concordance: keyword-in-context (KWIC) extraction for a fixed
    * term — every occurrence with its ±2-token context, the classic
    * corpus-linguistics view (how is this term actually used, which
    * collocates precede/follow) and the drill-down companion to the
    * PMI/TextRank/burstiness aggregates. Pure per-row work off the
    * memoized raw-token stage: one posexplode, a filter on the hit, and
    * bounded array slices — codegen, no shuffle, output proportional to
    * term frequency (bounded by choosing the term, exactly as a user
    * would). Positions are 1-based in both engines. */
  def qConcordance(s: SparkSession, dir: String): DataFrame = {
    val hits = TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), col("rtoks"), posexplode(col("rtoks")).as(Seq("p0", "tok")))
      .filter(col("tok") === ConcordanceTerm)
      .select(col("doc_id"), col("rtoks"), (col("p0") + 1).as("pos"))
    val lstart = greatest(col("pos") - ConcordanceCtx, lit(1))
    hits.select(col("doc_id"), col("pos").cast("int").as("pos"),
      concat_ws(" ", slice(col("rtoks"), lstart, col("pos") - lstart)).as("left_ctx"),
      concat_ws(" ", slice(col("rtoks"), col("pos") + 1, lit(ConcordanceCtx))).as("right_ctx"))
  }

  private lazy val qConcordanceSql = {
    val t = TextFns.rawTokensSql("text")
    s"""WITH d AS (SELECT doc_id, $t AS toks FROM documents),
       u AS (SELECT doc_id, toks,
               unnest(toks) AS tok,
               CAST(generate_subscripts(toks, 1) AS INT) AS pos
             FROM d)
       SELECT doc_id, pos,
         coalesce(array_to_string(toks[greatest(pos - $ConcordanceCtx, 1):pos - 1], ' '), '') AS left_ctx,
         coalesce(array_to_string(toks[pos + 1:pos + $ConcordanceCtx], ' '), '') AS right_ctx
       FROM u WHERE tok = '$ConcordanceTerm'"""
  }

  /** q_fingerprint: canonical-text md5 (engine-portable fingerprint) plus
    * clean-token count. The incremental rolling polynomial hash for
    * streaming use is TextFns.rollingHash (spec-tested; not SQL-portable). */
  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    TextPrep.cleanDocs(s, dir)
      .select(col("doc_id"),
        md5(array_join(col("toks"), " ")).as("fp_md5"),
        size(col("toks")).as("n_toks"))

  private val qFingerprintSql =
    s"""SELECT doc_id, md5(array_to_string(${TextFns.cleanTokensSql("text")}, ' ')) AS fp_md5,
        CAST(len(${TextFns.cleanTokensSql("text")}) AS INT) AS n_toks
        FROM documents"""

  // The four Gopher gates over (n_toks, tok_chars, n_distinct, n_stop)
  // stat columns — ONE definition shared by q_quality_rules and the fused
  // curation plan. All comparisons are on exact integer ratios, so the
  // booleans are engine-identical.
  private def lenOk: Column = col("n_toks") >= 10 && col("n_toks") <= 100000
  private def wordlenOk: Column =
    col("tok_chars").cast("double") / col("n_toks") >= 3.0 &&
      col("tok_chars").cast("double") / col("n_toks") <= 10.0
  private def repOk: Column = col("n_distinct").cast("double") / col("n_toks") > 0.3
  private def stopOk: Column = col("n_stop") >= 2

  /** q_quality_rules: Gopher-style boolean quality gates per document —
    * length window, mean-word-length window, repetition (distinct-token
    * ratio), stopword presence — plus the conjunction. */
  def qQualityRules(s: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), col("rtoks").as("toks"))
      .select(col("doc_id"), size(toks).as("n_toks"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("tok_chars"),
        size(array_distinct(toks)).as("n_distinct"),
        size(filter(toks, t => t.isin(TextFns.Stopwords: _*))).as("n_stop"))
      .filter(col("n_toks") > 0)
      .select(col("doc_id"), col("n_toks"),
        lenOk.as("len_ok"), wordlenOk.as("wordlen_ok"),
        repOk.as("rep_ok"), stopOk.as("stop_ok"))
      .withColumn("passes",
        col("len_ok") && col("wordlen_ok") && col("rep_ok") && col("stop_ok"))
  }

  private[operators] val qQualityRulesSql = {
    val t = TextFns.rawTokensSql("text")
    s"""WITH b AS (
         SELECT doc_id, CAST(len(toks) AS INT) AS n_toks,
           CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS tok_chars,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
           CAST(len(list_filter(toks, t -> t IN ${TextFns.stopListSql})) AS INT) AS n_stop
         FROM (SELECT doc_id, $t AS toks FROM documents))
       SELECT doc_id, n_toks,
         n_toks >= 10 AND n_toks <= 100000 AS len_ok,
         CAST(tok_chars AS DOUBLE) / n_toks >= 3.0 AND
           CAST(tok_chars AS DOUBLE) / n_toks <= 10.0 AS wordlen_ok,
         CAST(n_distinct AS DOUBLE) / n_toks > 0.3 AS rep_ok,
         n_stop >= 2 AS stop_ok,
         (n_toks >= 10 AND n_toks <= 100000) AND
           (CAST(tok_chars AS DOUBLE) / n_toks >= 3.0 AND
            CAST(tok_chars AS DOUBLE) / n_toks <= 10.0) AND
           (CAST(n_distinct AS DOUBLE) / n_toks > 0.3) AND n_stop >= 2 AS passes
       FROM b WHERE n_toks > 0"""
  }

  /** Gopher's top-2-gram repetition threshold: a document whose most
    * frequent bigram covers more than this fraction is template/spam. */
  val RepTopBigramMax = 0.2

  /** q_rep_ngram: top-bigram coverage — the Gopher repetition rule the
    * distinct-token ratio (q_quality_rules) doesn't catch: looping
    * templates repeat PHRASES, not single tokens. One explode + two
    * groupBys (bigram counts per doc, then per-doc max/sum) — the
    * per-row-quadratic array formulation is deliberately avoided. Docs
    * with fewer than two tokens have no bigram and are excluded. */
  def qRepNgram(s: SparkSession, dir: String): DataFrame =
    TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), explode(TextFns.shingles(col("rtoks"), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_bigrams"), max(col("n")).as("top_bigram_n"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
        round(col("top_bigram_n").cast("double") / col("n_bigrams"), 6).as("top_frac"),
        (col("top_bigram_n").cast("double") / col("n_bigrams") <= RepTopBigramMax)
          .as("rep_ok"))

  private val qRepNgramSql = {
    val toks = TextFns.rawTokensSql("text")
    s"""WITH bg AS (
         SELECT doc_id, unnest(${TextFns.shinglesSql("toks", 2)}) AS bg
         FROM (SELECT doc_id, $toks AS toks FROM documents)),
       c AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY 1, 2),
       t AS (
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
           CAST(max(n) AS BIGINT) AS top_bigram_n
         FROM c GROUP BY doc_id)
       SELECT doc_id, n_bigrams, top_bigram_n,
         round(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 6) AS top_frac,
         CAST(top_bigram_n AS DOUBLE) / n_bigrams <= $RepTopBigramMax AS rep_ok
       FROM t"""
  }

  // PII/noise scrub patterns — RE2-compatible (no lookahead) so the Java
  // and DuckDB regex engines agree literally
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val UrlRe = "https?://[^ ]+"
  val NumRunRe = "[0-9]{3,}"

  /** PII/noise redaction over a (doc_id, text) frame — mask emails, URLs
    * and long digit runs, emit the redacted-text digest plus per-category
    * match counts. Pure per-row regex expressions. */
  def piiScrub(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
          EmailRe, "<EMAIL>"), UrlRe, "<URL>"), NumRunRe, "<NUM>")).as("scrubbed_md5"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(UrlRe), lit(0))).as("n_urls"),
        size(regexp_extract_all(col("t"), lit(NumRunRe), lit(0))).as("n_num_runs"))

  /** q_pii_scrub: the redaction stage over the documents table (the
    * synthetic corpus carries no PII, so the query proves the zero case;
    * the fixture spec proves each pattern fires). */
  def qPiiScrub(s: SparkSession, dir: String): DataFrame =
    piiScrub(graft.sources.Tables.documents(s, dir).select("doc_id", "text"))

  private val qPiiScrubSql =
    s"""SELECT doc_id,
        md5(regexp_replace(regexp_replace(regexp_replace(lower(text),
          '$EmailRe', '<EMAIL>', 'g'), '$UrlRe', '<URL>', 'g'), '[0-9]{3,}', '<NUM>', 'g')) AS scrubbed_md5,
        CAST(len(regexp_extract_all(lower(text), '$EmailRe')) AS INT) AS n_emails,
        CAST(len(regexp_extract_all(lower(text), '$UrlRe')) AS INT) AS n_urls,
        CAST(len(regexp_extract_all(lower(text), '[0-9]{3,}')) AS INT) AS n_num_runs
        FROM documents"""

  /** q_lm_score: unigram-LM surprisal scoring — the distributed analogue
    * of the CCNet/KenLM perplexity filter every large corpus pipeline
    * runs: score each document by the mean negative log-probability of
    * its tokens under the corpus unigram distribution (high = rare/noisy
    * vocabulary, low = boilerplate). The "LM" is the (tok, cf) table the
    * dictionary stage already aggregates (memoized); scoring is one join
    * (AQE broadcasts while the vocab fits) + one groupBy(doc_id). On 100
    * TB the model table is corpus-derived exactly the same way — no
    * driver state, no external artifact. Mean over ≤doc-length doubles →
    * fp drift ~1e-13, rounded at 1e-6. */
  def qLmScore(s: SparkSession, dir: String): DataFrame = {
    val stats = TextPrep.tokenStats(s, dir).select(col("tok"), col("cf"))
    val total = stats.agg(sum(col("cf")).as("total_cf"))
    TextPrep.cleanDocs(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(stats, Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        round(avg(-log(col("cf").cast("double") / col("total_cf"))), 6).as("avg_nll"),
        round(max(-log(col("cf").cast("double") / col("total_cf"))), 6).as("max_nll"))
  }

  /** The unigram-surprisal CTE block (… → `lmscore(doc_id, n_toks,
    * avg_nll, max_nll)`) — ONE definition shared by the q_lm_score oracle
    * and the CCNet-bucketing oracle (q_ccnet_buckets), whose Spark twin
    * genuinely consumes qLmScore. Callers prepend WITH. */
  private[operators] lazy val lmScoreCtes = {
    val t = TextFns.cleanTokensSql("text")
    s"""toks AS (
         SELECT doc_id, unnest($t) AS tok FROM documents),
       stats AS (SELECT tok, count(*) AS cf FROM toks GROUP BY tok),
       tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS total_cf FROM stats),
       lmscore AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           round(avg(-ln(CAST(cf AS DOUBLE) / total_cf)), 6) AS avg_nll,
           round(max(-ln(CAST(cf AS DOUBLE) / total_cf)), 6) AS max_nll
         FROM toks JOIN stats USING (tok) CROSS JOIN tot
         GROUP BY doc_id)"""
  }

  private lazy val qLmScoreSql =
    s"""WITH $lmScoreCtes
       SELECT doc_id, n_toks, avg_nll, max_nll FROM lmscore"""

  /** q_sample: DETERMINISTIC content-hash sampling (3/16 ≈ 19% of docs by
    * the first md5 nibble of the id) with per-language acceptance stats.
    * Unlike rng-based df.sample, the kept set is a pure function of the
    * data — reproducible across runs, engines, partitionings, and retries,
    * which is what a 100 TB pipeline needs for auditable subsets. */
  /** q_sample_group: exact-k-per-group reservoir sampling, deterministic —
    * rank within each language by a content-hash uniform (md5 of the id,
    * ties impossible) and keep the first 5. One shuffle on the group key;
    * the hash makes the "reservoir" reproducible across runs/engines,
    * which a debugging workflow needs far more than fresh randomness. */
  def qSampleGroup(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
  }

  private val qSampleGroupSql =
    """SELECT lang, doc_id, n_chars, rk FROM (
         SELECT lang, doc_id, n_chars,
           row_number() OVER (PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
         FROM documents)
       WHERE rk <= 5"""

  def qSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("nib"))
      .filter(col("nib").isin("0", "1", "2"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).as("sampled_chars"),
        min(col("doc_id")).as("min_id"))

  private val qSampleSql =
    """SELECT lang, count(*) AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS sampled_chars,
       min(doc_id) AS min_id
       FROM documents
       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')
       GROUP BY lang"""

  /** Fixed sample size of [[qSampleFixed]]. */
  val SampleFixedK = 100

  /** q_sample_fixed: deterministic FIXED-SIZE uniform sample — the
    * distributed reservoir: keep the [[SampleFixedK]] documents with the
    * smallest md5(doc_id) (47j's q_sample fixes the RATE via a hex-nibble
    * gate; this fixes the SIZE — bottom-k over a uniform hash IS Vitter's
    * reservoir computed deterministically, and bottom-k sets are
    * MERGEABLE: the union's bottom-k = bottom-k of the parts, which is
    * what makes the streaming twin's state O(k)). TakeOrderedAndProject
    * — per-partition top-k then one k-row merge, never a global sort. */
  def qSampleFixed(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("doc_id").cast("string")).as("h"))
      .orderBy(col("h").asc, col("doc_id").asc)
      .limit(SampleFixedK)
      .select(col("doc_id"), col("lang"), col("n_chars"))

  private val qSampleFixedSql =
    s"""SELECT doc_id, lang, n_chars FROM documents
       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
       LIMIT $SampleFixedK"""

  /** Per-language keep-rates for stratified sampling, as 2-hex-char md5
    * prefix thresholds (lexicographic compare — identical in every
    * engine): en 1.0, de ~0.5, es/fr ~0.25, everything else ~0.125. */
  val StratThresholds: Seq[(String, String)] =
    Seq("en" -> "zz", "de" -> "80", "es" -> "40", "fr" -> "40")
  val StratDefaultThreshold = "20"

  /** q_sample_stratified: per-stratum deterministic sampling — the
    * domain-mixing knob of corpus assembly (upsample scarce languages,
    * downsample dominant ones) with the same auditable content-hash gate
    * as q_sample: the kept subset is a pure function of the data, stable
    * across runs, engines and partitionings. Pure per-row filter + one
    * groupBy — no shuffle beyond the final stats rollup. */
  def qSampleStratified(s: SparkSession, dir: String): DataFrame = {
    val nib2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    val thresh = StratThresholds.foldRight(lit(StratDefaultThreshold)) {
      case ((l, t), acc) => when(col("lang") === l, t).otherwise(acc)
    }
    Tables.documents(s, dir) // not rawDocs: this query never reads rtoks
      .filter(nib2 < thresh)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).as("sampled_chars"),
        min(col("doc_id")).as("min_id"))
  }

  private val qSampleStratifiedSql = {
    val cases = StratThresholds
      .map { case (l, t) => s"WHEN '$l' THEN '$t'" }.mkString(" ")
    s"""SELECT lang, count(*) AS n_sampled,
        CAST(sum(n_chars) AS BIGINT) AS sampled_chars,
        min(doc_id) AS min_id
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE lang $cases ELSE '$StratDefaultThreshold' END
        GROUP BY lang"""
  }

  /** q_sample_weighted: deterministic weighted sampling without
    * replacement (Efraimidis–Spirakis A-ES): each doc gets priority
    * u^(1/w) — equivalently ln(u)/w, compared monotonically — where w is
    * its size weight (n_chars) and u a content-hash uniform (52 md5 bits
    * → exact double in [0,1)). The global top-k by priority IS a weighted
    * sample, reproducible run-to-run and auditable like q_sample.
    * Spark plans orderBy+limit as TakeOrderedAndProject: per-partition
    * top-k heaps, only k rows per partition reach the driver merge — the
    * distributed reservoir, no global sort at 100 TB. */
  def qSampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0) // 2^52
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(log(u) / col("n_chars"), 10).as("ws_key"))
      .orderBy(col("ws_key").desc, col("doc_id").asc)
      .limit(20)
  }

  private val qSampleWeightedSql =
    """SELECT doc_id, lang, n_chars,
       round(ln(CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS UBIGINT) AS DOUBLE)
         / 4503599627370496.0) / n_chars, 10) AS ws_key
       FROM documents
       ORDER BY ws_key DESC, doc_id ASC LIMIT 20"""

  /** Adjacent-token bigram stream over clean tokens (shared by the PMI
    * and TextRank operators): per-doc bigrams are a pure projection
    * (shingles n=2 over the memoized cleanDocs stage), then one explode. */
  private def bigrams(s: SparkSession, dir: String): DataFrame =
    TextPrep.cleanDocs(s, dir)
      .select(explode(graft.functions.TextFns.shingles(col("toks"), 2)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("tok_a"),
        split(col("bg"), " ").getItem(1).as("tok_b"))

  /** q_pmi: pointwise mutual information of adjacent token pairs — the
    * classic collocation detector ("new york" ≫ chance). Exact counts
    * (three bounded aggregates: bigrams, unigrams, totals), then
    * PMI = ln(p(ab) / (p(a)·p(b))) as one expression over exact ratios.
    * Support-thresholded so the output is the collocation lexicon, not
    * the long tail (τ=0.2 — calibrated to this near-uniform synthetic
    * corpus; natural text runs τ≈1-3). */
  /** Feature-hashing dimensionality: 2¹⁰ buckets (the hashing-trick
    * output width [[qFeatureHash]] audits). */
  val FeatureHashDim = 1024L

  /** q_feature_hash: hashing-trick featurization audit — before a
    * pipeline swaps its dictionary for a fixed-width hashed feature
    * space (HashingTF's move: no vocabulary state, fully streaming, but
    * collisions alias features), this panel answers "what does 2¹⁰
    * dimensions actually cost THIS corpus": vocabulary size, buckets
    * used, collided buckets, tokens sharing a bucket (and their share
    * of the vocabulary), the corpus-frequency MASS sitting in collided
    * buckets (colliding two rare tokens is free; colliding two frequent
    * ones is not), and the worst bucket. Bucket = the established
    * md5-hex idiom (`conv(substr(md5…))` ↔ `CAST('0x'||…)`), counts
    * exact integers off the memoized token stats, two divisions rounded
    * on output. One vocabulary-bounded aggregate — never the corpus. */
  def qFeatureHash(s: SparkSession, dir: String): DataFrame = {
    val buckets = TextPrep.tokenStats(s, dir)
      .select(col("tok"), col("cf"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
          % FeatureHashDim).as("b"))
      .groupBy("b")
      .agg(count(lit(1)).as("n_toks"), sum(col("cf")).as("cf_sum"))
    buckets.agg(
      sum(col("n_toks")).as("n_vocab"),
      count(lit(1)).as("n_used"),
      sum(when(col("n_toks") >= 2, 1L).otherwise(0L)).as("n_collided_buckets"),
      sum(when(col("n_toks") >= 2, col("n_toks")).otherwise(0L))
        .as("n_collided_tokens"),
      sum(col("cf_sum")).as("cf_total"),
      sum(when(col("n_toks") >= 2, col("cf_sum")).otherwise(0L))
        .as("cf_collided"),
      max(col("n_toks")).as("max_bucket_tokens"))
      .select(col("n_vocab"), lit(FeatureHashDim).as("n_buckets"),
        col("n_used"), col("n_collided_buckets"), col("n_collided_tokens"),
        round(col("n_collided_tokens").cast("double") /
          col("n_vocab").cast("double"), 6).as("collided_token_share"),
        round(col("cf_collided").cast("double") /
          col("cf_total").cast("double"), 6).as("collided_mass_share"),
        col("max_bucket_tokens"))
  }

  private lazy val qFeatureHashSql = {
    val toks = graft.functions.TextFns.cleanTokensSql("text")
    s"""WITH tk AS (SELECT unnest($toks) AS tok FROM documents),
       stats AS (SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM tk GROUP BY tok),
       bk AS (SELECT CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
                  % $FeatureHashDim AS b,
                CAST(count(*) AS BIGINT) AS n_toks,
                CAST(sum(cf) AS BIGINT) AS cf_sum
              FROM stats GROUP BY 1)
       SELECT CAST(sum(n_toks) AS BIGINT) AS n_vocab,
         CAST($FeatureHashDim AS BIGINT) AS n_buckets,
         CAST(count(*) AS BIGINT) AS n_used,
         CAST(sum(CASE WHEN n_toks >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_collided_buckets,
         CAST(sum(CASE WHEN n_toks >= 2 THEN n_toks ELSE 0 END) AS BIGINT)
           AS n_collided_tokens,
         round(CAST(sum(CASE WHEN n_toks >= 2 THEN n_toks ELSE 0 END) AS DOUBLE)
           / CAST(sum(n_toks) AS DOUBLE), 6) AS collided_token_share,
         round(CAST(sum(CASE WHEN n_toks >= 2 THEN cf_sum ELSE 0 END) AS DOUBLE)
           / CAST(sum(cf_sum) AS DOUBLE), 6) AS collided_mass_share,
         CAST(max(n_toks) AS BIGINT) AS max_bucket_tokens
       FROM bk"""
  }

  /** SPPMI context window (±2 positions) and negative-sampling shift
    * (k = 5, the word2vec default — ln k is subtracted as one division
    * INSIDE the log so the gated surface carries a single ln). */
  val SppmiWindow = 2
  val SppmiShift = 5.0

  /** Skip-gram (word, context) pairs within ±[[SppmiWindow]], both
    * directions — built WITHOUT a positions self-join: for each offset k
    * the pair stream is explode(zip_with(toks, shift_k(toks))), a pure
    * map-side array op; the only shuffle is the vocabulary²-bounded
    * (w, c) count. Memoized + persisted: the pair-count relation feeds
    * the matrix, both marginals, and the total. */
  private def sppmiPairCounts(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"text.sppmiPairs:$dir") {
      val docs = TextPrep.cleanDocs(s, dir).select(col("toks"))
      val pairs = (1 to SppmiWindow).map { k =>
        docs.filter(size(col("toks")) > k)
          .select(explode(zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - k),
            slice(col("toks"), lit(k + 1), size(col("toks")) - k),
            (x, y) => struct(x.as("w"), y.as("c")))).as("p"))
          .select(col("p.w").as("w"), col("p.c").as("c"))
      }.reduce(_ unionByName _)
      val df = pairs
        .unionByName(pairs.select(col("c").as("w"), col("w").as("c")))
        .groupBy("w", "c").agg(count(lit(1)).as("n_wc"))
        .cache()
      df.count() // materialize once under the cache lock
      df
    }

  /** q_sppmi: the shifted positive PMI word-context matrix (Levy &
    * Goldberg 2014 — the count-based factorization input that skip-gram
    * with negative sampling implicitly factorizes; completes the
    * embedding-training-prep trio beside q_neg_sampling's unigram^0.75
    * table and q_w2v's trained model). Per (w, c) within ±2 positions:
    * sppmi = max(0, ln(n_wc·N / (n_w·n_c·k))) with the shift k folded
    * into ONE division inside a single ln (the PSI-established ln idiom;
    * exp/pow never appear). Counts are exact integers off the memoized
    * pair relation; marginals are vocabulary-bounded broadcasts; rows
    * with sppmi ≤ 0 are dropped (the "positive" in SPPMI), the filter
    * evaluated on the UNROUNDED value in both engines. */
  def qSppmi(s: SparkSession, dir: String): DataFrame = {
    val pc = sppmiPairCounts(s, dir)
    val mg = pc.groupBy("w").agg(sum(col("n_wc")).as("n_w"))
    val tot = pc.agg(sum(col("n_wc")).as("nn"))
    val sppmi = log(((col("n_wc").cast("double") * col("nn").cast("double")) /
      (col("n_w").cast("double") * col("n_c").cast("double"))) / SppmiShift)
    pc.join(broadcast(mg), Seq("w"))
      .join(broadcast(mg.select(col("w").as("c"), col("n_w").as("n_c"))), Seq("c"))
      .crossJoin(broadcast(tot))
      .filter(sppmi > 0.0)
      .select(col("w"), col("c"), col("n_wc"), round(sppmi, 6).as("sppmi"))
  }

  private lazy val qSppmiSql = {
    val toks = graft.functions.TextFns.cleanTokensSql("text")
    s"""WITH docs AS (SELECT doc_id, $toks AS toks FROM documents),
       pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS i,
                 unnest(toks) AS w FROM docs),
       half AS (SELECT a.w AS w, b.w AS c
                FROM pos a JOIN pos b ON a.doc_id = b.doc_id
                  AND b.i - a.i BETWEEN 1 AND $SppmiWindow),
       pr AS (SELECT w, c FROM half UNION ALL SELECT c AS w, w AS c FROM half),
       pc AS (SELECT w, c, CAST(count(*) AS BIGINT) AS n_wc FROM pr GROUP BY 1, 2),
       mg AS (SELECT w, CAST(sum(n_wc) AS BIGINT) AS n_w FROM pc GROUP BY 1),
       tot AS (SELECT CAST(sum(n_wc) AS BIGINT) AS nn FROM pc)
       SELECT p.w, p.c, p.n_wc,
         round(ln(((CAST(p.n_wc AS DOUBLE) * CAST(t.nn AS DOUBLE))
           / (CAST(a.n_w AS DOUBLE) * CAST(b.n_w AS DOUBLE))) / $SppmiShift), 6)
           AS sppmi
       FROM pc p JOIN mg a ON p.w = a.w JOIN mg b ON p.c = b.w CROSS JOIN tot t
       WHERE ln(((CAST(p.n_wc AS DOUBLE) * CAST(t.nn AS DOUBLE))
           / (CAST(a.n_w AS DOUBLE) * CAST(b.n_w AS DOUBLE))) / $SppmiShift) > 0.0"""
  }

  def qPmi(s: SparkSession, dir: String): DataFrame = {
    val bg = bigrams(s, dir)
    val bgCounts = bg.groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n_ab"))
    val uni = TextPrep.cleanDocs(s, dir)
      .select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_tok"))
    val totals = bgCounts.agg(sum("n_ab").as("n_bi"))
      .crossJoin(uni.agg(sum("n_tok").as("n_uni")))
    bgCounts.filter(col("n_ab") >= 5)
      .join(uni.select(col("tok").as("tok_a"), col("n_tok").as("n_a")), Seq("tok_a"))
      .join(uni.select(col("tok").as("tok_b"), col("n_tok").as("n_b")), Seq("tok_b"))
      .crossJoin(broadcast(totals))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        round(log((col("n_ab").cast("double") / col("n_bi")) /
          ((col("n_a").cast("double") / col("n_uni")) * (col("n_b").cast("double") / col("n_uni")))), 6)
          .as("pmi"))
      .filter(col("pmi") >= 0.2)
  }

  private val qPmiSql = {
    val toks = graft.functions.TextFns.cleanTokensSql("text")
    s"""WITH docs AS (SELECT doc_id, $toks AS toks FROM documents),
       bg AS (
         SELECT split_part(b, ' ', 1) AS tok_a, split_part(b, ' ', 2) AS tok_b
         FROM (SELECT unnest(${graft.functions.TextFns.shinglesSql("toks", 2)}) AS b FROM docs)),
       bgc AS (SELECT tok_a, tok_b, count(*) AS n_ab FROM bg GROUP BY 1, 2),
       uni AS (SELECT tok, count(*) AS n_tok FROM (SELECT unnest(toks) AS tok FROM docs) GROUP BY 1),
       tot AS (
         SELECT (SELECT CAST(sum(n_ab) AS BIGINT) FROM bgc) AS n_bi,
                (SELECT CAST(sum(n_tok) AS BIGINT) FROM uni) AS n_uni)
       SELECT b.tok_a, b.tok_b, b.n_ab,
         round(ln((CAST(b.n_ab AS DOUBLE) / t.n_bi) /
           ((CAST(ua.n_tok AS DOUBLE) / t.n_uni) * (CAST(ub.n_tok AS DOUBLE) / t.n_uni))), 6) AS pmi
       FROM bgc b
       JOIN uni ua ON ua.tok = b.tok_a
       JOIN uni ub ON ub.tok = b.tok_b
       CROSS JOIN tot t
       WHERE b.n_ab >= 5
         AND round(ln((CAST(b.n_ab AS DOUBLE) / t.n_bi) /
           ((CAST(ua.n_tok AS DOUBLE) / t.n_uni) * (CAST(ub.n_tok AS DOUBLE) / t.n_uni))), 6) >= 0.2"""
  }

  /** Edge budget below which TextRank's power method runs on the driver:
    * the co-occurrence graph is VOCABULARY-sized (≤ |V|² edges however
    * big the corpus), so below ~1M edges the 10 distributed rounds are
    * pure job overhead. Above it, Dedup.pageRank takes over — same math,
    * spec-pinned equal. */
  val KeywordsEdgeLimit: Int = 1 << 20

  /** q_keywords: TextRank keyword extraction — PageRank over the token
    * co-occurrence graph (adjacent clean tokens, distinct pairs with
    * support ≥ 2), top-20 by rank. The corpus-scale work (bigram counts)
    * is one distributed aggregate; the vocab-sized power method runs
    * local-below / distributed-above KeywordsEdgeLimit (the BPE hybrid
    * pattern). The oracle re-runs the identical 10 iterations as a
    * recursive CTE. Ties (and the top-20 cut) break on the rounded rank
    * then the token, so both engines cut identically. */
  def qKeywords(s: SparkSession, dir: String): DataFrame =
    qKeywordsAt(s, dir, KeywordsEdgeLimit)

  /** [[qKeywords]] with the local/distributed edge limit as a parameter
    * (the [[Dedup.components]] gate): at `localLimit` 0 every graph runs
    * the distributed [[Dedup.pageRank]]. */
  def qKeywordsAt(s: SparkSession, dir: String, localLimit: Int): DataFrame = {
    val edges = bigrams(s, dir)
      .filter(col("tok_a") =!= col("tok_b"))
      .select(least(col("tok_a"), col("tok_b")).as("a"),
        greatest(col("tok_a"), col("tok_b")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select("a", "b")
    val head = edges.take(localLimit + 1)
    val ranked =
      if (head.length <= localLimit) {
        import s.implicits._
        Dedup.pageRankLocal(head.toSeq.map(r => (r.getString(0), r.getString(1))))
          .toDF("token", "r")
      } else Dedup.pageRank(edges).select(col("id").as("token"), col("r"))
    ranked
      .select(col("token"), round(col("r"), 6).as("textrank"))
      .orderBy(col("textrank").desc, col("token").asc)
      .limit(20)
  }

  private val qKeywordsSql = {
    val toks = graft.functions.TextFns.cleanTokensSql("text")
    s"""WITH RECURSIVE docs AS (SELECT doc_id, $toks AS toks FROM documents),
       bg AS (
         SELECT split_part(b, ' ', 1) AS tok_a, split_part(b, ' ', 2) AS tok_b
         FROM (SELECT unnest(${graft.functions.TextFns.shinglesSql("toks", 2)}) AS b FROM docs)),
       e0 AS (
         SELECT least(tok_a, tok_b) AS a, greatest(tok_a, tok_b) AS b
         FROM bg WHERE tok_a <> tok_b),
       e1 AS (SELECT a, b FROM e0 GROUP BY a, b HAVING count(*) >= 2),
       edges AS (SELECT a, b FROM e1 UNION ALL SELECT b, a FROM e1),
       deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY a),
       nn AS (SELECT count(*) AS c FROM deg),
       walk(iter, id, r) AS (
         SELECT 0, a, 1.0 / (SELECT c FROM nn) FROM deg
         UNION ALL
         SELECT w.iter + 1, e.b, 0.15 / (SELECT c FROM nn) + 0.85 * sum(w.r / d.deg)
         FROM walk w JOIN edges e ON e.a = w.id JOIN deg d ON d.a = w.id
         WHERE w.iter < 10
         GROUP BY w.iter + 1, e.b)
       SELECT id AS token, round(r, 6) AS textrank FROM walk WHERE iter = 10
       ORDER BY textrank DESC, token ASC LIMIT 20"""
  }

  /** HLL++ cardinality per source vs the exact count — at 100 TB the
    * exact countDistinct shuffles every distinct value, the HLL sketch
    * shuffles a few KB per group; emitting both validates the configured
    * 2% target (sketch internals aren't SQL-portable; Round3Spec asserts
    * the error bound on this rich form). */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy("source")
      .agg(countDistinct(col("h")).as("exact_distinct"),
        approx_count_distinct(col("h"), 0.02).as("approx_distinct"))
      .select(col("source"), col("exact_distinct"), col("approx_distinct"),
        round(abs(col("approx_distinct") - col("exact_distinct")).cast("double") /
          col("exact_distinct"), 6).as("rel_err"))

  /** q_approx_distinct (registered, HASH-GATED form): exact cardinality
    * plus the HLL guarantee as a boolean — `hll_within_5pct` is TRUE with
    * overwhelming margin for a 2%-rsd sketch, so the DuckDB oracle can
    * assert it literally while the exact counts hash-gate the data. */
  def qApproxDistinctGate(s: SparkSession, dir: String): DataFrame =
    qApproxDistinct(s, dir)
      .select(col("source"), col("exact_distinct"),
        (col("rel_err") < 0.05).as("hll_within_5pct"))

  private val qApproxDistinctSql =
    """SELECT source, CAST(count(DISTINCT md5(text)) AS BIGINT) AS exact_distinct,
              TRUE AS hll_within_5pct
       FROM documents GROUP BY source"""

  /** q_curation: the full curation funnel a training-data job runs —
    * keep documents that pass every quality gate, survive exact dedup
    * (min-id survivor), and are predicted English; emit the kept ids with
    * their token counts.
    *
    * FUSED single-pass formulation: every per-doc signal (quality gates,
    * language-ID marker scores, token count) is computed from ONE
    * tokenization in one projection over one scan, and the dedup survivor
    * is `min(doc_id) over (partition by md5(text))` — so the whole funnel
    * is a map + exactly one shuffle (the content-hash window). The
    * compositional form (3 joins over the four component queries) reads
    * the corpus four times and shuffles four times; at 100 TB the fused
    * plan is the difference between one pass and four. Rows are identical
    * to the composition — the DuckDB oracle keeps the compositional SQL,
    * which is exactly the cross-check. */
  def qCuration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("text")))
    val toks = col("toks")
    TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), col("text"), col("rtoks").as("toks"))
      .select(col("doc_id"),
        size(toks).as("n_toks"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("tok_chars"),
        size(array_distinct(toks)).as("n_distinct"),
        size(filter(toks, t => t.isin(TextFns.Stopwords: _*))).as("n_stop"),
        score(toks, EnMarkers).as("en_s"), score(toks, DeMarkers).as("de_s"),
        score(toks, EsMarkers).as("es_s"), score(toks, FrMarkers).as("fr_s"),
        min(col("doc_id")).over(w).as("survivor_id"))
      .filter(col("n_toks") > 0 &&
        lenOk && wordlenOk && repOk && stopOk &&
        argmaxLang === "en" &&
        col("doc_id") === col("survivor_id"))
      .select(col("doc_id"), col("n_toks").as("ws_tokens"))
  }

  private val qCurationSql =
    s"""WITH qr AS ($qQualityRulesSql),
       li AS ($qLangIdSql),
       surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       tc AS ($qTokenCountSql)
       SELECT doc_id, ws_tokens
       FROM qr JOIN surv USING (doc_id) JOIN li USING (doc_id) JOIN tc USING (doc_id)
       WHERE qr.passes AND li.pred_lang = 'en'"""

  /** q_curation_full: the COMPLETE modern training-data funnel — every
    * gate family this engine implements, composed: Gopher quality rules ∧
    * top-bigram repetition ∧ unigram-LM surprisal below the corpus p95 ∧
    * predicted-English ∧ exact-dedup survivor ∧ NOT benchmark-contaminated.
    * Each gate is a per-doc map/aggregate over the shared cached stages;
    * composition is hash joins on doc_id plus one anti-join — the shape a
    * 100 TB curation job actually has. The LM gate is RELATIVE (p95 of the
    * corpus' own score distribution), so the funnel needs no hand-tuned
    * absolute threshold at any scale. */
  def qCurationFull(s: SparkSession, dir: String): DataFrame = {
    // the funnel reads lm from TWO positions (the global p95 and the
    // per-doc join) — materialize per session or pay the scoring twice
    val lm = graft.ModelCache.getOrElseUpdate(s, s"text.lmScores:$dir") {
      qLmScore(s, dir).select(col("doc_id"), col("avg_nll"))
        .cache()
    }
    val p95 = lm.agg(expr("percentile(avg_nll, 0.95)").as("nll_p95"))
    qCuration(s, dir)
      .join(qRepNgram(s, dir).filter(col("rep_ok")).select("doc_id"), Seq("doc_id"))
      .join(lm, Seq("doc_id")).crossJoin(broadcast(p95))
      .filter(col("avg_nll") <= col("nll_p95"))
      .join(Dedup.qDecontaminate(s, dir).select("doc_id"), Seq("doc_id"), "left_anti")
      // the held-out benchmark partition (doc_id % 7 = 0) is itself not
      // training data: decontamination only flags TRAINING docs that copy
      // bench text, so bench rows would otherwise sail through the
      // anti-join and leak verbatim eval text into the curated corpus
      .filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("ws_tokens"))
  }

  private[operators] lazy val qCurationFullSql =
    s"""WITH cur AS ($qCurationSql),
       rep AS ($qRepNgramSql),
       lm AS ($qLmScoreSql),
       dec AS (${Dedup.qDecontaminateSql}),
       p95 AS (SELECT quantile_cont(avg_nll, 0.95) AS nll_p95 FROM lm)
       SELECT cur.doc_id, cur.ws_tokens
       FROM cur
       JOIN rep ON cur.doc_id = rep.doc_id AND rep.rep_ok
       JOIN lm ON cur.doc_id = lm.doc_id
       CROSS JOIN p95
       WHERE lm.avg_nll <= p95.nll_p95
         AND cur.doc_id % 7 <> 0
         AND NOT EXISTS (SELECT 1 FROM dec WHERE dec.doc_id = cur.doc_id)"""

  /** q_corpus_stats: the dataset-card rollup a training-data pipeline
    * publishes per source — doc count, volume, exact-dup rate, mean
    * quality. FUSED like q_curation: the per-doc quality score is computed
    * inline from one tokenization (identical formula and per-doc rounding
    * as qQuality, whose compositional SQL remains the oracle), so the
    * whole card is one scan + one groupBy(source) shuffle instead of two
    * scans + a join. Docs with zero tokens are excluded exactly as the
    * composition's inner join excluded them. */
  def qCorpusStats(s: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"), md5(col("text")).as("h"),
        col("rtoks").as("toks"))
      .select(col("source"), col("n_chars"), col("h"),
        size(toks).as("n_toks"),
        size(filter(toks, t => t.isin(TextFns.Stopwords: _*))).as("n_stop"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("tok_chars"))
      .filter(col("n_toks") > 0)
      .select(col("source"), col("n_chars"), col("h"), qualityExpr.as("quality"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("h")).as("n_unique"),
        round(avg(col("quality")), 6).as("mean_quality"))
      .select(col("source"), col("n_docs"), col("total_chars"), col("n_unique"),
        round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 6).as("dup_rate"),
        col("mean_quality"))
  }

  private val qCorpusStatsSql =
    s"""WITH q AS ($qQualitySql),
       d AS (
         SELECT doc_id, source, n_chars, md5(text) AS h FROM documents),
       g AS (
         SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(DISTINCT h) AS n_unique,
           round(avg(quality), 6) AS mean_quality
         FROM d JOIN q USING (doc_id) GROUP BY source)
       SELECT source, n_docs, total_chars, n_unique,
         round(1.0 - CAST(n_unique AS DOUBLE) / n_docs, 6) AS dup_rate,
         mean_quality
       FROM g"""

  // ---------------- BM25 relevance ranking ----------------

  val Bm25K1 = 1.2
  val Bm25B = 0.75
  /** Fixed query-term set (corpus vocabulary words) — BM25 is a per-query
    * scorer; the operator shape is what matters, the terms parameterize it. */
  val Bm25Terms: Seq[String] = Seq("spark", "join", "window")
  val Bm25TopK = 20

  /** q_bm25: Okapi BM25 top-k retrieval over the corpus for a fixed term
    * set — the IR scorer a training-data pipeline uses for quality-biased
    * sampling and targeted corpus search. Per-doc term frequencies are a
    * pure projection over the shared tokenized stage; corpus stats
    * (N, avgdl, per-term df) are ONE scalar aggregate broadcast back — so
    * the whole scorer is one scan + one broadcast, no join per term, no
    * inverted index materialization. The tie-broken top-k (rounded score
    * desc, doc_id asc) keeps the cut deterministic in both engines. */
  def qBm25(s: SparkSession, dir: String): DataFrame = {
    val tf = TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), col("rtoks").as("toks"))
      .filter(size(col("toks")) > 0)
      .select(Seq(col("doc_id"), size(col("toks")).as("dl")) ++
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("toks"), x => x === t)).as(s"tf$i") }: _*)
    val aggs = Seq(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")) ++
      Bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = tf.agg(aggs.head, aggs.tail: _*)
    val score = Bm25Terms.indices.map { i =>
      val idf = log((col("n_docs") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5)) + lit(1.0))
      idf * (col(s"tf$i").cast("double") * lit(2.2)) /
        (col(s"tf$i").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), (floor(score * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(Bm25TopK)
  }

  private val qBm25Sql = {
    val t = TextFns.rawTokensSql("text")
    val tfs = Bm25Terms.zipWithIndex.map { case (term, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$term')) AS INT) AS tf$i" }.mkString(", ")
    val dfs = Bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i").mkString(", ")
    val terms = Bm25Terms.indices.map(i =>
      s"ln((n_docs - df$i + 0.5) / (df$i + 0.5) + 1.0) * " +
        s"(CAST(tf$i AS DOUBLE) * 2.2) / " +
        s"(CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))").mkString(" + ")
    s"""WITH d AS (SELECT doc_id, $t AS toks FROM documents),
       b AS (
         SELECT doc_id, CAST(len(toks) AS INT) AS dl, $tfs
         FROM d WHERE len(toks) > 0),
       st AS (
         SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl, $dfs FROM b),
       sc AS (
         SELECT doc_id, floor(($terms) * 1000000.0 + 0.5) / 1000000.0 AS bm25
         FROM b CROSS JOIN st)
       SELECT doc_id, bm25 FROM sc WHERE bm25 > 0
       ORDER BY bm25 DESC, doc_id ASC LIMIT $Bm25TopK"""
  }

  /** Minimum observed cell count for a (token, source) pair to be scored
    * (the classic χ² small-cell guard). */
  val ChisqMinCell = 5
  val ChisqTopK = 50

  /** q_chisq: χ² association between tokens and sources — the
    * feature-selection / domain-signature scorer (which words mark which
    * domain) a corpus-mixing pipeline uses for domain classifiers. Doc-level
    * presence (one explode of per-doc distinct tokens), three bounded
    * aggregates (per-source, per-token, per-cell), one vocabulary-keyed
    * join + one broadcast of the source marginals; the 2×2 statistic is a
    * pure expression over exact integer counts, so both engines compute
    * identical doubles (at extreme corpus sizes the products approach
    * 2^53 and the statistic should move to log-space). */
  def qChisq(s: SparkSession, dir: String): DataFrame =
    chisqOf(TextPrep.rawDocs(s, dir).select(col("doc_id"), col("source"), col("rtoks")))

  /** χ² core over (doc_id, source, rtoks) rows — see [[qChisq]]. */
  def chisqOf(docs: DataFrame): DataFrame = {
    val pres = docs.select(col("doc_id"), col("source"),
      explode(array_distinct(col("rtoks"))).as("tok"))
    val n = docs.agg(count(lit(1)).as("nd"))
    val bySrc = docs.groupBy("source").agg(count(lit(1)).as("ns"))
    val byTok = pres.groupBy("tok").agg(count(lit(1)).as("nt"))
    val cell = pres.groupBy("tok", "source").agg(count(lit(1)).as("a"))
    val aD = col("a").cast("double")
    val bD = (col("nt") - col("a")).cast("double")
    val cD = (col("ns") - col("a")).cast("double")
    val dD = (col("nd") - col("nt") - col("ns") + col("a")).cast("double")
    val nD = col("nd").cast("double")
    val chi2 = nD * ((aD * dD - bD * cD) * (aD * dD - bD * cD)) /
      ((aD + bD) * (cD + dD) * (aD + cD) * (bD + dD))
    cell.join(byTok, Seq("tok"))
      .join(broadcast(bySrc), Seq("source"))
      .crossJoin(broadcast(n))
      .filter(col("nt") < col("nd") && col("ns") < col("nd") &&
        col("a") >= ChisqMinCell)
      .select(col("tok"), col("source"),
        (floor(chi2 * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("chi2"))
      .orderBy(col("chi2").desc, col("tok").asc, col("source").asc)
      .limit(ChisqTopK)
  }

  private val qChisqSql = {
    val t = TextFns.rawTokensSql("text")
    val chi2 = "CAST(nd AS DOUBLE) * " +
      "((CAST(a AS DOUBLE) * CAST(nd - nt - ns + a AS DOUBLE) - CAST(nt - a AS DOUBLE) * CAST(ns - a AS DOUBLE)) * " +
      " (CAST(a AS DOUBLE) * CAST(nd - nt - ns + a AS DOUBLE) - CAST(nt - a AS DOUBLE) * CAST(ns - a AS DOUBLE))) / " +
      "((CAST(a AS DOUBLE) + CAST(nt - a AS DOUBLE)) * (CAST(ns - a AS DOUBLE) + CAST(nd - nt - ns + a AS DOUBLE)) * " +
      " (CAST(a AS DOUBLE) + CAST(ns - a AS DOUBLE)) * (CAST(nt - a AS DOUBLE) + CAST(nd - nt - ns + a AS DOUBLE)))"
    s"""WITH d AS (SELECT doc_id, source, $t AS toks FROM documents),
       pres AS (SELECT DISTINCT doc_id, source, unnest(toks) AS tok FROM d),
       n AS (SELECT count(*) AS nd FROM documents),
       bysrc AS (SELECT source, count(*) AS ns FROM documents GROUP BY source),
       bytok AS (SELECT tok, count(*) AS nt FROM pres GROUP BY tok),
       cell AS (SELECT tok, source, count(*) AS a FROM pres GROUP BY tok, source)
       SELECT tok, source, floor(($chi2) * 1000000.0 + 0.5) / 1000000.0 AS chi2
       FROM cell JOIN bytok USING (tok) JOIN bysrc USING (source) CROSS JOIN n
       WHERE nt < nd AND ns < nd AND a >= $ChisqMinCell
       ORDER BY chi2 DESC, tok ASC, source ASC LIMIT $ChisqTopK"""
  }

  val LlrTopK = 50

  /** q_llr: Dunning log-likelihood-ratio (G²) token↔source association —
    * the significance scorer that stays calibrated where χ² breaks down
    * (sparse cells / rare tokens, Dunning 1993), which is exactly the
    * regime of a web-corpus vocabulary; the standard keyword/collocation
    * statistic beside q_chisq. Same contingency pipeline (doc-level
    * presence, three bounded aggregates, vocabulary-keyed join +
    * broadcast marginals); G² = 2·Σ k·ln(k·N / (row·col)) over the four
    * 2×2 cells, each term guarded to 0 when k = 0 (the 0·ln 0 limit —
    * unguarded it is NULL in both engines and the row silently drops).
    * Every ln argument is a ratio of exact integer counts cast to
    * double, so both engines produce identical terms; the fixed 4-term
    * sum is one expression, not a cross-row fp aggregate. */
  def qLlr(s: SparkSession, dir: String): DataFrame = {
    val docs = TextPrep.rawDocs(s, dir).select(col("doc_id"), col("source"), col("rtoks"))
    val pres = docs.select(col("doc_id"), col("source"),
      explode(array_distinct(col("rtoks"))).as("tok"))
    val n = docs.agg(count(lit(1)).as("nd"))
    val bySrc = docs.groupBy("source").agg(count(lit(1)).as("ns"))
    val byTok = pres.groupBy("tok").agg(count(lit(1)).as("nt"))
    val cell = pres.groupBy("tok", "source").agg(count(lit(1)).as("a"))
    def term(k: Column, row: Column, colTot: Column): Column =
      when(k > 0, k.cast("double") *
        log((k * col("nd")).cast("double") / (row * colTot).cast("double")))
        .otherwise(lit(0.0))
    val b = col("nt") - col("a")
    val c = col("ns") - col("a")
    val d = col("nd") - col("nt") - col("ns") + col("a")
    val g2 = lit(2.0) * (
      term(col("a"), col("nt"), col("ns")) +
      term(b, col("nt"), col("nd") - col("ns")) +
      term(c, col("nd") - col("nt"), col("ns")) +
      term(d, col("nd") - col("nt"), col("nd") - col("ns")))
    cell.join(byTok, Seq("tok"))
      .join(broadcast(bySrc), Seq("source"))
      .crossJoin(broadcast(n))
      .filter(col("nt") < col("nd") && col("ns") < col("nd") &&
        col("a") >= ChisqMinCell)
      .select(col("tok"), col("source"),
        (floor(g2 * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("g2"))
      .orderBy(col("g2").desc, col("tok").asc, col("source").asc)
      .limit(LlrTopK)
  }

  private lazy val qLlrSql = {
    val t = TextFns.rawTokensSql("text")
    def term(k: String, row: String, colTot: String): String =
      s"CASE WHEN $k > 0 THEN CAST($k AS DOUBLE) * " +
        s"ln(CAST(($k) * nd AS DOUBLE) / CAST(($row) * ($colTot) AS DOUBLE)) " +
        "ELSE 0.0 END"
    val g2 = "2.0 * (" +
      term("a", "nt", "ns") + " + " +
      term("nt - a", "nt", "nd - ns") + " + " +
      term("ns - a", "nd - nt", "ns") + " + " +
      term("nd - nt - ns + a", "nd - nt", "nd - ns") + ")"
    s"""WITH d AS (SELECT doc_id, source, $t AS toks FROM documents),
       pres AS (SELECT DISTINCT doc_id, source, unnest(toks) AS tok FROM d),
       n AS (SELECT count(*) AS nd FROM documents),
       bysrc AS (SELECT source, count(*) AS ns FROM documents GROUP BY source),
       bytok AS (SELECT tok, count(*) AS nt FROM pres GROUP BY tok),
       cell AS (SELECT tok, source, count(*) AS a FROM pres GROUP BY tok, source)
       SELECT tok, source, floor(($g2) * 1000000.0 + 0.5) / 1000000.0 AS g2
       FROM cell JOIN bytok USING (tok) JOIN bysrc USING (source) CROSS JOIN n
       WHERE nt < nd AND ns < nd AND a >= $ChisqMinCell
       ORDER BY g2 DESC, tok ASC, source ASC LIMIT $LlrTopK"""
  }

  /** Top class-signature terms kept per source. */
  val CtfidfTopK = 5

  /** q_ctfidf: class-based TF-IDF top terms per source (the BERTopic-style
    * domain signature: aggregate each source into one pseudo-document,
    * weight w = tf·ln(S/sdf) with sdf = #sources containing the term) —
    * the ranked-list complement to q_chisq's significance scores: χ² says
    * WHICH tokens associate, c-TF-IDF says what each source is ABOUT.
    * Determinism: tf and sdf are exact integers, S/sdf is an exact ratio
    * so ln() matches across engines, and the per-source ranking breaks w
    * ties on token asc. The ranking window runs over vocabulary-sized
    * per-source term lists, never the corpus. */
  def qCtfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = TextPrep.cleanDocs(s, dir)
      .join(Tables.documents(s, dir).select("doc_id", "source"), Seq("doc_id"))
      .select(col("source"), explode(col("toks")).as("tok"))
    val tf = tk.groupBy("source", "tok").agg(count(lit(1)).as("tf"))
    val sdf = tf.groupBy("tok").agg(count(lit(1)).as("sdf"))
    val ns = Tables.documents(s, dir)
      .agg(countDistinct(col("source")).as("s"))
    val win = Window.partitionBy("source").orderBy(col("w").desc, col("tok").asc)
    tf.join(sdf, Seq("tok")).crossJoin(broadcast(ns))
      .withColumn("w", col("tf").cast("double") *
        log(col("s").cast("double") / col("sdf")))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= CtfidfTopK)
      .select(col("source"), col("rank").cast("int").as("rank"), col("tok"),
        col("tf"), col("sdf"), round(col("w"), 6).as("ctfidf"))
  }

  private lazy val qCtfidfSql = {
    val t = TextFns.cleanTokensSql("text")
    s"""WITH tk AS (SELECT source, unnest($t) AS tok FROM documents),
       tf AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
       sdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS sdf FROM tf GROUP BY tok),
       ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS s FROM documents),
       w AS (SELECT source, tok, tf, sdf,
               CAST(tf AS DOUBLE) * ln(CAST(s AS DOUBLE) / sdf) AS w
             FROM tf JOIN sdf USING (tok) CROSS JOIN ns),
       r AS (SELECT *, row_number() OVER (PARTITION BY source
               ORDER BY w DESC, tok ASC) AS rank FROM w)
       SELECT source, CAST(rank AS INT) AS rank, tok, tf, sdf,
         round(w, 6) AS ctfidf
       FROM r WHERE rank <= $CtfidfTopK"""
  }

  /** Global token budget as a fraction of the corpus (the mixing target). */
  val MixBudgetFrac = 0.5

  /** q_mix_rates: domain-mixing sampling-rate planner — given per-source
    * token masses, the per-source KEEP RATE that equalizes token share
    * across sources under a global budget (rate_s = min(1, budget/K /
    * tokens_s)): the static version of the mixture-reweighting step every
    * multi-source training corpus runs before sampling. One bounded
    * groupBy(source) + one broadcast scalar aggregate; the rates then
    * drive the deterministic hash gates of q_sample_stratified. */
  def qMixRates(s: SparkSession, dir: String): DataFrame = {
    val perSrc = TextPrep.rawDocs(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("rtoks"))).cast("long").as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).cast("double").as("tot"),
      count(lit(1)).as("k"))
    val rateRaw = least(lit(1.0),
      col("tot") * lit(MixBudgetFrac) / col("k") / col("n_tokens"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (floor(rateRaw * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("rate"),
        floor(rateRaw * col("n_tokens").cast("double")).cast("long").as("sampled_tokens"))
  }

  private val qMixRatesSql = {
    val t = TextFns.rawTokensSql("text")
    val rate = s"least(1.0, tot * $MixBudgetFrac / k / n_tokens)"
    s"""WITH d AS (SELECT source, $t AS toks FROM documents),
       ps AS (
         SELECT source, count(*) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS n_tokens
         FROM d GROUP BY source),
       tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot, count(*) AS k FROM ps)
       SELECT source, n_docs, n_tokens,
         floor(($rate) * 1000000.0 + 0.5) / 1000000.0 AS rate,
         CAST(floor(($rate) * CAST(n_tokens AS DOUBLE)) AS BIGINT) AS sampled_tokens
       FROM ps CROSS JOIN tot"""
  }

  /** q_lang_confusion: confusion matrix of the marker-based language
    * identifier against the corpus's ground-truth lang column — the
    * honest end-to-end evaluation the heuristic classifier owes its
    * users (q_lang_id emits predictions; this says where they are
    * RIGHT). Cells are exact integer counts over observed (true, pred)
    * pairs; per-cell recall share divides once by the true-language
    * row total. One join of the per-row prediction with the documents
    * table, one groupBy — language-bounded output. */
  def qLangConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = langIdOf(TextPrep.rawDocs(s, dir)).select("doc_id", "pred_lang")
    val truth = Tables.documents(s, dir).select(col("doc_id"), col("lang").as("true_lang"))
    val cells = pred.join(truth, Seq("doc_id"))
      .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy("true_lang").agg(sum(col("n")).as("n_true"))
    cells.join(rowTot, Seq("true_lang"))
      .select(col("true_lang"), col("pred_lang"), col("n"), col("n_true"),
        (col("true_lang") === col("pred_lang")).as("correct"),
        round(col("n").cast("double") / col("n_true"), 6).as("share_of_true"))
  }

  private lazy val qLangConfusionSql =
    s"""WITH li AS ($qLangIdSql),
       cells AS (SELECT d.lang AS true_lang, li.pred_lang,
                   CAST(count(*) AS BIGINT) AS n
                 FROM li JOIN documents d ON d.doc_id = li.doc_id
                 GROUP BY 1, 2),
       rt AS (SELECT true_lang, CAST(sum(n) AS BIGINT) AS n_true
              FROM cells GROUP BY 1)
       SELECT cells.true_lang, pred_lang, n, n_true,
         cells.true_lang = pred_lang AS correct,
         round(CAST(n AS DOUBLE) / n_true, 6) AS share_of_true
       FROM cells JOIN rt ON rt.true_lang = cells.true_lang"""

  /** Number of corpus prefixes on the vocabulary-growth curve. */
  val HeapsBuckets = 10

  /** q_heaps: vocabulary-growth (Heaps'-law) curve — distinct types vs
    * token mass over ten growing corpus prefixes, the scaling diagnostic
    * that says how the dictionary (and every vocabulary-sized structure
    * in this engine) grows as the corpus does. The load-bearing move:
    * prefix distinct-counts are NOT ten separate countDistincts — each
    * token reduces to its FIRST prefix bucket (min over docs, one
    * vocabulary-sized aggregate) and each prefix's type count is a
    * cumulative sum over the 10-row bucket table; token mass cumulates
    * the same way. All exact integers; TTR divides once. The Heaps
    * exponent is left to the consumer (spec fits the log-log slope) —
    * the gate carries the raw curve. */
  def qHeaps(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = TextPrep.cleanDocs(s, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val toks = docs.crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("n_docs"), explode(col("toks")).as("tok"))
      // bucket = which tenth of the doc-id order this doc belongs to
      .withColumn("bucket",
        least(expr(s"(doc_id * $HeapsBuckets) div n_docs + 1"), lit(HeapsBuckets))
          .cast("int"))
    val tokensPerBucket = toks.groupBy("bucket").agg(count(lit(1)).as("n_tok"))
    val firstBucket = toks.groupBy("tok").agg(min(col("bucket")).as("fb"))
      .groupBy(col("fb").as("bucket")).agg(count(lit(1)).as("n_new_types"))
    val docsPerBucket = docs.crossJoin(broadcast(nDocs))
      .select(least(expr(s"(doc_id * $HeapsBuckets) div n_docs + 1"),
        lit(HeapsBuckets)).cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs_b"))
    val wCum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsPerBucket
      .join(tokensPerBucket, Seq("bucket"), "left").na.fill(0L, Seq("n_tok"))
      .join(firstBucket, Seq("bucket"), "left").na.fill(0L, Seq("n_new_types"))
      .withColumn("n_docs", sum(col("n_docs_b")).over(wCum))
      .withColumn("n_tokens", sum(col("n_tok")).over(wCum))
      .withColumn("n_types", sum(col("n_new_types")).over(wCum))
      .select(col("bucket"), col("n_docs"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"))
  }

  private lazy val qHeapsSql = {
    val t = graft.functions.TextFns.cleanTokensSql("text")
    s"""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       docs AS (SELECT doc_id,
                  least((doc_id * $HeapsBuckets) // n_docs + 1, $HeapsBuckets) AS bucket,
                  $t AS toks
                FROM documents CROSS JOIN nd),
       tk AS (SELECT bucket, unnest(toks) AS tok FROM docs),
       tpb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tok FROM tk GROUP BY bucket),
       fb AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new_types FROM (
                SELECT tok, min(bucket) AS fb FROM tk GROUP BY tok) GROUP BY fb),
       dpb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs_b FROM docs GROUP BY bucket),
       j AS (SELECT dpb.bucket, n_docs_b,
               coalesce(n_tok, 0) AS n_tok, coalesce(n_new_types, 0) AS n_new_types
             FROM dpb LEFT JOIN tpb ON tpb.bucket = dpb.bucket
             LEFT JOIN fb ON fb.bucket = dpb.bucket)
       SELECT CAST(bucket AS INT) AS bucket,
         CAST(sum(n_docs_b) OVER w AS BIGINT) AS n_docs,
         CAST(sum(n_tok) OVER w AS BIGINT) AS n_tokens,
         CAST(sum(n_new_types) OVER w AS BIGINT) AS n_types,
         round(CAST(sum(n_new_types) OVER w AS DOUBLE) / sum(n_tok) OVER w, 6) AS ttr
       FROM j
       WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)"""
  }

  /** Top-k of the RAKE extraction (bounded output; the candidate/score
    * stages are corpus-wide regardless). */
  val RakeTopK = 25

  /** q_rake: RAKE keyword extraction (Rose et al. 2010) — the
    * degree/frequency PHRASE scorer that complements q_keywords'
    * TextRank (graph centrality over single tokens): candidate phrases
    * are maximal stopword-free token runs; each word scores
    * deg(w)/freq(w) where freq counts its occurrences inside candidates
    * and deg adds the length of the containing phrase per occurrence
    * (within-phrase co-occurrence incl. self); a phrase scores the sum
    * of its member word scores. Distributed shape: segmentation is a
    * per-doc running stopword count (doc-bounded window), word stats one
    * (w) aggregation, phrase scores one (phrase) aggregation — all
    * value-domain-sized after the first groupBy; top-k is a distributed
    * TakeOrdered, never a global single-partition window. Ties break
    * (n_occur desc, phrase asc). */
  def qRake(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stopArr = array(TextFns.Stopwords.map(lit): _*)
    val tok = TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), posexplode(col("rtoks")).as(Seq("pos", "w")))
      .withColumn("stop", array_contains(stopArr, col("w")))
    val dw = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // occ (2 consumers: wsc and the phrase counter) materializes once —
    // its collect_list aggregation is the expensive stage (guide §3.3).
    val members = tok
      .withColumn("grp", sum(when(col("stop"), 1L).otherwise(0L)).over(dw))
      .filter(!col("stop"))
      .select(col("doc_id"), col("grp"), col("pos"), col("w"))
    val occ = members.groupBy("doc_id", "grp")
      .agg(concat_ws(" ", OrderedFold.values(col("w"), col("pos"))).as("phrase"),
        count(lit(1)).as("len"))
      .localCheckpoint(true)
    // word stats come from occ ITSELF (r22): a phrase is exactly its
    // candidate run's members joined by spaces (tokens are alnum, no
    // embedded spaces), so splitting the phrase reproduces the member
    // multiset — the r21 form re-ran the posexplode + running-stopword
    // window over the whole corpus a second time and joined it back to
    // occ (plan: 2 Window passes over rawDocs → 1; same freq/deg counts
    // by construction).
    val wsc = occ
      .select(col("len"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("w"), (col("deg").cast("double") / col("freq")).as("wscore"))
    val scored = occ.groupBy("phrase").agg(count(lit(1)).as("n_occur"))
      .select(col("phrase"), col("n_occur"),
        posexplode(split(col("phrase"), " ")).as(Seq("pos", "w")))
      .join(wsc, Seq("w"))
      .groupBy("phrase", "n_occur")
      .agg(count(lit(1)).as("n_words"),
        OrderedFold.sum(col("wscore"), col("pos")).as("score"))
    val top = scored
      .orderBy(col("score").desc, col("n_occur").desc, col("phrase").asc)
      .limit(RakeTopK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("n_occur").desc, col("phrase").asc)))
      .select(col("rank"), col("phrase"), col("n_words"), col("n_occur"),
        round(col("score"), 6).as("score"))
  }

  private lazy val qRakeSql = {
    val toks = TextFns.rawTokensSql("text")
    val stop = TextFns.stopListSql
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       tok AS (SELECT doc_id, unnest(toks) AS w,
           CAST(generate_subscripts(toks, 1) AS INT) AS pos FROM t),
       g AS (SELECT doc_id, w, pos, w IN $stop AS stop,
           sum(CASE WHEN w IN $stop THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         FROM tok),
       mem AS (SELECT doc_id, grp, pos, w FROM g WHERE NOT stop),
       occ AS (SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
           CAST(count(*) AS BIGINT) AS len
         FROM mem GROUP BY 1, 2),
       wsc AS (SELECT mem.w,
           CAST(CAST(sum(occ.len) AS BIGINT) AS DOUBLE) / count(*) AS wscore
         FROM mem JOIN occ ON occ.doc_id = mem.doc_id AND occ.grp = mem.grp
         GROUP BY 1),
       ph AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur FROM occ GROUP BY 1),
       pw AS (SELECT phrase, n_occur,
           unnest(regexp_split_to_array(phrase, ' ')) AS w,
           CAST(generate_subscripts(regexp_split_to_array(phrase, ' '), 1) AS INT) AS pos
         FROM ph),
       sc AS (SELECT phrase, n_occur, CAST(count(*) AS BIGINT) AS n_words,
           list_sum(list(wscore ORDER BY pos)) AS score
         FROM pw JOIN wsc USING (w) GROUP BY 1, 2)
       SELECT CAST(row_number() OVER (ORDER BY score DESC, n_occur DESC, phrase ASC) AS INT) AS rank,
         phrase, n_words, n_occur, round(score, 6) AS score
       FROM sc ORDER BY score DESC, n_occur DESC, phrase ASC LIMIT $RakeTopK"""
  }

  override def registry: Seq[Q] = Seq(
    Q("q_rake", qRake, Oracle(qRakeSql)),
    Q("q_heaps", qHeaps, Oracle(qHeapsSql)),
    Q("q_lang_confusion", qLangConfusion, Oracle(qLangConfusionSql)),
    Q("q_bm25", qBm25, Oracle(qBm25Sql)),
    Q("q_chisq", qChisq, Oracle(qChisqSql)),
    Q("q_llr", qLlr, Oracle(qLlrSql)),
    Q("q_ttr", qTtr, Oracle(qTtrSql)),
    Q("q_yule_k", qYuleK, Oracle(qYuleKSql)),
    Q("q_burrows", qBurrows, Oracle(qBurrowsSql)),
    Q("q_token_budget", qTokenBudget, Oracle(qTokenBudgetSql)),
    Q("q_mixture_weights", qMixtureWeights, Oracle(qMixtureWeightsSql)),
    Q("q_cohens_h", qCohensH, Oracle(qCohensHSql)),
    Q("q_chao1", qChao1, Oracle(qChao1Sql)),
    Q("q_sampler_audit", qSamplerAudit, Oracle(qSamplerAuditSql)),
    Q("q_burstiness", qBurstiness, Oracle(qBurstinessSql)),
    Q("q_concordance", qConcordance, Oracle(qConcordanceSql)),
    Q("q_ctfidf", qCtfidf, Oracle(qCtfidfSql)),
    Q("q_mix_rates", qMixRates, Oracle(qMixRatesSql)),
    Q("q_lang_id", qLangId, Oracle(qLangIdSql)),
    Q("q_lang_ngram", qLangNgram, Oracle(qLangNgramSql)),
    Q("q_quality", qQuality, Oracle(qQualitySql)),
    Q("q_entropy", qEntropy, Oracle(qEntropySql)),
    Q("q_normalize", qNormalize, Oracle(qNormalizeSql)),
    Q("q_rep_ngram", qRepNgram, Oracle(qRepNgramSql)),
    Q("q_token_count", qTokenCount, Oracle(qTokenCountSql)),
    Q("q_fingerprint", qFingerprint, Oracle(qFingerprintSql)),
    Q("q_quality_rules", qQualityRules, Oracle(qQualityRulesSql)),
    Q("q_corpus_stats", qCorpusStats, Oracle(qCorpusStatsSql)),
    Q("q_curation", qCuration, Oracle(qCurationSql)),
    Q("q_curation_full", qCurationFull, Oracle(qCurationFullSql)),
    Q("q_pii_scrub", qPiiScrub, Oracle(qPiiScrubSql), Ml),
    Q("q_sample", qSample, Oracle(qSampleSql)),
    Q("q_sample_stratified", qSampleStratified, Oracle(qSampleStratifiedSql)),
    Q("q_sample_group", qSampleGroup, Oracle(qSampleGroupSql)),
    Q("q_sample_weighted", qSampleWeighted, Oracle(qSampleWeightedSql)),
    Q("q_pmi", qPmi, Oracle(qPmiSql)),
    Q("q_sppmi", qSppmi, Oracle(qSppmiSql)),
    Q("q_feature_hash", qFeatureHash, Oracle(qFeatureHashSql)),
    Q("q_sample_fixed", qSampleFixed, Oracle(qSampleFixedSql)),
    Q("q_keywords", qKeywords, Oracle(qKeywordsSql)),
    Q("q_lm_score", qLmScore, Oracle(qLmScoreSql)),
    Q("q_approx_distinct", qApproxDistinctGate, Oracle(qApproxDistinctSql), Ml))
}
