package graft.operators

import graft.{Ml, Oracle, Q, QueryModule}
import graft.functions.TextFns
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** gensim-equivalent corpus machinery, distributed:
  *  - cleaning chain (Read_And_Clean.py:53-86) as codegen'd Columns;
  *  - Dictionary build/compactify (webisalod_lda.py:41-48): one
  *    explode+groupBy(token) shuffle; ids assigned by a window over the
  *    (tiny) vocabulary — vocab ≪ corpus, so the single-partition window is
  *    bounded by vocab size, not data size;
  *  - filter_extremes(no_below, no_above) (webisalod_lda.py:42);
  *  - doc2bow (polysemous_words.py:79): groupBy(doc, token) partial agg;
  *  - TF-IDF (the reference's wiki_tfidf.mm): w = tf·ln(D/df), L2-normalized
  *    per doc — dictionary broadcasts back to the corpus side.
  */
object TextPrep extends QueryModule {

  /** doc_id → clean token array — THE shared stage of the text family
    * (clean_text, tokens, dictionary, doc2bow, tfidf, clean_english, the
    * whole topic-modeling corpus). Memoized per session + persisted
    * (MEMORY_AND_DISK, same treatment as Dedup.docShingles): the cleaning
    * kernel runs once per corpus, not once per consumer — q_clean_english
    * alone would otherwise re-clean the corpus three times (tokens, vocab
    * derivation, reassembly base). At 100 TB this materialization is a
    * checkpoint of clean tokens, the standard shape for a corpus pipeline. */
  def cleanDocs(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"text.cleanDocs:$dir") {
      // spread BEFORE tokenizing (guide §2.5): the documents table is an
      // unsplittable single-row-group file locally, so without the
      // exchange the regex cleaning chain AND every consumer of the
      // persisted relation (whose partitioning it inherits) would run
      // one-core. Paid once per session at substrate build.
      Tables.spread(Tables.documents(s, dir), dir, "documents", col("doc_id"))
        .select(col("doc_id"), TextFns.cleanTokens(col("text")).as("toks"))
        .cache()
    }

  /** The RAW-token twin of cleanDocs: full document row + `rtoks`
    * (lowercase alnum tokens, pre-stopword/lemma). Shared by the dedup
    * family (shingles, simhash, minhash, decontamination) and the text
    * analysis family (language-ID, quality, token counts, curation) —
    * without it each of those re-tokenizes the corpus per query. */
  def rawDocs(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"text.rawDocs:$dir") {
      // spread before tokenizing — same rationale as cleanDocs: the
      // persisted relation's partitioning is what every downstream
      // per-row pass (quality gates, shingles, language-ID) inherits.
      Tables.spread(Tables.documents(s, dir), dir, "documents", col("doc_id"))
        .withColumn("rtoks", TextFns.rawTokens(col("text")))
        .cache()
    }

  /** (tok, df, cf) is vocabulary-sized (≪ corpus) and consumed by four
    * operators — memoized+persisted for the same reason as cleanDocs. */
  private def tokenStatsCached(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"text.tokenStats:$dir") {
      tokenStatsOf(cleanDocs(s, dir))
        .cache()
    }

  /** q_clean_text: reference cleaning chain end-to-end. */
  def qCleanText(s: SparkSession, dir: String): DataFrame =
    cleanDocs(s, dir).select(col("doc_id"), array_join(col("toks"), " ").as("clean_text"))

  private val qCleanTextSql =
    s"SELECT doc_id, array_to_string(${TextFns.cleanTokensSql("text")}, ' ') AS clean_text FROM documents"

  /** q_tokens: per-doc term counts over clean tokens (doc2bow on tokens). */
  def qTokens(s: SparkSession, dir: String): DataFrame =
    cleanDocs(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))

  private val qTokensSql =
    s"""SELECT doc_id, tok, count(*) AS n FROM (
        SELECT doc_id, unnest(${TextFns.cleanTokensSql("text")}) AS tok FROM documents)
        GROUP BY doc_id, tok"""

  /** Distributed dense-id assignment in (df desc, tok asc) order: a global
    * range sort (orderBy → range partitioning, parallel sort) followed by
    * zipWithIndex (one lightweight count job, then per-partition offsets).
    * NO single-partition window: a 100 TB web corpus has 10⁸–10⁹ distinct
    * tokens, so the vocabulary must never funnel through one task. */
  private def withTokenIds(byToken: DataFrame): DataFrame = {
    val s = byToken.sparkSession
    val sorted = byToken.select("tok", "df", "cf").orderBy(col("df").desc, col("tok").asc)
    val schema = StructType(
      StructField("token_id", LongType, nullable = false) +: sorted.schema.fields)
    val withId = sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq((i + 1L) +: r.toSeq) }
    s.createDataFrame(withId, schema)
  }

  /** (tok, df, cf) stats — the aggregation half of the dictionary; consumers
    * that don't need ids (TF-IDF) join this directly so Catalyst can prune
    * (the id assignment below has an RDD boundary it can't see through). */
  private def tokenStatsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("tok")
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("cf"))

  def tokenStats(s: SparkSession, dir: String): DataFrame = tokenStatsCached(s, dir)

  /** Token→(id, df, cf) dictionary. Ids are dense (compactify) ordered by
    * (df desc, token asc) — deterministic, unlike gensim's insertion order.
    * Memoized+persisted (vocab-sized): the id-assignment sort + zipWithIndex
    * would otherwise re-run for every consumer (q_dictionary, doc2bow). */
  def dictionary(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"text.dictionary:$dir") {
      withTokenIds(tokenStats(s, dir))
        .cache()
    }

  def qDictionary(s: SparkSession, dir: String): DataFrame = dictionary(s, dir)

  private def dictionarySqlBody(havingClause: String) =
    s"""SELECT row_number() OVER (ORDER BY df DESC, tok ASC) AS token_id, tok, df, cf
        FROM (
          SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS cf FROM (
            SELECT doc_id, unnest(${TextFns.cleanTokensSql("text")}) AS tok FROM documents)
          GROUP BY tok $havingClause)"""

  private val qDictionarySql = dictionarySqlBody("")

  /** filter_extremes(no_below=3, no_above=0.8) + compactify (re-id). */
  def qDictFiltered(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val byToken = tokenStats(s, dir)
      .crossJoin(broadcast(d))
      .filter(col("df") >= 3 && col("df") <= col("n_docs") * 0.8)
    withTokenIds(byToken)
  }

  private val qDictFilteredSql = dictionarySqlBody(
    "HAVING count(DISTINCT doc_id) >= 3 AND count(DISTINCT doc_id) <= (SELECT count(*) FROM documents) * 0.8")

  /** doc2bow against the compact dictionary. No broadcast hint: AQE
    * auto-broadcasts while the vocab fits and falls back to a shuffle join
    * on `tok` beyond that (a web-scale vocab is NOT broadcast-able). */
  def qDoc2bow(s: SparkSession, dir: String): DataFrame = {
    val counts = qTokens(s, dir)
    counts.join(dictionary(s, dir).select("token_id", "tok"), Seq("tok"))
      .select("doc_id", "token_id", "n")
  }

  private[operators] val qDoc2bowSql =
    s"""WITH counts AS (
          SELECT doc_id, tok, count(*) AS n FROM (
            SELECT doc_id, unnest(${TextFns.cleanTokensSql("text")}) AS tok FROM documents)
          GROUP BY doc_id, tok),
        dict AS ($qDictionarySql)
        SELECT doc_id, token_id, n FROM counts JOIN dict USING (tok)"""

  /** L2-normalized TF-IDF: w = n · ln(D/df); out = w / sqrt(Σ w²) per doc.
    * df==D terms (idf 0) are dropped before normalization.
    *
    * Log base: gensim's smartirs 'ntc' (wiki_lda.py:14) uses log₂, this
    * uses ln. Equivalent by design: log₂x = ln x / ln 2, so the constant
    * 1/ln 2 scales every weight of a document equally and CANCELS under
    * the per-doc L2 normalization — the normalized outputs are identical
    * (and df==D drops identically: w > 0 iff log(D/df) > 0 in any base). */
  def qTfidf(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val weighted = qTokens(s, dir)
      .join(tokenStats(s, dir).select("tok", "df"), Seq("tok"))
      .crossJoin(broadcast(d))
      .select(col("doc_id"), col("tok"),
        (col("n") * log(col("n_docs").cast("double") / col("df"))).as("w"))
      .filter(col("w") > 0)
    val norm = Window.partitionBy("doc_id")
    weighted
      .select(col("doc_id"), col("tok"),
        round(col("w") / sqrt(sum(col("w") * col("w")).over(norm)), 6).as("tfidf"))
  }

  private val qTfidfSql =
    s"""WITH counts AS (
          SELECT doc_id, tok, count(*) AS n FROM (
            SELECT doc_id, unnest(${TextFns.cleanTokensSql("text")}) AS tok FROM documents)
          GROUP BY doc_id, tok),
        dict AS (
          SELECT tok, count(DISTINCT doc_id) AS df FROM (
            SELECT doc_id, unnest(${TextFns.cleanTokensSql("text")}) AS tok FROM documents)
          GROUP BY tok),
        weighted AS (
          SELECT doc_id, tok,
            n * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df) AS w
          FROM counts JOIN dict USING (tok))
        SELECT doc_id, tok,
          round(w / sqrt(sum(w * w) OVER (PARTITION BY doc_id)), 6) AS tfidf
        FROM weighted WHERE w > 0"""

  /** Minimum document frequency for a token to count as a "dictionary"
    * word in the corpus-derived vocabulary (hapax ≈ misspelling/noise). */
  val MinVocabDf = 2

  /** Dictionary-word filter — the reference's removeMistakes /
    * removeNonEnglish step (Read_And_Clean.py:19-29, applied at :76-81):
    * every token must appear in a vocabulary, everything else is dropped,
    * and the document is reassembled in token order.
    *
    * `vocab` is ANY one-column (`tok`) DataFrame: a curated English
    * lexicon when one is available (the reference uses a spellchecker's),
    * or the corpus-derived vocabulary below. The filter is a SEMI-join —
    * no fan-out, vocab never duplicates rows — and is NOT hinted
    * broadcast: a lexicon fits in a broadcast and AQE will choose that; a
    * 10⁹-token web-corpus vocabulary does not, and the shuffle semi-join
    * is the plan that survives. Reassembly sorts each doc's kept tokens by
    * position inside one aggregate — grouped by doc_id, so the sort is
    * per-document, never global. */
  def englishFilterOf(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val kept = toks.join(vocab.select("tok"), Seq("tok"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_n"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("english"))
    docs.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("english"), lit("")).as("english_text"),
        coalesce(col("kept_n"), lit(0L)).as("n_kept"),
        (col("n_toks") - coalesce(col("kept_n"), lit(0L))).as("n_dropped"))
  }

  /** q_clean_english: the cleaning chain's final reference step over the
    * corpus, with the corpus-derived vocabulary (df ≥ MinVocabDf — the
    * no-external-data analogue of an English dictionary: words seen in
    * only one document are overwhelmingly misspellings/noise). */
  def qCleanEnglish(s: SparkSession, dir: String): DataFrame =
    englishFilterOf(cleanDocs(s, dir),
      tokenStats(s, dir).filter(col("df") >= MinVocabDf).select("tok"))

  private val qCleanEnglishSql =
    s"""WITH b AS (
          SELECT doc_id, ${TextFns.cleanTokensSql("text")} AS toks FROM documents),
        t AS (
          SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM b),
        vocab AS (
          SELECT tok FROM t GROUP BY tok HAVING count(DISTINCT doc_id) >= $MinVocabDf),
        kept AS (
          SELECT doc_id, count(*) AS kept_n, string_agg(tok, ' ' ORDER BY pos) AS english
          FROM t SEMI JOIN vocab USING (tok) GROUP BY doc_id)
        SELECT b.doc_id,
          coalesce(kept.english, '') AS english_text,
          CAST(coalesce(kept.kept_n, 0) AS BIGINT) AS n_kept,
          CAST(len(b.toks) - coalesce(kept.kept_n, 0) AS BIGINT) AS n_dropped
        FROM b LEFT JOIN kept ON b.doc_id = kept.doc_id"""

  /** Concept-document assembly (Read_And_Clean.py:114-151): group docs by
    * `source` (≈ WebIsALOD concept), order-stable concatenation. The md5 of
    * the concatenation is the compared value — content-exact. */
  def qConceptDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), "\n")).as("content_md5"))

  private val qConceptDocsSql =
    """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       md5(string_agg(text, chr(10) ORDER BY doc_id)) AS content_md5
       FROM documents GROUP BY source"""

  /** q_oov: dictionary-coverage / out-of-vocabulary rate per language —
    * the tokenizer-coverage diagnostic every multilingual corpus card
    * reports (a language whose OOV rate spikes against the shared
    * filtered vocabulary is under-served by it). Tokens come from the
    * memoized cleanDocs stage; the vocabulary side is the
    * filter_extremes dictionary (9), joined with AQE's broadcast-or-
    * shuffle choice — a web-scale vocab is not broadcast-able. Exact
    * integer counts, one final division. */
  def qOov(s: SparkSession, dir: String): DataFrame = {
    val tk = cleanDocs(s, dir)
      .join(Tables.documents(s, dir).select("doc_id", "lang"), Seq("doc_id"))
      .select(col("lang"), explode(col("toks")).as("tok"))
    val vocab = qDictFiltered(s, dir).select(col("tok"))
      .withColumn("known", lit(true))
    tk.join(vocab, Seq("tok"), "left_outer")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("lang"), col("n_toks"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_toks"), 6).as("oov_rate"))
  }

  private lazy val qOovSql =
    s"""WITH fd AS ($qDictFilteredSql),
       tk AS (SELECT lang, unnest(${TextFns.cleanTokensSql("text")}) AS tok
              FROM documents)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_toks,
         CAST(sum(CASE WHEN tok IN (SELECT tok FROM fd) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
         round(CAST(sum(CASE WHEN tok IN (SELECT tok FROM fd) THEN 0 ELSE 1 END) AS DOUBLE)
           / count(*), 6) AS oov_rate
       FROM tk GROUP BY lang"""

  override def registry: Seq[Q] = Seq(
    Q("q_clean_text", qCleanText, Oracle(qCleanTextSql)),
    Q("q_tokens", qTokens, Oracle(qTokensSql)),
    Q("q_dictionary", qDictionary, Oracle(qDictionarySql)),
    Q("q_dict_filtered", qDictFiltered, Oracle(qDictFilteredSql), Ml),
    Q("q_doc2bow", qDoc2bow, Oracle(qDoc2bowSql), Ml),
    Q("q_tfidf", qTfidf, Oracle(qTfidfSql)),
    Q("q_clean_english", qCleanEnglish, Oracle(qCleanEnglishSql)),
    Q("q_oov", qOov, Oracle(qOovSql)),
    Q("q_concept_docs", qConceptDocs, Oracle(qConceptDocsSql)))
}
