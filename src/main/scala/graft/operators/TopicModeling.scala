package graft.operators

import graft.{Cert, Ml, Oracle, Q, QueryModule}
import graft.functions.{OrderedFold, TextFns}
import graft.sources.Tables
import org.apache.spark.ml.clustering.{LDA, LDAModel}
import org.apache.spark.ml.feature.CountVectorizer
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Topic modeling on Spark MLlib — the reference's gensim pipeline
  * re-expressed (wiki_lda.py / webisalod_lda.py / wiki_hdp.py /
  * coherence_log_perplexity.py / polysemous_words.py):
  *
  *  - LDA: MLlib online LDA (mini-batch variational — linear scans of the
  *    corpus, the 100 TB-sane choice) over a CountVectorizer BoW built from
  *    the same cleaning chain as TextPrep;
  *  - per-doc topic distributions with gensim's minimum_probability filter
  *    (polysemous_words.py:78-85, minimum_probability=0.0575);
  *  - polysemy flag: #topics above threshold > minimum_topics (=2)
  *    (polysemous_words.py:84);
  *  - HDP (wiki_hdp.py): q_hdp runs the truncated stick-breaking
  *    variational posterior over corpus-level topic proportions (true
  *    nonparametric topic-count inference); q_model_select keeps the
  *    complementary sweep-and-score selection the thesis also runs;
  *  - u_mass coherence + log-perplexity (coherence_log_perplexity.py).
  *
  * All queries here are rows-only oracles (iterative ML is not
  * SQL-expressible); determinism comes from fixed seeds.
  */
object TopicModeling extends QueryModule {

  val Seed = 42L
  val DefaultK = 10
  val MinimumProbability = 0.0575 // polysemous_words.py:56
  val MinimumTopicsPolysemous = 2 // polysemous_words.py:56
  val MinDocTokens = 5            // MIN_DOC_WORDS, polysemous_words.py:41

  /** BoW featurization shared by all topic queries (memoized per dir; the
    * bow DataFrame is cached — six queries reuse one featurization). */
  def corpus(s: SparkSession, dir: String): (DataFrame, Array[String]) =
    graft.ModelCache.getOrElseUpdate(s, s"tm.corpus:$dir") {
      val docs = TextPrep.cleanDocs(s, dir)
        .filter(size(col("toks")) > MinDocTokens) // reference's MIN_DOC_WORDS gate
      val cv = new CountVectorizer()
        .setInputCol("toks").setOutputCol("features")
        .setVocabSize(1 << 18).setMinDF(1)
      val cvModel = cv.fit(docs)
      val bow = cvModel.transform(docs).select("doc_id", "toks", "features").cache()
      (bow, cvModel.vocabulary)
    }

  /** The seeded online-LDA fit over [[corpus]]`(s, dir)` — memoized per
    * (dir, k, maxIter). It fits on a projection of the cached bow, not
    * the bow itself: MLlib persists its training RDD (and releases it
    * after the fit) only when the input frame is not cached, so fitting
    * the cached frame would re-derive every mini-batch's vectors from it.
    * The projection keeps the rows and their order, so the fit is the
    * same. */
  def fitLda(s: SparkSession, dir: String, k: Int, maxIter: Int = 20): LDAModel =
    graft.ModelCache.getOrElseUpdate(s, s"tm.lda:$dir:$k:$maxIter") {
      val (bow, _) = corpus(s, dir)
      new LDA().setK(k).setSeed(Seed).setMaxIter(maxIter)
        .setOptimizer("online").setFeaturesCol("features")
        .fit(bow.select("features"))
    }

  /** Topic top-terms in array shape (internal: coherence feeds off this). */
  def ldaTopTerms(s: SparkSession, dir: String): DataFrame = {
    val (_, vocab) = corpus(s, dir)
    val model = fitLda(s, dir, DefaultK)
    val vocabLit = array(vocab.map(lit): _*)
    model.describeTopics(10)
      .select(col("topic"),
        col("termIndices").as("term_ids"),
        transform(col("termIndices"), i => element_at(vocabLit, i + 1)).as("terms"),
        transform(col("termWeights"), w => round(w, 6)).as("weights"))
  }

  /** q_lda_topics: topic top terms, one scalar row per (topic, rank) —
    * array columns are unverifiable by the driver's pandas sort. */
  def qLdaTopics(s: SparkSession, dir: String): DataFrame =
    ldaTopTerms(s, dir)
      .select(col("topic"),
        posexplode(arrays_zip(col("term_ids"), col("terms"), col("weights")))
          .as(Seq("rank", "z")))
      .select(col("topic"), col("rank"),
        col("z.term_ids").as("term_id"), col("z.terms").as("term"),
        col("z.weights").as("weight"))

  /** Per-doc topic distribution (dense), shared stage (memoized+cached:
    * qDocTopics, qPolysemy and q_features all reuse it). */
  def docTopics(s: SparkSession, dir: String, k: Int = DefaultK): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"tm.docTopics:$dir:$k") {
      val (bow, _) = corpus(s, dir)
      val model = fitLda(s, dir, k)
      model.transform(bow)
        .select(col("doc_id"), vector_to_array(col("topicDistribution")).as("dist"))
        .cache()
    }

  /** q_doc_topics: gensim get_document_topics with minimum_probability. */
  def qDocTopics(s: SparkSession, dir: String): DataFrame =
    docTopics(s, dir)
      .select(col("doc_id"), posexplode(col("dist")).as(Seq("topic", "prob")))
      .filter(col("prob") >= MinimumProbability)
      .select(col("doc_id"), col("topic"), round(col("prob"), 6).as("prob"))

  /** q_polysemy: polysemous iff #topics(prob ≥ minProb) > minimumTopics. */
  def qPolysemy(s: SparkSession, dir: String): DataFrame =
    docTopics(s, dir)
      .select(col("doc_id"),
        size(filter(col("dist"), p => p >= MinimumProbability)).as("n_topics"))
      .select(col("doc_id"), col("n_topics"),
        (col("n_topics") > MinimumTopicsPolysemous).as("polysemous"))

  /** q_polysemy_audit: accounting certificate for the thesis headline
    * flag relation (polysemous_words.py:84). The oracle recomputes the
    * LDA corpus doc SET (every doc with > MIN_DOC_WORDS clean tokens —
    * the same gate [[corpus]] applies), so a sweep scored against a
    * desynced corpus fails on row count/ids; the guarantees re-derive
    * the flag from the emitted columns per doc: `range_ok` — the
    * ≥minProb topic count lands in [0, k]; `flag_ok` — polysemous ⇔
    * n_topics > MinimumTopicsPolysemous. Fully distributed (pure column
    * algebra over the memoized docTopics; no collect). */
  def qPolysemyAudit(s: SparkSession, dir: String): DataFrame =
    qPolysemy(s, dir).select(
      col("doc_id"),
      (col("n_topics") >= 0 && col("n_topics") <= DefaultK).as("range_ok"),
      (col("polysemous") === (col("n_topics") > MinimumTopicsPolysemous))
        .as("flag_ok"))

  private lazy val qPolysemyAuditSql =
    s"""WITH d AS (SELECT doc_id, len(${TextFns.cleanTokensSql("text")}) AS len
             FROM documents)
       SELECT doc_id, TRUE AS range_ok, TRUE AS flag_ok
       FROM d WHERE len > $MinDocTokens"""

  /** Shared u_mass substrate: per-(topic, pos, term) doc frequencies and
    * the FULL ordered-pair grid (pos_i > pos_j, 45 pairs per 10-term
    * topic) with smoothed co-document counts. gensim's s_one_pre
    * segmentation (CoherenceModel u_mass, the reference's primary metric
    * at coherence_log_perplexity.py:50-52) averages over EVERY pair —
    * a zero-co-occurrence pair contributes ln(1/D(wj)) through the +1
    * smoothing; an inner join on observed co-occurrences would silently
    * drop it. Counts come from one explode+broadcast-join of the k×10
    * top-term strings against the distinct (doc, term) posting. The
    * df_i/df_j attachments are LEFT joins that raise_error on a null df:
    * a top term with ZERO document frequency (out-of-vocabulary wrt the
    * cleaned corpus) has an undefined u_mass (df_j divides), and an inner
    * join would silently shrink the pair grid instead — the same
    * silent-drop class as the zero-codf bug the full-grid left join
    * fixes. q_coherence_audit's 45-pair count guards the default model;
    * this guard covers EVERY substrate consumer (the model-select sweep
    * included). */
  private def umassParts(s: SparkSession, dir: String,
      topTerms: DataFrame): (DataFrame, DataFrame) = {
    val docTerms = TextPrep.cleanDocs(s, dir)
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("term"))
    val terms = topTerms.select(col("topic"), posexplode(col("terms")).as(Seq("pos", "term")))
    val hits = docTerms.join(broadcast(terms), Seq("term")) // (doc, topic, pos, term)
    val single = hits.groupBy("topic", "pos", "term")
      .agg(countDistinct("doc_id").as("df"))
    val co = hits.as("a").join(hits.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.topic") === col("b.topic") &&
          col("a.pos") > col("b.pos"))
      .groupBy(col("a.topic").as("topic"), col("a.pos").as("pos_i"),
        col("b.pos").as("pos_j"))
      .agg(countDistinct(col("a.doc_id")).as("codf"))
    val grid = terms.select(col("topic"), col("pos").as("pos_i"))
      .join(terms.select(col("topic"), col("pos").as("pos_j")), Seq("topic"))
      .filter(col("pos_i") > col("pos_j"))
    // the guard lives in a FILTER (assert_true returns null ⇒ the
    // predicate keeps every row), not a projected coalesce(raise_error):
    // umassFromParts only reads df_j, so a projected df_i guard would be
    // column-pruned away and an out-of-vocabulary last term would pass
    val pairs = grid
      .join(co, Seq("topic", "pos_i", "pos_j"), "left_outer")
      .na.fill(0L, Seq("codf"))
      .join(single.select(col("topic"), col("pos").as("pos_i"), col("df").as("df_i")),
        Seq("topic", "pos_i"), "left_outer")
      .join(single.select(col("topic"), col("pos").as("pos_j"), col("df").as("df_j")),
        Seq("topic", "pos_j"), "left_outer")
      .filter(assert_true(col("df_i").isNotNull && col("df_j").isNotNull,
        concat(lit("umass: zero-df top term at topic="),
          col("topic").cast("string"), lit(" pair="),
          col("pos_i").cast("string"), lit(","),
          col("pos_j").cast("string"))).isNull)
    (single, pairs)
  }

  /** The default k=10 model's u_mass substrate (memoized: q_coherence and
    * its audit both consume it). */
  private def umassPartsDefault(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.ModelCache.getOrElseUpdate(s, s"tm.umassparts:$dir") {
      val (single, pairs) =
        umassParts(s, dir, ldaTopTerms(s, dir).select("topic", "terms"))
      (single.cache(),
        pairs.cache())
    }

  /** u_mass per topic over a substrate: mean over ALL ordered pairs
    * (wi, wj), i>j, of ln((D(wi,wj)+1)/D(wj)) — the Mimno 2011 score as
    * gensim computes it. */
  private def umassFromParts(pairs: DataFrame): DataFrame =
    pairs
      .select(col("topic"), col("pos_i"), col("pos_j"),
        log((col("codf") + 1).cast("double") / col("df_j")).as("term"))
      .groupBy("topic")
      .agg(round(OrderedFold.sum(col("term"), col("pos_i"), col("pos_j")) /
          count(lit(1)), 6).as("u_mass"),
        count(lit(1)).as("n_pairs"))

  /** u_mass coherence of arbitrary topic top terms (the model-select
    * sweep scores every k through this). */
  def umassCoherence(s: SparkSession, dir: String, topTerms: DataFrame): DataFrame =
    umassFromParts(umassParts(s, dir, topTerms)._2)

  /** q_coherence: u_mass per topic for the k=10 model. */
  def qCoherence(s: SparkSession, dir: String): DataFrame =
    umassFromParts(umassPartsDefault(s, dir)._2)

  /** q_coherence_audit: u_mass certificate — the thesis headline's
    * primary topic-quality metric, SQL-anchored the q_coherence_cv_audit
    * way. The pair VALUES depend on the LDA top terms (not
    * SQL-derivable), but the counting substrate is: the oracle recomputes
    * the corpus doc count and the distinct (doc, term) posting mass from
    * the clean-token SQL. Guarantees: every topic carries exactly 10
    * terms and exactly 45 ordered pairs (the FULL s_one_pre grid — a
    * dropped zero-co-occurrence pair fails the count), every doc
    * frequency is in [1, n_docs] (top terms come from this corpus' own
    * vocabulary), every pair count obeys the intersection bound
    * 0 ≤ D(wi,wj) ≤ min(D(wi), D(wj)), and every u_mass lands in the
    * smoothing-implied range [−ln(n_docs), ln 2]. */
  def qCoherenceAudit(s: SparkSession, dir: String): DataFrame = {
    val (single, pairs) = umassPartsDefault(s, dir)
    val nDocs = TextPrep.cleanDocs(s, dir).count()
    val postingMass = TextPrep.cleanDocs(s, dir)
      .select(explode(array_distinct(col("toks"))).as("term")).count()
    val sAgg = single.groupBy("topic")
      .agg(count(lit(1)).as("nt"), min(col("df")).as("dmin"),
        max(col("df")).as("dmax"))
      .agg(min(col("nt")).as("ntmin"), max(col("nt")).as("ntmax"),
        min(col("dmin")).as("dmin"), max(col("dmax")).as("dmax"),
        count(lit(1)).as("ntopics")).head
    val pAgg = pairs.groupBy("topic").agg(count(lit(1)).as("np"),
        sum(when(col("codf") < 0L ||
          col("codf") > least(col("df_i"), col("df_j")), 1L).otherwise(0L))
          .as("bad"))
      .agg(min(col("np")).as("npmin"), max(col("np")).as("npmax"),
        sum(col("bad")).as("bad_pairs")).head
    val uAgg = qCoherence(s, dir)
      .agg(min(col("u_mass")).as("umin"), max(col("u_mass")).as("umax"),
        min(col("n_pairs")).as("pmin"), max(col("n_pairs")).as("pmax")).head
    val termsOk = sAgg.getAs[Long]("ntmin") == 10L &&
      sAgg.getAs[Long]("ntmax") == 10L &&
      sAgg.getAs[Long]("ntopics") == DefaultK.toLong &&
      sAgg.getAs[Long]("dmin") >= 1L &&
      sAgg.getAs[Long]("dmax") <= nDocs
    val pairGridOk = pAgg.getAs[Long]("npmin") == 45L &&
      pAgg.getAs[Long]("npmax") == 45L &&
      pAgg.getAs[Long]("bad_pairs") == 0L &&
      uAgg.getAs[Long]("pmin") == 45L && uAgg.getAs[Long]("pmax") == 45L
    val umassRangeOk =
      uAgg.getAs[Double]("umin") >= -math.log(nDocs.toDouble) - 1e-9 &&
        uAgg.getAs[Double]("umax") <= math.log(2.0) + 1e-9
    import s.implicits._
    Seq((nDocs, postingMass, DefaultK.toLong, termsOk, pairGridOk, umassRangeOk))
      .toDF("n_docs", "posting_mass", "n_topics",
        "terms_ok", "pair_grid_ok", "umass_range_ok")
  }

  private lazy val qCoherenceAuditSql =
    s"""WITH d AS (SELECT list_distinct(${TextFns.cleanTokensSql("text")}) AS toks
             FROM documents)
       SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(toks)) AS BIGINT) AS posting_mass,
         CAST($DefaultK AS BIGINT) AS n_topics,
         TRUE AS terms_ok, TRUE AS pair_grid_ok, TRUE AS umass_range_ok
       FROM d"""

  // ------------------------------------------------------ c_v coherence

  /** Boolean-sliding-window width for c_v (gensim CoherenceModel's
    * window_size=110 default; docs shorter than the window contribute
    * one whole-doc window, exactly gensim's behavior). */
  val CvWindow = 110
  /** gensim's EPSILON inside the NPMI logs. */
  val CvEps = 1e-12

  /** Number of size-[[CvWindow]] step-1 windows that contain ≥1 of the
    * occurrence positions `ps` (sorted ascending longs), where valid
    * window starts are 0..cap. Each occurrence p covers starts
    * [max(0, p−L+1), min(p, cap)] — both endpoints nondecreasing in p,
    * so the union length is one left fold carrying (last covered start,
    * running total). Pure codegen'd higher-order functions: NO ×L
    * posting fan-out — the naive window explode multiplies every hit by
    * 110, this stays one row per (doc, term). */
  private[graft] def windowUnionCount(ps: org.apache.spark.sql.Column,
      cap: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(ps,
      struct(lit(-1L).as("pe"), lit(0L).as("tot")),
      (acc, p) => {
        val a = greatest(p - (CvWindow - 1), lit(0L), acc.getField("pe") + 1L)
        val b = least(p, cap)
        struct(
          greatest(acc.getField("pe"), b).as("pe"),
          (acc.getField("tot") + when(b >= a, b - a + 1L).otherwise(0L)).as("tot"))
      },
      acc => acc.getField("tot"))

  /** Shared c_v pipeline: per-topic NPMI matrix over the top-term grid
    * from boolean-sliding-window probabilities, plus the window-count
    * relations the audit certifies. Returns (total windows T, singles
    * (topic,pos,term,cnt), full ordered-pair grid with counts and npmi).
    *
    * Window counts per (doc, term) and per (doc, pair) come from the
    * interval-union fold above; the PAIR count needs no second scan —
    * |Uᵢ∩Uⱼ| = |Uᵢ|+|Uⱼ|−|Uᵢ∪Uⱼ| and Uᵢ∪Uⱼ is the same fold over the
    * merged position arrays (every position spawns the same-shape start
    * interval). The top-term set (k×10 strings) broadcasts; everything
    * per-doc is bounded by the terms actually present. */
  private def cvParts(s: SparkSession, dir: String): (Long, DataFrame, DataFrame) =
    graft.ModelCache.getOrElseUpdate(s, s"tm.cvparts:$dir")(buildCvParts(s, dir))

  private def buildCvParts(s: SparkSession, dir: String): (Long, DataFrame, DataFrame) = {
    val terms = ldaTopTerms(s, dir)
      .select(col("topic"), posexplode(col("terms")).as(Seq("pos", "term")))
    val docs = TextPrep.cleanDocs(s, dir)
      .filter(size(col("toks")) > MinDocTokens) // the LDA corpus gate
      .select(col("doc_id"), col("toks"),
        greatest(size(col("toks")).cast("long") - CvWindow, lit(0L)).as("cap"))
    val totalWindows = docs.agg(sum(col("cap") + 1L)).head.getLong(0)
    val perDoc = docs
      .select(col("doc_id"), col("cap"),
        posexplode(col("toks")).as(Seq("p", "term")))
      .join(broadcast(terms), Seq("term"))
      .groupBy("topic", "pos", "term", "doc_id", "cap")
      .agg(array_sort(collect_list(col("p").cast("long"))).as("ps"))
      .cache()
    val singles = perDoc
      .select(col("topic"), col("pos"), col("term"),
        windowUnionCount(col("ps"), col("cap")).as("wd"))
      .groupBy("topic", "pos", "term").agg(sum(col("wd")).as("cnt"))
    val pairCnt = perDoc
      .select(col("topic"), col("doc_id"), col("cap"),
        col("pos").as("pos_i"), col("ps").as("ps_i"))
      .join(perDoc.select(col("topic"), col("doc_id"),
        col("pos").as("pos_j"), col("ps").as("ps_j")), Seq("topic", "doc_id"))
      .filter(col("pos_i") > col("pos_j"))
      .select(col("topic"), col("pos_i"), col("pos_j"),
        (windowUnionCount(col("ps_i"), col("cap")) +
          windowUnionCount(col("ps_j"), col("cap")) -
          windowUnionCount(array_sort(concat(col("ps_i"), col("ps_j"))),
            col("cap"))).as("wp"))
      .groupBy("topic", "pos_i", "pos_j").agg(sum(col("wp")).as("pc"))
    // full ordered grid incl. mirror and self (self pair count = cnt:
    // U∩U = U, so npmi(w,w) lands at exactly 1 — the Röder S_one_set
    // segmentation gensim implements)
    val sym = pairCnt
      .unionByName(pairCnt.select(col("topic"), col("pos_j").as("pos_i"),
        col("pos_i").as("pos_j"), col("pc")))
      .unionByName(singles.select(col("topic"), col("pos").as("pos_i"),
        col("pos").as("pos_j"), col("cnt").as("pc")))
    val grid = terms.select(col("topic"), col("pos").as("pos_i"))
      .join(terms.select(col("topic"), col("pos").as("pos_j")), Seq("topic"))
    val t = totalWindows.toDouble
    val npmiAll = grid
      .join(sym, Seq("topic", "pos_i", "pos_j"), "left_outer")
      .na.fill(0L, Seq("pc"))
      .join(singles.select(col("topic"), col("pos").as("pos_i"),
        col("cnt").as("cnt_i")), Seq("topic", "pos_i"))
      .join(singles.select(col("topic"), col("pos").as("pos_j"),
        col("cnt").as("cnt_j")), Seq("topic", "pos_j"))
      .withColumn("npmi",
        log((col("pc").cast("double") / t + CvEps) /
          ((col("cnt_i").cast("double") / t) * (col("cnt_j").cast("double") / t))) /
          -log(col("pc").cast("double") / t + CvEps))
    (totalWindows, singles, npmiAll)
  }

  /** q_coherence_cv: c_v topic coherence (Röder/Bouma NPMI + one-set
    * cosine) — the better-correlated-with-humans metric the reference
    * computes-but-comments-out as too slow single-node
    * (coherence_log_perplexity.py:45-48: "c_v takes too long"); here the
    * window counting is one distributed interval-union pass, so it runs
    * beside u_mass. Per topic: each top term's context vector is its
    * NPMI row against the topic's term set, φ_i = cos(v_i, Σ_j v_j),
    * c_v = mean_i φ_i.
    * Rows-only gate (LDA-derived term sets); q_coherence_cv_audit
    * SQL-anchors the window machinery. */
  def qCoherenceCv(s: SparkSession, dir: String): DataFrame = {
    val (_, _, npmiAll) = cvParts(s, dir)
    val vs = npmiAll.groupBy("topic", "pos_j")
      .agg(OrderedFold.sum(col("npmi"), col("pos_i")).as("vs"))
    val vn = vs.groupBy("topic")
      .agg(OrderedFold.sum(col("vs") * col("vs"), col("pos_j"), col("vs")).as("vs2"))
    val ci = npmiAll.join(vs, Seq("topic", "pos_j"))
      .groupBy("topic", "pos_i")
      .agg(OrderedFold.sum(col("npmi") * col("vs"), col("pos_j"), col("npmi"), col("vs"))
          .as("num"),
        OrderedFold.sum(col("npmi") * col("npmi"), col("pos_j"), col("npmi"), col("vs"))
          .as("n2"))
      .join(vn, Seq("topic"))
      .select(col("topic"), col("pos_i"),
        (col("num") / sqrt(col("n2") * col("vs2"))).as("cos"))
    ci.groupBy("topic")
      .agg(round(OrderedFold.sum(col("cos"), col("pos_i")) / count(lit(1)), 6).as("c_v"),
        count(lit(1)).as("n_terms"))
  }

  /** q_coherence_cv_audit: c_v window-machinery certificate — the NPMI
    * VALUES depend on the LDA top terms (not SQL-derivable), but the
    * boolean-sliding-window substrate is: the oracle recomputes the doc
    * count of the LDA corpus and the total window count
    * Σ_d max(1, len_d − W + 1) from the clean-token SQL. Guarantees:
    * every topic carries exactly 10 terms, every term's window count is
    * in [1, T] (top terms must occur — the vocabulary came from these
    * docs), every pair count obeys the INTERSECTION bound
    * 0 ≤ pc ≤ min(cnt_i, cnt_j) (a broken inclusion-exclusion fold
    * lands outside it), every NPMI is in [−1, 1] and self-NPMI is
    * exactly 1, and every c_v is in [−1, 1]. */
  def qCoherenceCvAudit(s: SparkSession, dir: String): DataFrame = {
    val (totalWindows, singles, npmiAll) = cvParts(s, dir)
    val nDocs = TextPrep.cleanDocs(s, dir)
      .filter(size(col("toks")) > MinDocTokens).count()
    val sAgg = singles.groupBy("topic")
      .agg(count(lit(1)).as("nt"), min(col("cnt")).as("cmin"),
        max(col("cnt")).as("cmax"))
      .agg(min(col("nt")).as("ntmin"), max(col("nt")).as("ntmax"),
        min(col("cmin")).as("cmin"), max(col("cmax")).as("cmax"),
        count(lit(1)).as("ntopics")).head
    val pAgg = npmiAll.agg(
      sum(when(col("pc") < 0L ||
        col("pc") > least(col("cnt_i"), col("cnt_j")), 1L).otherwise(0L))
        .as("bad_pairs"),
      min(col("npmi")).as("nmin"), max(col("npmi")).as("nmax"),
      max(when(col("pos_i") === col("pos_j"), abs(col("npmi") - 1.0)))
        .as("self_dev")).head
    val cvAgg = qCoherenceCv(s, dir)
      .agg(min(col("c_v")).as("cvmin"), max(col("c_v")).as("cvmax")).head
    val termsOk = sAgg.getAs[Long]("ntmin") == 10L &&
      sAgg.getAs[Long]("ntmax") == 10L &&
      sAgg.getAs[Long]("ntopics") == DefaultK.toLong &&
      sAgg.getAs[Long]("cmin") >= 1L &&
      sAgg.getAs[Long]("cmax") <= totalWindows
    val pairBoundOk = pAgg.getAs[Long]("bad_pairs") == 0L
    val npmiOk = pAgg.getAs[Double]("nmin") >= -1.0 - 1e-9 &&
      pAgg.getAs[Double]("nmax") <= 1.0 + 1e-9 &&
      pAgg.getAs[Double]("self_dev") <= 1e-9
    val cvOk = cvAgg.getAs[Double]("cvmin") >= -1.0 &&
      cvAgg.getAs[Double]("cvmax") <= 1.0
    import s.implicits._
    Seq((nDocs, totalWindows, DefaultK.toLong,
      termsOk, pairBoundOk, npmiOk, cvOk))
      .toDF("n_docs", "n_windows", "n_topics",
        "terms_ok", "pair_bound_ok", "npmi_range_ok", "cv_range_ok")
  }

  private lazy val qCoherenceCvAuditSql =
    s"""WITH d AS (SELECT len(${TextFns.cleanTokensSql("text")}) AS len
             FROM documents),
       f AS (SELECT len FROM d WHERE len > $MinDocTokens)
       SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(GREATEST(len - ${CvWindow - 1}, 1)) AS BIGINT) AS n_windows,
         CAST($DefaultK AS BIGINT) AS n_topics,
         TRUE AS terms_ok, TRUE AS pair_bound_ok,
         TRUE AS npmi_range_ok, TRUE AS cv_range_ok
       FROM f"""

  /** q_perplexity: bound-based log-perplexity (gensim log_perplexity twin). */
  def qPerplexity(s: SparkSession, dir: String): DataFrame = {
    val (bow, _) = corpus(s, dir)
    val model = fitLda(s, dir, DefaultK)
    val lp = model.logPerplexity(bow)
    val ll = model.logLikelihood(bow)
    bow.sparkSession.range(1).select(
      lit(DefaultK).as("k"), lit(lp).as("log_perplexity"), lit(ll).as("log_likelihood"))
  }

  /** q_model_select: HDP-style model-size selection — sweep k, score each
    * model by mean u_mass coherence AND bound-based log-perplexity
    * (coherence_log_perplexity.py:41-52 scores both per k; the reference
    * sweeps k=10..990 step 10 — same sweep loop, smaller grid at test SF),
    * emit the sweep with the coherence argmax flagged (wiki_hdp.py's
    * suggested_lda_model analogue). One sequential fit per k is inherent
    * (iterative ML); each fit/score is fully distributed.
    *
    * Relation to the reference: wiki_hdp.py:1-30 infers the topic count
    * nonparametrically (gensim HdpModel, truncated stick-breaking at
    * T=1000, then suggested_lda_model()) — that inference now lives in
    * q_hdp (the truncated stick-breaking variational posterior). This
    * operator keeps the complementary sweep-and-score path
    * (coherence_log_perplexity.py sweeps k and scores both metrics),
    * which is also how HDP results are validated in practice. */
  /** The sweep grid (the reference sweeps k=10..990 step 10 —
    * webisalod_lda.py:55-60; [[qModelSelectAt]] replays any slice of it). */
  val ModelKs: Seq[Int] = Seq(5, 10, 15, 20, 25, 30)

  /** The collected (k, mean_umass, log_perplexity) sweep — memoized:
    * q_model_select and its audit both consume it (each LDA fit is
    * ModelCache'd anyway, but the coherence scoring joins are not). */
  private def modelSelectScores(s: SparkSession, dir: String)
      : Seq[(Int, Double, Double)] =
    graft.ModelCache.getOrElseUpdate(s, s"tm.modelselect:$dir") {
      modelSelectScoresUncached(s, dir)
    }

  def qModelSelect(s: SparkSession, dir: String): DataFrame =
    selectFrame(s, modelSelectScores(s, dir))

  /** [[qModelSelect]] over an EXPLICIT k grid — the route to the
    * reference's 10..990 sweep through the identical code path (the
    * thesis-scale replay spec drives a slice of it). Unmemoized — the
    * caller owns the grid, so the default-grid cache must not be
    * poisoned by it. */
  private[graft] def qModelSelectAt(s: SparkSession, dir: String,
      ks: Seq[Int]): DataFrame =
    selectFrame(s, modelSelectScoresUncached(s, dir, ks))

  private def selectFrame(s: SparkSession,
      scores: Seq[(Int, Double, Double)]): DataFrame = {
    val best = scores.maxBy(_._2)._1
    import s.implicits._
    scores.toDF("k", "mean_umass", "log_perplexity")
      .select(col("k"), round(col("mean_umass"), 6).as("mean_umass"),
        round(col("log_perplexity"), 6).as("log_perplexity"),
        (col("k") === best).as("selected"))
  }

  private def modelSelectScoresUncached(s: SparkSession, dir: String,
      ks: Seq[Int] = ModelKs): Seq[(Int, Double, Double)] = {
    val (bow, vocab) = corpus(s, dir)
    val vocabLit = array(vocab.map(lit): _*)
    // the sweep is embarrassingly parallel ACROSS k (each fit is an
    // independent seeded job DAG over the shared cached bow), so fits are
    // dispatched from a bounded driver pool and the cluster scheduler
    // interleaves their stages — on a 99-point cluster sweep this is the
    // difference between one fit's latency × 99 and ~pool-depth × the
    // slowest fit. Each fit is seeded and fits don't interact, so the
    // result is bit-identical to the sequential loop (par.map preserves
    // input order).
    import scala.collection.parallel.CollectionConverters._
    val pool = new java.util.concurrent.ForkJoinPool(
      math.max(1, math.min(ks.size, 4)))
    val scores = try {
      val par = ks.par
      par.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
      par.map { k =>
        val model = fitLda(s, dir, k, maxIter = 10)
        val tops = model.describeTopics(10).select(col("topic"),
          transform(col("termIndices"), i => element_at(vocabLit, i + 1)).as("terms"))
        val mean = umassCoherence(s, dir, tops)
          .agg(avg("u_mass")).head().getDouble(0)
        (k, mean, model.logPerplexity(bow))
      }.seq.toSeq
    } finally pool.shutdown()
    scores
  }

  /** q_model_select_audit: sweep accounting certificate — the last
    * rows-only topic-model family gains its SQL anchor. The oracle
    * re-emits the declared k grid; guarantees asserted Spark-side per row:
    * `umass_range_ok` — the k's mean u_mass lands in the smoothing-
    * implied [−ln D, ln 2] envelope (D = the INDEPENDENTLY counted
    * cleaned corpus the df denominators come from; the q_coherence_audit
    * bound applied across the whole sweep), `ppl_ok` — its bound-based
    * log-perplexity is finite and positive, and `argmax_ok` (global,
    * every row) — exactly one grid point is selected and it carries the
    * maximum mean u_mass. A sweep that scored against a desynced corpus,
    * emitted a NaN fit, or selected anything but the coherence argmax
    * fails its row. */
  def qModelSelectAudit(s: SparkSession, dir: String): DataFrame = {
    val scores = modelSelectScores(s, dir)
    val sel = qModelSelect(s, dir).filter(col("selected"))
      .select("k", "mean_umass").collect()
    val nDocs = TextPrep.cleanDocs(s, dir).count()
    val lo = -math.log(nDocs.toDouble); val hi = math.log(2.0)
    val maxUmass = scores.map(_._2).max
    val argmaxOk = sel.length == 1 &&
      math.abs(sel(0).getAs[Double]("mean_umass") -
        math.floor(maxUmass * 1e6 + 0.5) / 1e6) < 1e-12
    import s.implicits._
    scores.map { case (k, um, lp) =>
      (k, um >= lo - 1e-9 && um <= hi + 1e-9,
        !lp.isNaN && !lp.isInfinity && lp > 0.0, argmaxOk)
    }.toDF("k", "umass_range_ok", "ppl_ok", "argmax_ok")
  }

  private lazy val qModelSelectAuditSql =
    s"""SELECT CAST(unnest([${ModelKs.mkString(", ")}]) AS INT) AS k,
         TRUE AS umass_range_ok, TRUE AS ppl_ok, TRUE AS argmax_ok"""

  // ---------------------------------------------------------------- HDP

  /** Corpus-level concentration γ (gensim HdpModel gamma default). */
  val HdpGamma = 1.0
  /** Corpus truncation T at test SF (reference uses T=1000 at wiki scale —
    * wiki_hdp.py:19; [[qHdpAt]] runs any T through the same code path). */
  val HdpTruncation = 20
  /** Keep topic k iff its expected corpus weight E[β_k] ≥ this. */
  val HdpBetaThreshold = 0.01

  /** q_hdp: TRUE nonparametric topic-count inference — the truncated
    * stick-breaking variational HDP posterior over corpus-level topic
    * proportions (Wang, Paisley, Blei 2011, "Online Variational Inference
    * for the Hierarchical Dirichlet Process"), replacing the former
    * sweep-and-argmax stand-in for reference wiki_hdp.py:19-27
    * (HdpModel(T=1000) → suggested_lda_model()).
    *
    * Factorization: the topic-word half of the variational family is the
    * T-truncated online-LDA fit (the same mean-field family WPB §3 uses);
    * this operator runs the corpus-stick half exactly: with φ_dk the
    * doc-topic posterior mass, the Beta posterior of stick v_k is
    * a_k = 1 + Σ_d φ_dk,  b_k = γ + Σ_d Σ_{j>k} φ_dj, and the expected
    * weight is E[β_k] = E[v_k]·Π_{j<k}(1−E[v_j]) with E[v_k] =
    * a_k/(a_k+b_k). Topics with E[β_k] ≥ τ survive — that surviving set
    * IS suggested_lda_model(): the LDA restricted to the topics the
    * stick-breaking posterior says the corpus uses.
    *
    * Scale shape: the E-step aggregate Σ_d φ_dk is one distributed
    * explode+groupBy over the doc-topic output; only T partial sums reach
    * the driver (tail sums Σ_{j>k} S_j are suffix sums over those T
    * values), and the emitted relation is T rows. Rows-only gate
    * (iterative ML is not SQL-expressible); seeded, so deterministic. */
  def qHdp(s: SparkSession, dir: String): DataFrame = qHdpAt(s, dir, HdpTruncation)

  /** [[qHdp]] at an EXPLICIT truncation — the route to thesis scale
    * (Round13Spec runs it at T=100 to prove that path: same math, driver
    * state strictly T-bounded). */
  private[graft] def qHdpAt(s: SparkSession, dir: String, t: Int): DataFrame = {
    import s.implicits._
    hdpSticks(s, dir, t).map { case (stick, topicId, a, b, beta, _) =>
      (stick, topicId, math.floor(a * 1e6) / 1e6, math.floor(b * 1e6) / 1e6,
        math.floor(beta * 1e6) / 1e6, beta >= HdpBetaThreshold)
    }.toDF("stick", "topic", "stick_a", "stick_b", "beta", "kept")
  }

  /** The UNROUNDED stick table (stick, topic, a, b, beta, remain) shared
    * by q_hdp and its audit — one code path, so the certificate checks
    * the numbers the query actually emits. */
  private def hdpSticks(s: SparkSession, dir: String, t: Int)
      : Seq[(Int, Int, Double, Double, Double, Double)] = {
    val totals = docTopics(s, dir, t)
      .select(posexplode(col("dist")).as(Seq("topic", "phi")))
      .groupBy("topic").agg(sum(col("phi")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // sticks are ordered by corpus usage (the WPB/gensim greedy ordering —
    // tightest variational bound puts the heaviest topics on the earliest
    // sticks); ties broken by topic id for determinism
    val ordered = (0 until t).map(k => (totals.getOrElse(k, 0.0), k))
      .sortBy { case (sk, k) => (-sk, k) }
    val tails = ordered.map(_._1).scanRight(0.0)(_ + _).tail // Σ over later sticks
    ordered.zip(tails).zipWithIndex
      .scanLeft((0, 0, 0.0, 0.0, 0.0, 1.0)) {
        case ((_, _, _, _, _, remain), (((sk, topicId), tail), stick)) =>
          val a = 1.0 + sk
          val b = HdpGamma + tail
          val v = a / (a + b)
          (stick, topicId, a, b, v * remain, remain * (1.0 - v))
      }.tail
  }

  /** q_hdp_audit: HDP stick-mass certificate — the variational posterior
    * VALUES aren't SQL-expressible, but the corpus-stick sufficient
    * statistics are ANCHORED: Σ_k φ_dk = 1 per document (the doc-topic
    * posterior is a simplex point), so the total stick mass
    * Σ_k (a_k − 1) = Σ_d Σ_k φ_dk must equal the doc2bow corpus' document
    * count — the same relation the hash-gated q_lda_audit counts. A
    * dropped partition, a desynced corpus, or a broken E-step aggregate
    * all break the mass identity. Guarantees: T sticks over T distinct
    * topics; the Beta-posterior recursion b_{k−1} − b_k = a_k − 1 with
    * b_last = γ (the tail-sum telescope); stick usage nonincreasing (the
    * greedy ordering); E[β] a sub-simplex (β_k ≥ 0, Σβ + remainder = 1);
    * kept ⇔ β ≥ τ. */
  def qHdpAudit(s: SparkSession, dir: String): DataFrame =
    qHdpAuditAt(s, dir, HdpTruncation)

  /** [[qHdpAudit]] at an explicit truncation (see [[qHdpAt]]). */
  private[graft] def qHdpAuditAt(s: SparkSession, dir: String, tr: Int): DataFrame = {
    val sticks = hdpSticks(s, dir, tr)
    val t = sticks.length
    val nDocs = docTopics(s, dir, tr).count()
    val mass = sticks.map(_._3 - 1.0).sum
    // per-doc simplex deviation ≤ 1e-6 (q_lda_audit's bound) accumulates
    // linearly at worst: tolerance n_docs·1e-6, floored at 1e-6
    val massOk = math.abs(mass - nDocs.toDouble) <=
      math.max(nDocs.toDouble * 1e-6, 1e-6)
    val recursionOk = sticks.sliding(2).forall {
        case Seq(prev, cur) =>
          math.abs((prev._4 - cur._4) - (cur._3 - 1.0)) <= 1e-9 * (1.0 + cur._3)
        case _ => true
      } && math.abs(sticks.last._4 - HdpGamma) <= 1e-9
    val orderOk = sticks.sliding(2).forall {
      case Seq(prev, cur) => prev._3 >= cur._3 - 1e-12
      case _ => true
    }
    val betaSum = sticks.map(_._5).sum + sticks.last._6
    val simplexOk = sticks.forall(_._5 >= 0.0) &&
      math.abs(betaSum - 1.0) <= 1e-9
    // kept must survive the emitted 1e-6 floor rounding: τ·1e6 is an
    // integer, so floor(β·1e6)/1e6 ≥ τ ⇔ β ≥ τ — a reader of the emitted
    // relation reconstructs exactly the same keep set
    val keptOk = sticks.forall(r => (r._5 >= HdpBetaThreshold) ==
      (math.floor(r._5 * 1e6) / 1e6 >= HdpBetaThreshold))
    val topicsOk = t == sticks.map(_._2).distinct.length
    import s.implicits._
    Seq((nDocs, t.toLong, massOk, recursionOk, orderOk, simplexOk,
      keptOk && topicsOk))
      .toDF("n_docs", "n_sticks", "mass_ok", "recursion_ok", "order_ok",
        "simplex_ok", "kept_ok")
  }

  private lazy val qHdpAuditSql =
    s"""WITH bow AS (SELECT DISTINCT doc_id FROM (${TextPrep.qDoc2bowSql}))
       SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST($HdpTruncation AS BIGINT) AS n_sticks,
         TRUE AS mass_ok, TRUE AS recursion_ok, TRUE AS order_ok,
         TRUE AS simplex_ok, TRUE AS kept_ok
       FROM bow"""

  /** q_lda_audit: LDA doc-topic coverage certificate — the posterior
    * VALUES can't be SQL-oracled (iterative variational fit), but the
    * transform's accounting contract can: `n_docs` must equal the
    * distinct-document count of the hash-gated doc2bow relation (the
    * exact corpus the fit consumed — a silently dropped partition or a
    * desynced corpus() fails this anchor), every emitted distribution
    * must be a k-simplex point (Σ=1 ± 1e-6, no negative mass), and k
    * must be the declared model size. The q_minhash_audit rule applied
    * to the topic-model pipeline's shape. */
  def qLdaAudit(s: SparkSession, dir: String): DataFrame = {
    val agg = docTopics(s, dir)
      .select(size(col("dist")).as("k"),
        aggregate(col("dist"), lit(0.0), (a, x) => a + x).as("mass"),
        aggregate(col("dist"), lit(0L),
          (a, x) => a + when(x < 0.0, 1L).otherwise(0L)).as("neg"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("k")).as("kmin"), max(col("k")).as("kmax"),
        max(abs(col("mass") - 1.0)).as("dev"), sum(col("neg")).as("negs"))
      .collect().head
    import s.implicits._
    Seq((agg.getAs[Long]("n_docs"), DefaultK.toLong,
      agg.getAs[Int]("kmin") == DefaultK && agg.getAs[Int]("kmax") == DefaultK,
      agg.getAs[Double]("dev") <= 1e-6,
      agg.getAs[Long]("negs") == 0L))
      .toDF("n_docs", "k", "k_ok", "normalized_ok", "nonneg_ok")
  }

  private lazy val qLdaAuditSql =
    s"""WITH bow AS (SELECT DISTINCT doc_id FROM (${TextPrep.qDoc2bowSql}))
       SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST($DefaultK AS BIGINT) AS k,
         TRUE AS k_ok, TRUE AS normalized_ok, TRUE AS nonneg_ok
       FROM bow"""

  /** q_perplexity_audit: log-perplexity certificate — the bound VALUE is
    * not SQL-derivable (variational fit), but its accounting is: the
    * oracle recomputes the scored corpus' doc count and total token mass
    * from the clean-token SQL (the same MIN_DOC_WORDS gate the corpus
    * applies — a desynced corpus or a vocab-capped CountVectorizer that
    * silently drops tokens breaks the mass anchor, since MLlib divides
    * by exactly that count). Guarantees asserted Spark-side:
    * `identity_ok` — the emitted log-perplexity obeys MLlib's defining
    * identity lp = −ll / n_tokens against the INDEPENDENTLY aggregated
    * token mass (not the model's internal count), and `range_ok` — both
    * are finite with ll < 0 < lp (a degenerate fit or an empty corpus
    * emits NaN/0 and fails). */
  def qPerplexityAudit(s: SparkSession, dir: String): DataFrame = {
    val (bow, _) = corpus(s, dir)
    val model = fitLda(s, dir, DefaultK)
    val lp = model.logPerplexity(bow)
    val ll = model.logLikelihood(bow)
    val agg = bow.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("long")).as("n_tokens")).head
    val nDocs = agg.getLong(0); val nTok = agg.getLong(1)
    val identityOk = math.abs(lp * nTok + ll) <= 1e-9 * math.max(1.0, math.abs(ll))
    val rangeOk = !lp.isNaN && !lp.isInfinity && !ll.isNaN && !ll.isInfinity &&
      ll < 0.0 && lp > 0.0
    import s.implicits._
    Seq((nDocs, nTok, identityOk, rangeOk))
      .toDF("n_docs", "n_tokens", "identity_ok", "range_ok")
  }

  private lazy val qPerplexityAuditSql =
    s"""WITH d AS (SELECT len(${TextFns.cleanTokensSql("text")}) AS len
             FROM documents)
       SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len) AS BIGINT) AS n_tokens,
         TRUE AS identity_ok, TRUE AS range_ok
       FROM d WHERE len > $MinDocTokens"""

  override def registry: Seq[Q] = Seq(
    Q("q_perplexity_audit", qPerplexityAudit, Oracle(qPerplexityAuditSql), Ml),
    Q("q_lda_topics", qLdaTopics, Cert("q_lda_audit"), Ml),
    Q("q_doc_topics", qDocTopics, Cert("q_lda_audit"), Ml),
    Q("q_polysemy", qPolysemy, Cert("q_polysemy_audit"), Ml),
    Q("q_polysemy_audit", qPolysemyAudit, Oracle(qPolysemyAuditSql), Ml),
    Q("q_coherence", qCoherence, Cert("q_coherence_audit"), Ml),
    Q("q_coherence_audit", qCoherenceAudit, Oracle(qCoherenceAuditSql), Ml),
    Q("q_coherence_cv", qCoherenceCv, Cert("q_coherence_cv_audit"), Ml),
    Q("q_coherence_cv_audit", qCoherenceCvAudit, Oracle(qCoherenceCvAuditSql), Ml),
    Q("q_perplexity", qPerplexity, Cert("q_perplexity_audit"), Ml),
    Q("q_model_select", qModelSelect, Cert("q_model_select_audit"), Ml),
    Q("q_model_select_audit", qModelSelectAudit, Oracle(qModelSelectAuditSql), Ml),
    Q("q_hdp", qHdp, Cert("q_hdp_audit"), Ml),
    Q("q_hdp_audit", qHdpAudit, Oracle(qHdpAuditSql), Ml),
    Q("q_lda_audit", qLdaAudit, Oracle(qLdaAuditSql), Ml))
}
