package graft.operators

import graft.{Cert, Ml, Oracle, Q, QueryModule}
import graft.functions.JaroWinkler
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The thesis headline, end-to-end: "is this concept polysemous, and how
  * well do we detect it?" (polysemous_words.py:198 train_evaluate,
  * evaluate.py:176 evaluate, evaluate.py:100-106 compareStrings).
  *
  * Pipeline: LDA polysemy predictions (TopicModeling.qPolysemy) → gold
  * standard lookup by NAME (cleanString normalization + Jaro-Winkler ≥ 0.95,
  * exactly the reference's compareStrings gate) → EVResult confusion row
  * (tp/fp/tn/fn/precision/recall/accuracy/F1).
  *
  * Scale design of the name match — the reference's all-pairs Python loop
  * does not scale, so ours is staged:
  *   1. exact join on the cleaned name (hash join — covers the vast
  *      majority of matches, arbitrarily scalable);
  *   2. residual-only fuzzy pass: prefix-blocked equi-join (first 2 cleaned
  *      chars) + JW ≥ 0.95 inside each block, best match per prediction by
  *      (jw desc, name asc). JW ≥ 0.95 pairs that disagree in their first
  *      two characters are sacrificed by the blocking — the bounded recall
  *      loss that buys a shuffle-join plan instead of a cross join.
  *
  * Gold labels follow the reference encoding (evaluate.py:125-174):
  * 1 = disambiguation page (polysemous), 2 = plain wiki page (not
  * polysemous), 0 = not found — label-0 concepts are excluded from the
  * confusion matrix, as in evaluate().
  */
object PolysemyEval extends QueryModule {

  val JwThreshold = 0.95 // evaluate.py:106

  /** cleanString (evaluate.py:88-98): lowercase, strip non-alphanumerics. */
  def cleanName(c: Column): Column = regexp_replace(lower(c), "[^a-z0-9]", "")

  /** Name-match predictions to gold: exact-clean-name fast path + prefix-
    * blocked JW ≥ 0.95 residual pass. Inputs: pred(name, pred: Boolean),
    * gold(name, label: Int). Output: one row per matched prediction with
    * (name, pred, label, jw). */
  def nameMatch(pred: DataFrame, gold: DataFrame): DataFrame = {
    val p = pred.select(col("name"), cleanName(col("name")).as("cn"), col("pred"))
    val g = gold.select(col("name").as("g_name"), cleanName(col("name")).as("g_cn"), col("label"))
    val exact = p.join(g, col("cn") === col("g_cn"))
      .select(col("name"), col("pred"), col("label"), lit(1.0).as("jw"))
    // fuzzy residual: only names with no exact match, blocked by prefix
    val pRes = p.join(g.select(col("g_cn").as("cn")), Seq("cn"), "left_anti")
      .withColumn("blk", substring(col("cn"), 1, 2))
    val gRes = g.join(p.select(col("cn").as("g_cn")), Seq("g_cn"), "left_anti")
      .withColumn("blk", substring(col("g_cn"), 1, 2))
    val w = Window.partitionBy("name").orderBy(col("jw").desc, col("g_name").asc)
    val fuzzy = pRes.join(gRes, Seq("blk"))
      .select(col("name"), col("pred"), col("label"), col("g_name"),
        JaroWinkler.similarity(col("cn"), col("g_cn")).as("jw"))
      .filter(col("jw") >= JwThreshold)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("name"), col("pred"), col("label"), round(col("jw"), 6).as("jw"))
    exact.unionByName(fuzzy)
  }

  /** Synthetic gold standard over documents — the deterministic analogue of
    * the Wikipedia disambiguation dump (the OPERATOR under test is the
    * JW-matched EVResult, not the gold itself): concept name is a formatted
    * variant of the doc id (exercises cleanString), label 0 for every 7th
    * concept (not-in-wiki), else 1 (polysemous) iff the doc is long. */
  def docGold(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      concat(lit("Concept-"), col("doc_id")).as("name"),
      when(col("doc_id") % 7 === 0, 0)
        .when(col("n_chars") > 250, 1).otherwise(2).as("label"))

  /** q_polysemy_eval: the end-to-end EVResult row. */
  def qPolysemyEval(s: SparkSession, dir: String): DataFrame = {
    val pred = TopicModeling.qPolysemy(s, dir)
      .select(concat(lit("concept "), col("doc_id")).as("name"), col("polysemous").as("pred"))
    val matched = nameMatch(pred, docGold(s, dir))
      .filter(col("label").isin(1, 2)) // 0 = not in wiki → excluded (evaluate.py)
    Evaluation.confusionMetrics(
      matched.select(col("pred"), (col("label") === 1).as("gold")))
      .select(lit("polysemy_lda").as("model"), col("*"))
  }

  /** q_param_sweep: the skopt search space (polysemous_words.py:48-57) as a
    * DISTRIBUTED grid sweep — one pass over the memoized per-doc topic
    * distributions, every (minimum_probability, minimum_topics, MIN_DOC_LEN)
    * combo scored against the gold standard in a single shuffle. The LDA is
    * fit ONCE (ModelCache); the sweep itself is pure DataFrame algebra, so
    * widening the grid costs one explode factor, not one model fit per cell. */
  def qParamSweep(s: SparkSession, dir: String): DataFrame =
    scoreCombos(s, dir, ParamGrid)

  /** The skopt search-space grid (polysemous_words.py:48-57). */
  val ParamGrid: Seq[(Double, Int, Int)] = for {
    mp <- Seq(0.03, 0.0575, 0.1)
    mt <- Seq(1, 2, 3)
    mdl <- Seq(0, 10)
  } yield (mp, mt, mdl)

  /** Score EVERY (min_prob, min_topics, min_len) combo against the gold
    * standard in one distributed pass — the explode-over-combos plan
    * shared by the grid sweep and the Bayesian search's warm start. A
    * combo whose min_len gate excludes the whole corpus emits no row
    * (callers treat the absence as a degenerate evaluation). */
  def scoreCombos(s: SparkSession, dir: String,
      grid: Seq[(Double, Int, Int)]): DataFrame = {
    val combos = array(grid.map { case (mp, mt, mdl) =>
      struct(lit(mp).as("min_prob"), lit(mt).as("min_topics"), lit(mdl).as("min_len"))
    }: _*)
    val lens = TextPrep.cleanDocs(s, dir).select(col("doc_id"), size(col("toks")).as("len"))
    val gold = Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 7 === 0, 0)
        .when(col("n_chars") > 250, 1).otherwise(2).as("label"))
    TopicModeling.docTopics(s, dir)
      .join(lens, Seq("doc_id"))
      .join(gold, Seq("doc_id"))
      .filter(col("label").isin(1, 2))
      .select(col("doc_id"), col("dist"), col("len"), (col("label") === 1).as("gold"),
        explode(combos).as("c"))
      .filter(col("len") >= col("c.min_len")) // MIN_DOC_LEN gate per combo
      .select(col("c.min_prob").as("min_prob"), col("c.min_topics").as("min_topics"),
        col("c.min_len").as("min_len"), col("gold"),
        (size(filter(col("dist"), p => p >= col("c.min_prob"))) > col("c.min_topics")).as("pred"))
      .groupBy("min_prob", "min_topics", "min_len")
      .agg(
        sum(when(col("pred") && col("gold"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("gold"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && !col("gold"), 1L).otherwise(0L)).as("tn"),
        sum(when(!col("pred") && col("gold"), 1L).otherwise(0L)).as("fn"))
      .select(col("min_prob"), col("min_topics"), col("min_len"),
        col("tp"), col("fp"), col("tn"), col("fn"),
        when(lit(2.0) * col("tp") + col("fp") + col("fn") =!= 0,
          round(lit(2.0) * col("tp") / (lit(2.0) * col("tp") + col("fp") + col("fn")), 6))
          .as("f1"))
  }

  /** q_param_sweep_audit: sweep accounting certificate for the skopt
    * search-space grid (polysemous_words.py:48-57) — the
    * q_model_select_audit pattern, with a GENUINE cross-engine anchor:
    * `n_eval` (the cell's evaluation mass tp+fp+tn+fn) is recomputed by
    * the oracle from the documents table alone (gold labels ∈ {1,2},
    * clean-token length > MIN_DOC_WORDS — the LDA corpus gate — and
    * length ≥ the cell's MIN_DOC_LEN), so a sweep scored against a
    * desynced corpus, a leaked label-0 row or a broken per-cell length
    * gate hash-fails on the VALUE, not just a boolean. Guarantees:
    * `lattice_ok` (global) — the scored coordinate multiset equals
    * [[ParamGrid]] exactly; `f1_ok` — the emitted F1 is NULL iff
    * 2·tp+fp+fn = 0 and otherwise re-derives (half-up 6dp) from the
    * integer confusion counts. Model-sized collect (|grid| rows). */
  def qParamSweepAudit(s: SparkSession, dir: String): DataFrame = {
    val rows = qParamSweep(s, dir).collect()
    val coords = rows.toSeq.map(r => (r.getAs[Double]("min_prob"),
      r.getAs[Int]("min_topics"), r.getAs[Int]("min_len")))
    val latticeOk = coords.sorted == ParamGrid.sorted
    import s.implicits._
    rows.toSeq.map { r =>
      val tp = r.getAs[Long]("tp"); val fp = r.getAs[Long]("fp")
      val tn = r.getAs[Long]("tn"); val fn = r.getAs[Long]("fn")
      val f1 = Option(r.getAs[java.lang.Double]("f1")).map(_.doubleValue)
      val denom = 2.0 * tp + fp + fn
      val f1Ok =
        if (denom == 0.0) f1.isEmpty
        else f1.exists(v =>
          math.abs(v - math.floor(2.0 * tp / denom * 1e6 + 0.5) / 1e6) < 1e-12)
      (r.getAs[Double]("min_prob"), r.getAs[Int]("min_topics"),
        r.getAs[Int]("min_len"), tp + fp + tn + fn, latticeOk, f1Ok)
    }.toDF("min_prob", "min_topics", "min_len", "n_eval", "lattice_ok", "f1_ok")
  }

  private lazy val qParamSweepAuditSql = {
    val cells = ParamGrid.map { case (mp, mt, mdl) => s"($mp, $mt, $mdl)" }
    s"""WITH d AS (SELECT doc_id, n_chars,
             len(${graft.functions.TextFns.cleanTokensSql("text")}) AS len
           FROM documents),
         g AS (SELECT len FROM d
           WHERE (CASE WHEN doc_id % 7 = 0 THEN 0
                       WHEN n_chars > 250 THEN 1 ELSE 2 END) IN (1, 2)
             AND len > ${TopicModeling.MinDocTokens})
       SELECT CAST(c.mp AS DOUBLE) AS min_prob, CAST(c.mt AS INT) AS min_topics,
         CAST(c.ml AS INT) AS min_len,
         (SELECT CAST(count(*) AS BIGINT) FROM g WHERE len >= c.ml) AS n_eval,
         TRUE AS lattice_ok, TRUE AS f1_ok
       FROM (VALUES ${cells.mkString(", ")}) AS c(mp, mt, ml)"""
  }

  /** Total evaluation budget of the polysemy Bayesian search (reference:
    * forest_minimize n_calls — polysemous_words.py:273; the default adds
    * 8 EI refinements to the 18-point grid warm start). */
  val PolysemyBayesIters: Int = ParamGrid.size + 8

  /** q_polysemy_bayes: the reference's ACTUAL polysemy-threshold
    * optimizer — skopt model-based minimize over (MIN_DOC_LEN,
    * minimum_probability, minimum_topics) maximizing F1
    * (polysemous_words.py:48-57 SPACE, :238-242 objective, :273
    * forest_minimize) — as a seeded GP-EI loop (Smbo) over the same
    * space. The whole warm-start grid is batch-scored in ONE distributed
    * pass (scoreCombos' explode plan), then each EI proposal costs one
    * more pass over the memoized doc-topic relation; the surrogate stays
    * driver-side and model-sized. Matches-or-beats the grid argmax by
    * construction; deterministic (fixed lattice, exact tie-breaks, no
    * RNG). Rows-only gate (LDA upstream).
    *
    * INTENTIONAL DIVERGENCE — surrogate family: the reference's
    * forest_minimize (polysemous_words.py:273) fits a RANDOM-FOREST
    * surrogate, the skopt default for mixed/conditional spaces; this
    * operator uses a GP with expected improvement (Smbo). Both are
    * sequential model-based optimization over the identical search space
    * and budget; the GP was chosen because it is deterministic without
    * any RNG (an RF surrogate resamples features/rows per tree, so its
    * trajectory depends on draws the engine would have to fix and ship),
    * and on this 3-dimensional, fully numeric space a smooth surrogate
    * is at no disadvantage. The substitution is safe by construction:
    * the warm start evaluates the ENTIRE reference grid, so the search
    * can only match-or-beat the grid argmax regardless of surrogate
    * quality (spec-pinned ≥-grid in Round10Spec). */
  def qPolysemyBayes(s: SparkSession, dir: String): DataFrame = {
    val (schema, rows) = graft.ModelCache.getOrElseUpdate(s, s"pe.bayes:$dir") {
      val df = buildPolysemyBayes(s, dir)
      (df.schema, df.collect().toIndexedSeq)
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, schema)
  }

  /** q_polysemy_bayes_audit: the forest_minimize trajectory's
    * bookkeeping certificate (twin of Classification.qBayesAudit): the
    * oracle re-emits the iteration sequence with the declared warm-start
    * /EI split (the grid size, then EI up to [[PolysemyBayesIters]]);
    * `lattice_ok` pins each proposal inside the reference's
    * space (min_prob ∈ [0.005, 0.15], min_topics ∈ [1, 4],
    * MIN_DOC_LEN ∈ [0, 20] — polysemous_words.py:48-57 at
    * corpus-appropriate bounds) with the right phase label; `argmax_ok`
    * asserts exactly one selected point carrying the trajectory-max F1.
    * The trajectory is memoized — audit and sweep consume one search. */
  def qPolysemyBayesAudit(s: SparkSession, dir: String): DataFrame = {
    val rows = qPolysemyBayes(s, dir).collect()
    val f1s = rows.flatMap(r =>
      Option(r.getAs[java.lang.Double]("f1")).map(_.doubleValue))
    val sel = rows.filter(_.getAs[Boolean]("selected"))
    val argmaxOk = sel.length == 1 && f1s.nonEmpty &&
      Option(sel(0).getAs[java.lang.Double]("f1")).map(_.doubleValue)
        .contains(f1s.max)
    import s.implicits._
    rows.sortBy(_.getAs[Int]("iter")).map { r =>
      val i = r.getAs[Int]("iter")
      val phaseOk = r.getAs[String]("phase") ==
        (if (i < ParamGrid.size) "init" else "ei")
      val boundsOk = r.getAs[Double]("min_prob") >= 0.005 - 1e-12 &&
        r.getAs[Double]("min_prob") <= 0.15 + 1e-12 &&
        r.getAs[Int]("min_topics") >= 1 && r.getAs[Int]("min_topics") <= 4 &&
        r.getAs[Int]("min_len") >= 0 && r.getAs[Int]("min_len") <= 20
      (i, r.getAs[String]("phase"), phaseOk && boundsOk, argmaxOk)
    }.toSeq.toDF("iter", "phase", "lattice_ok", "argmax_ok")
  }

  private lazy val qPolysemyBayesAuditSql =
    s"""SELECT iter,
         CASE WHEN iter < ${ParamGrid.size} THEN 'init' ELSE 'ei' END AS phase,
         TRUE AS lattice_ok, TRUE AS argmax_ok
       FROM (SELECT CAST(unnest(generate_series(0, ${PolysemyBayesIters - 1})) AS INT) AS iter)"""

  private def buildPolysemyBayes(s: SparkSession, dir: String): DataFrame = {
    def f1Of(rows: Array[org.apache.spark.sql.Row],
        combo: (Double, Int, Int)): Option[Double] =
      rows.find(r => r.getDouble(0) == combo._1 &&
          r.getInt(1) == combo._2 && r.getInt(2) == combo._3)
        .flatMap(r => Option(r.getAs[java.lang.Double]("f1")).map(_.doubleValue))
    val preRows = scoreCombos(s, dir, ParamGrid).collect()
    val pre = ParamGrid.map { c =>
      Array(c._1, c._2.toDouble, c._3.toDouble) -> f1Of(preRows, c)
    }
    // lattice: min_prob 0.005..0.15, min_topics 1..4, min_len 0..20 —
    // the reference's Real/Integer space at corpus-appropriate bounds
    val candidates = for {
      mp <- 1 to 30; mt <- 1 to 4; mdl <- 0 to 10
    } yield Array(mp * 0.005, mt.toDouble, mdl * 2.0)
    val lo = Array(0.005, 1.0, 0.0); val hi = Array(0.15, 4.0, 20.0)
    val norm = (p: Array[Double]) =>
      Array.tabulate(3)(i => (p(i) - lo(i)) / (hi(i) - lo(i)))
    val f = (p: Array[Double]) => {
      val combo = (p(0), p(1).toInt, p(2).toInt)
      f1Of(scoreCombos(s, dir, Seq(combo)).collect(), combo)
    }
    val traj = graft.functions.Smbo.maximizeFrom(
      pre, candidates, PolysemyBayesIters, norm, f)
    val best = traj.zipWithIndex
      .maxBy { case (e, i) => (e.value.getOrElse(-1.0), -i) }._2
    import s.implicits._
    traj.zipWithIndex.map { case (e, i) =>
      (i, e.params(0), e.params(1).toInt, e.params(2).toInt,
        e.value, if (e.init) "init" else "ei", i == best)
    }.toDF("iter", "min_prob", "min_topics", "min_len", "f1", "phase", "selected")
  }

  /** q_polysemy_eval_audit: end-to-end accounting certificate for the
    * thesis-headline EVResult — the LDA predictions themselves can't be
    * SQL-oracled, but the evaluation's BOOKKEEPING can, because every
    * stage anchor is data-derivable: the predictions cover exactly the
    * doc2bow corpus, the synthetic gold is pure SQL over documents, and
    * the clean-name join maps each prediction to its own concept. So
    * the confusion matrix MUST satisfy tp+fp+tn+fn = |bow docs with
    * label≠0| (the evaluate.py label-0 exclusion) and tp+fn = |those
    * with the long-doc gold| — both recomputed independently by the
    * oracle. A broken name match (lost rows), a wrong exclusion, or a
    * confusion cell swap fails an anchor; metric-range booleans guard
    * the ratio algebra. */
  def qPolysemyEvalAudit(s: SparkSession, dir: String): DataFrame = {
    val r = qPolysemyEval(s, dir).collect().head
    val (tp, fp, tn, fn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("tn"), r.getAs[Long]("fn"))
    val inRange = Seq("precision", "recall", "accuracy", "f1").forall { c =>
      Option(r.getAs[java.lang.Double](c)).forall(v => v >= 0.0 && v <= 1.0)
    }
    import s.implicits._
    Seq((tp + fp + tn + fn, tp + fn, inRange))
      .toDF("n_eval", "n_gold_pos", "metrics_ok")
  }

  private lazy val qPolysemyEvalAuditSql =
    s"""WITH bow AS (SELECT DISTINCT doc_id FROM (${TextPrep.qDoc2bowSql})),
       j AS (SELECT d.doc_id, d.n_chars
             FROM documents d JOIN bow ON bow.doc_id = d.doc_id)
       SELECT CAST(count(*) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT) AS n_eval,
         CAST(count(*) FILTER (WHERE doc_id % 7 <> 0 AND n_chars > 250) AS BIGINT)
           AS n_gold_pos,
         TRUE AS metrics_ok
       FROM j"""

  override def registry: Seq[Q] = Seq(
    Q("q_polysemy_eval", qPolysemyEval, Cert("q_polysemy_eval_audit"), Ml),
    Q("q_polysemy_eval_audit", qPolysemyEvalAudit, Oracle(qPolysemyEvalAuditSql), Ml),
    Q("q_param_sweep", qParamSweep, Cert("q_param_sweep_audit"), Ml),
    Q("q_param_sweep_audit", qParamSweepAudit, Oracle(qParamSweepAuditSql), Ml),
    Q("q_polysemy_bayes", qPolysemyBayes, Cert("q_polysemy_bayes_audit"), Ml),
    Q("q_polysemy_bayes_audit", qPolysemyBayesAudit, Oracle(qPolysemyBayesAuditSql), Ml))
}
