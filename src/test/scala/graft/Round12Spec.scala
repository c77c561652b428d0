package graft

import graft.operators.{TextPrep, TopicModeling}
import org.apache.spark.sql.functions._

/** Round-12 pins: the certificate program's last un-anchored surfaces.
  *
  *  - u_mass coherence is gensim-exact: the s_one_pre segmentation
  *    averages over the FULL ordered-pair grid, so a zero-co-occurrence
  *    pair contributes ln(1/D(wj)) through the +1 smoothing. The r11
  *    implementation inner-joined on observed co-occurrences and silently
  *    dropped those pairs — the fixture here trips exactly that.
  */
class Round12Spec extends SparkSpec {

  /** Three hand-traced docs written as a documents.parquet fixture dir:
    * df(alpha)=2, df(beta)=2, df(gamma)=1; the (gamma, alpha) pair never
    * co-occurs. */
  private lazy val umassFixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-umass").toString
    import spark.implicits._
    Seq(
      (1L, "alpha beta alpha", "en", "t", 16L),
      (2L, "alpha", "en", "t", 5L),
      (3L, "beta gamma", "en", "t", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("u_mass averages the FULL pair grid: zero-co-occurrence pairs count") {
    import spark.implicits._
    // guard: the cleaning chain must keep the fixture words verbatim,
    // else the hand trace below is computed over different tokens
    val toks = TextPrep.cleanDocs(spark, umassFixtureDir)
      .orderBy("doc_id").collect()
      .map(_.getSeq[String](1).toList)
    assert(toks(0) == Seq("alpha", "beta", "alpha"))
    assert(toks(1) == Seq("alpha"))
    assert(toks(2) == Seq("beta", "gamma"))
    val topTerms = Seq((0, Seq("alpha", "beta", "gamma"))).toDF("topic", "terms")
    val r = TopicModeling.umassCoherence(spark, umassFixtureDir, topTerms)
      .collect()
    assert(r.length == 1)
    // pairs (i>j): (beta,alpha) codf=1,df_alpha=2 → ln(2/2)=0;
    //              (gamma,alpha) codf=0 → ln(1/2);
    //              (gamma,beta) codf=1,df_beta=2 → ln(2/2)=0.
    // mean = ln(1/2)/3 = −0.231049…  (the dropped-pair bug yields 0 over
    // n_pairs=2 instead)
    assert(r(0).getAs[Long]("n_pairs") == 3L,
      "zero-co-occurrence pair missing from the s_one_pre grid")
    assert(math.abs(r(0).getAs[Double]("u_mass") - (math.log(0.5) / 3)) < 1e-6)
  }

  test("q_hdp stick table satisfies the Beta-posterior algebra (independent re-derivation)") {
    // re-derive every invariant from the EMITTED relation alone — an
    // audit sharing qHdp's code path can't catch a bug in that shared
    // path, this second derivation can
    val rows = TopicModeling.qHdp(spark, sfDir)
      .orderBy("stick").collect()
    assert(rows.length == TopicModeling.HdpTruncation)
    assert(rows.map(_.getAs[Int]("topic")).distinct.length == rows.length)
    val tol = 3e-6 // emitted values are floor-rounded at 1e-6
    rows.sliding(2).foreach { case Array(prev, cur) =>
      // tail-sum telescope: b_{k−1} − b_k = a_k − 1
      assert(math.abs((prev.getAs[Double]("stick_b") - cur.getAs[Double]("stick_b")) -
        (cur.getAs[Double]("stick_a") - 1.0)) < tol)
      // greedy ordering: stick usage nonincreasing
      assert(prev.getAs[Double]("stick_a") >= cur.getAs[Double]("stick_a") - tol)
    }
    assert(math.abs(rows.last.getAs[Double]("stick_b") - TopicModeling.HdpGamma) < tol)
    // total stick mass = corpus doc count (each doc's φ sums to 1)
    val nDocs = TopicModeling.qLdaAudit(spark, sfDir).collect()(0).getAs[Long]("n_docs")
    val mass = rows.map(_.getAs[Double]("stick_a") - 1.0).sum
    assert(math.abs(mass - nDocs.toDouble) < nDocs * 1e-5 + rows.length * 1e-6)
    // kept ⇔ β ≥ τ on the emitted (floor-rounded) betas — exact, since
    // τ·1e6 is an integer
    rows.foreach { r =>
      assert(r.getAs[Boolean]("kept") ==
        (r.getAs[Double]("beta") >= TopicModeling.HdpBetaThreshold))
    }
  }

  test("q_hdp_audit: mass, recursion, order, simplex, kept all certified") {
    val a = TopicModeling.qHdpAudit(spark, sfDir).collect()(0)
    for (c <- Seq("mass_ok", "recursion_ok", "order_ok", "simplex_ok", "kept_ok"))
      assert(a.getAs[Boolean](c), s"$c failed")
    assert(a.getAs[Long]("n_sticks") == TopicModeling.HdpTruncation.toLong)
  }

  test("q_semantic_audit: SemDeDup pairs are a cosine-verified subset with floored recall") {
    val a = graft.operators.Dedup.qSemanticAudit(spark, sfDir).collect()(0)
    assert(a.getAs[Boolean]("recall_ok"), "SemDeDup recall fell below 1/4")
    assert(a.getAs[Boolean]("precision_ok"),
      "a SemDeDup pair inside the block is not in the exact >=0.35 set")
    assert(a.getAs[Long]("n_pairs") > 0, "vacuous ground-truth block")
  }

  test("stratifiedFolds: balanced per-class fold counts on a skewed fixture; " +
      "distributed rank matches the plain-window construction") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 103 rows, 13 positive — vec_id%5 would let fold gold counts drift;
    // stratification must pin them to ceil(13/5)=3 / floor=2
    val df = (0L until 103L)
      .map(i => (i * 7 + 1, if (i % 8 == 0) 1.0 else 0.0))
      .toDF("vec_id", "y")
    val folds = graft.operators.Classification.stratifiedFolds(df, 5)
    val byFold = folds.groupBy("fold")
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("npos"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byFold.keySet == Set(0, 1, 2, 3, 4))
    val pos = byFold.values.map(_._2)
    assert(pos.max - pos.min <= 1, s"unstratified gold counts: $byFold")
    assert(pos.sum == 13 && byFold.values.map(_._1).sum == 103)
    // independent construction: single window per class (fine at test
    // scale, the thing the distributed rank replaces at 100 TB)
    val w = Window.partitionBy("y")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val windowed = df.withColumn("wfold",
      ((row_number().over(w) - 1) % 5).cast("int"))
    val diffs = folds.join(windowed, Seq("vec_id", "y"))
      .filter(col("fold") =!= col("wfold")).count()
    assert(diffs == 0, "distributed stratified rank diverges from the window twin")
  }

  test("q_cv_audit carries the stratification certificate") {
    val rows = graft.operators.Classification.qCvAudit(spark, sfDir).collect()
    assert(rows.length == graft.operators.Classification.CvK)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("cells_ok") && r.getAs[Boolean]("gold_ok") &&
        r.getAs[Boolean]("strat_ok"))
    }
    val pos = rows.map(_.getAs[Long]("n_fold_pos"))
    assert(pos.max - pos.min <= 1)
  }

  test("excluded concepts never leak into train or test; q_classify_excluded accounts for them") {
    import graft.operators.Classification
    val (train, test) = Classification.dataset(spark, sfDir)
    val excludedIds = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("label").isin(Classification.ExcludedLabels: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(excludedIds.nonEmpty)
    val trainIds = train.select("vec_id").collect().map(_.getLong(0)).toSet
    val testIds = test.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(trainIds.intersect(excludedIds).isEmpty, "excluded concept in train")
    assert(testIds.intersect(excludedIds).isEmpty, "excluded concept in test")
    val ex = Classification.excludedSet(spark, sfDir)
    assert(ex.select("vec_id").collect().map(_.getLong(0)).toSet == excludedIds)
    val a = Classification.qClassifyExcluded(spark, sfDir).collect()(0)
    assert(a.getAs[Long]("n_excluded") == excludedIds.size.toLong)
    assert(a.getAs[Boolean]("cells_ok") && a.getAs[Boolean]("metrics_ok"))
  }

  test("modified-huber trainer: hand-traced gradient steps on a 2-D fixture") {
    import spark.implicits._
    // two unit rows, one per class, from w=0: z=0 → c=−2 both, so after
    // step 1 (t0 = 2d/α = 4, η₀ = 1/4): w = (+0.25, −0.25), b = 0;
    // step 2: z=0.25 → c=−1.5, η₁=1/5, grad_j = ∓1.5/2 + α·w_j →
    // w = (+0.35, −0.35), b = 0 (hand-traced)
    val tr = Seq(
      (Seq(1.0, 0.0), 1.0, 1.0),
      (Seq(0.0, 1.0), -1.0, 1.0)).toDF("x", "ys", "w")
    val (w1, b1) = graft.operators.Classification.fitModifiedHuber(tr, 2, 1, 1.0)
    assert(math.abs(w1(0) - 0.25) < 1e-12 && math.abs(w1(1) + 0.25) < 1e-12)
    assert(math.abs(b1) < 1e-12)
    val (w2, b2) = graft.operators.Classification.fitModifiedHuber(tr, 2, 2, 1.0)
    assert(math.abs(w2(0) - 0.35) < 1e-12 && math.abs(w2(1) + 0.35) < 1e-12)
    assert(math.abs(b2) < 1e-12)
  }

  test("q_classify_sgdh: accounts for the test split; repeat call is stable") {
    // (bit-determinism of the trainer itself is pinned by the hand-traced
    // fixture above; repeat calls here exercise the cachedMetrics memo)
    val a = graft.operators.Classification.qClassifySgdHuber(spark, sfDir).collect()(0)
    assert(a.getAs[String]("model") == "sgd_modified_huber")
    val cells = a.getAs[Long]("tp") + a.getAs[Long]("fp") +
      a.getAs[Long]("tn") + a.getAs[Long]("fn")
    assert(cells == TestSplit.size(spark, sfDir))
    val b = graft.operators.Classification.qClassifySgdHuber(spark, sfDir).collect()(0)
    assert(a == b)
  }

  test("q_classify_audit: one accounting row per zoo member, all certified") {
    val rows = graft.operators.Classification.qClassifyAudit(spark, sfDir).collect()
    assert(rows.length == 12, s"expected 12 zoo rows, got ${rows.length}")
    val names = rows.map(_.getAs[String]("model")).toSet
    for (m <- Seq("logistic_regression", "linear_svc", "svc_rbf",
      "sgd_modified_huber", "gaussian_nb", "random_forest",
      "gradient_boosting", "decision_tree", "mlp", "knn_5",
      "lr_undersampled", "lr_smote"))
      assert(names.contains(m), s"missing zoo member $m")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("cells_ok"), s"${r.getString(0)} cells")
      assert(r.getAs[Boolean]("metrics_ok"), s"${r.getString(0)} metrics")
    }
  }

  test("q_coherence_audit: full grid, intersection bounds, range all hold") {
    val a = TopicModeling.qCoherenceAudit(spark, sfDir).collect()(0)
    assert(a.getAs[Boolean]("terms_ok"))
    assert(a.getAs[Boolean]("pair_grid_ok"))
    assert(a.getAs[Boolean]("umass_range_ok"))
    assert(a.getAs[Long]("n_docs") > 0)
    assert(a.getAs[Long]("posting_mass") >= a.getAs[Long]("n_docs"))
  }
}
