package graft

import graft.operators.{RobustStats, Stats}
import org.apache.spark.sql.functions._

/** Round-10 additions: the k-group omnibus tests (one-way ANOVA and its
  * rank twin Kruskal–Wallis) and the third privacy-audit rung
  * (t-closeness). Each gets the discrimination pin the hash gate can't
  * provide on a true-negative corpus: a shifted/skewed fixture must trip
  * the flag, a null fixture must not.
  */
class Round10bSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------- one-way ANOVA

  test("anova: a shifted group trips F, identical groups sit at F=0") {
    val a = (1 to 100).map(i => ("a", i.toLong))
    val b = (1 to 100).map(i => ("b", i.toLong + 200L))
    val r = Stats.anovaOf((a ++ b).toDF("g", "x")).collect().head
    assert(r.getAs[Boolean]("significant"), "a 200-point shift must be significant")
    assert(r.getAs[Double]("eta_sq") > 0.5)
    val r0 = Stats.anovaOf((a ++ a.map { case (_, x) => ("b", x) })
      .toDF("g", "x")).collect().head
    assert(r0.getAs[Double]("f") === 0.0 && !r0.getAs[Boolean]("significant"))
  }

  test("anova: matches a local reference on a small fixture") {
    val rows = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 3.0), ("b", 4.0), ("c", 10.0), ("c", 11.0))
    val r = Stats.anovaOf(rows.toDF("g", "x")).collect().head
    // reference: group means 2, 3, 10.5; grand mean 4.5
    // SSB = 3*(2-4.5)^2 + 3*(3-4.5)^2 + 2*(10.5-4.5)^2 = 97.5
    // SSW = 2 + 2 + 0.5 = 4.5; F = (97.5/2)/(4.5/5) = 54.1666…
    assert(r.getAs[Double]("ss_between") === 97.5)
    assert(r.getAs[Double]("ss_within") === 4.5)
    assert(math.abs(r.getAs[Double]("f") - 54.166667) < 1e-5)
    assert(math.abs(r.getAs[Double]("eta_sq") - 97.5 / 102.0) < 1e-6)
  }

  test("anova on the corpus: one row, honest true negative") {
    val r = Stats.qAnova(spark, sfDir).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("k") === 3)
    assert(r.head.getAs[Double]("eta_sq") >= 0.0)
  }

  // ------------------------------------------------- Kruskal–Wallis H

  test("kruskal-wallis: a shifted group trips H, identical groups do not") {
    val a = (1 to 100).map(i => ("a", i.toLong))
    val b = (1 to 100).map(i => ("b", i.toLong + 150L))
    val c = (1 to 100).map(i => ("c", i.toLong))
    val r = RobustStats.kruskalWallis((a ++ b ++ c).toDF("g", "x"))
      .collect().head
    assert(r.getAs[Boolean]("significant"), "a 150-point shift must be significant")
    val r0 = RobustStats.kruskalWallis(
      (a ++ a.map { case (_, x) => ("b", x) }).toDF("g", "x")).collect().head
    assert(!r0.getAs[Boolean]("significant"))
    assert(math.abs(r0.getAs[Double]("h")) < 1e-9,
      "identical groups: every rank sum is exactly half the total")
  }

  test("kruskal-wallis: matches a local tie-aware reference on a fixture") {
    // groups with heavy ties; reference computed by hand:
    // pooled sorted: 1,1,2,2,2,3  ranks: (1.5,1.5),(4,4,4),(6)
    // a = {1,2,3} -> R_a = 1.5 + 4 + 6 = 11.5 ; b = {1,2,2} -> R_b = 9.5
    // H = 12/(6*7) * (11.5^2/3 + 9.5^2/3) - 3*7 = 0.19047619…
    // ties: t=2 -> 6, t=3 -> 24 ; C = 1 - 30/210 = 6/7 ; Hc = 0.2222…
    val rows = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 1L), ("b", 2L), ("b", 2L))
    val r = RobustStats.kruskalWallis(rows.toDF("g", "x")).collect().head
    assert(math.abs(r.getAs[Double]("h") - 0.190476) < 1e-6)
    assert(math.abs(r.getAs[Double]("h_tie_corrected") - 0.222222) < 1e-6)
    assert(r.getAs[Long]("df") === 1L)
  }

  test("kruskal-wallis on the corpus: five groups, H finite") {
    val r = RobustStats.qKruskal(spark, sfDir).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("k") === 5)
    assert(r.head.getAs[Double]("h_tie_corrected") >= 0.0)
  }

  // ---------------------------------------------------- t-closeness

  test("t-closeness: a skewed class trips the flag, a proportional one does not") {
    // global: 60 docs in band 0 (n_chars 0..199), 60 in band 2 (400..599)
    // class (en, skew): all 20 docs in band 0 -> TVD = |1-0.5|/1 = 0.5
    // class (en, prop): 20 docs split 10/10 -> TVD = 0
    val skew = (1 to 20).map(i => ("en", "skew", 10L))
    val prop = (1 to 10).map(i => ("en", "prop", 10L)) ++
      (1 to 10).map(i => ("en", "prop", 450L))
    val rest = (1 to 30).map(i => ("de", "rest", 10L)) ++
      (1 to 50).map(i => ("de", "rest", 450L))
    val out = RobustStats.tclosenessOf(
      (skew ++ prop ++ rest).toDF("lang", "source", "n_chars")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Double]("tvd"), r.getAs[Boolean]("at_risk")))).toMap
    assert(out(("en", "skew"))._1 === 0.5 && out(("en", "skew"))._2)
    assert(out(("en", "prop"))._1 === 0.0 && !out(("en", "prop"))._2)
  }

  // ----------------------------------------- eigen / PAVA certificates

  test("pca audit: every contract clause holds on the corpus") {
    val r = graft.operators.SimilaritySearch.qPcaAudit(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_dims") === 64)
    assert(r.getAs[Double]("total_var_pop") > 0.0)
    Seq("trace_ok", "spectrum_ok", "orthonormal_ok", "mllib_consistent")
      .foreach(c => assert(r.getAs[Boolean](c), c))
  }

  test("isotonic audit: PAVA conserves label mass, stays monotone in [0,1]") {
    val r = graft.operators.Classification.qIsotonicAudit(spark, sfDir).collect().head
    assert(r.getAs[Long]("n") > 0)
    assert(r.getAs[Long]("label_mass") > 0 &&
      r.getAs[Long]("label_mass") < r.getAs[Long]("n"),
      "both label classes must be present for the audit to be non-vacuous")
    Seq("monotone_ok", "range_ok", "mass_preserved_ok")
      .foreach(c => assert(r.getAs[Boolean](c), c))
  }

  test("features audit: scaler contract and exact anchors hold") {
    val r = graft.operators.Classification.qFeaturesAudit(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_docs") > 0)
    assert(r.getAs[Long]("len_mass") > r.getAs[Long]("n_docs"),
      "clean docs average more than one token")
    assert(r.getAs[Long]("n_dims") === graft.operators.TopicModeling.DefaultK + 1)
    Seq("dims_ok", "centered_ok", "unit_ok")
      .foreach(c => assert(r.getAs[Boolean](c), c))
  }

  test("lda audit: transform covers the bow corpus with simplex rows") {
    val r = graft.operators.TopicModeling.qLdaAudit(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_docs") > 0)
    Seq("k_ok", "normalized_ok", "nonneg_ok")
      .foreach(c => assert(r.getAs[Boolean](c), c))
  }

  test("polysemy-eval audit: confusion cells account for the whole eval set") {
    val r = graft.operators.PolysemyEval.qPolysemyEvalAudit(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_eval") > 0)
    assert(r.getAs[Long]("n_gold_pos") > 0 &&
      r.getAs[Long]("n_gold_pos") < r.getAs[Long]("n_eval"),
      "both gold classes present — the audit is non-vacuous")
    assert(r.getAs[Boolean]("metrics_ok"))
  }

  test("bpe audit: lossless segmentation and compression bounds hold") {
    val r = graft.operators.Bpe.qBpeAudit(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_words") > 0)
    assert(r.getAs[Long]("total_chars") > r.getAs[Long]("n_words"))
    Seq("roundtrip_ok", "bounds_ok", "merges_ok")
      .foreach(c => assert(r.getAs[Boolean](c), c))
  }

  test("classify audit: the harness accounts for the whole test partition") {
    val r = graft.operators.Classification.qClassifyAudit(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_train") > r.getAs[Long]("n_test"),
      "80/20 split direction")
    assert(r.getAs[Double]("w_pos") > 0.0 && r.getAs[Double]("w_neg") > 0.0)
    Seq("cells_ok", "metrics_ok").foreach(c => assert(r.getAs[Boolean](c), c))
  }

  test("cv audit: five disjoint folds account for every CV-corpus row " +
    "(embeddings minus the ExcludedLabels concept holdout, r13)") {
    import org.apache.spark.sql.functions.col
    val rows = graft.operators.Classification.qCvAudit(spark, sfDir).collect()
    assert(rows.length === 5)
    val total = rows.map(_.getAs[Long]("n_fold")).sum
    assert(total === graft.sources.Tables.embeddings(spark, sfDir)
      .filter(!col("label").isin(
        graft.operators.Classification.ExcludedLabels: _*)).count())
    rows.foreach { r =>
      assert(r.getAs[Boolean]("cells_ok"), s"fold ${r.getInt(0)} cells")
      assert(r.getAs[Boolean]("gold_ok"), s"fold ${r.getInt(0)} gold")
    }
  }

  // ------------------------------------------------ Brown–Forsythe W

  test("levene: heteroscedastic groups trip W, equal-spread groups do not") {
    // group a: tight around 100 (spread 1); group b: wide (spread 30)
    val a = (1 to 100).map(i => ("a", java.math.BigDecimal.valueOf(100 + (i % 3) - 1)))
    val b = (1 to 100).map(i => ("b", java.math.BigDecimal.valueOf(100 + (i % 61) - 30)))
    val df = (a ++ b).toDF("g", "x")
      .select(col("g"), col("x").cast("decimal(18,2)").as("x"))
    val r = Stats.leveneOf(spark, df).collect().head
    assert(r.getAs[Boolean]("significant"), "30x spread ratio must be significant")
    val same = (a ++ a.map { case (_, x) => ("b", x) }).toDF("g", "x")
      .select(col("g"), col("x").cast("decimal(18,2)").as("x"))
    val r0 = Stats.leveneOf(spark, same).collect().head
    assert(!r0.getAs[Boolean]("significant"))
    assert(math.abs(r0.getAs[Double]("w")) < 1e-9,
      "identical spreads: deviation means equal across groups")
  }

  test("levene on the corpus: one row, W finite and non-negative") {
    val r = Stats.qLevene(spark, sfDir).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("k") === 3)
    assert(r.head.getAs[Double]("w") >= 0.0)
  }

  // ------------------------------------------ Cochran–Armitage trend

  test("trend: matches a hand-computed reference, null on flat rates") {
    // w=0: 1/2 pass; w=1: 1/2; w=2: 2/2 → rising trend
    // by hand: N=6, R=4, p̄=2/3; T' = Σw(r−np̄) = (1−4/3)+(2−4/3)·2... per
    // group: w=0: 0; w=1: 1−2·2/3 = −1/3; w=2: 2−2·2/3 = 2/3
    // T' = −1/3 + 4/3 = 1  →  wait recompute in code below
    val rows = Seq((0L, true), (0L, false), (1L, true), (1L, false),
      (2L, true), (2L, true))
    val r = Stats.trendOf(rows.toDF("w", "passes")).collect().head
    // independent reference computation
    val g = rows.groupBy(_._1).map { case (w, xs) =>
      (w.toDouble, xs.size.toDouble, xs.count(_._2).toDouble)
    }.toSeq
    val n = g.map(_._2).sum; val rr = g.map(_._3).sum; val p = rr / n
    val t = g.map { case (w, nj, rj) => w * (rj - nj * p) }.sum
    val v = p * (1 - p) *
      (g.map { case (w, nj, _) => w * w * nj }.sum -
        math.pow(g.map { case (w, nj, _) => w * nj }.sum, 2) / n)
    val zRef = t / math.sqrt(v)
    assert(math.abs(r.getAs[Double]("z") - zRef) < 1e-6,
      s"got ${r.getAs[Double]("z")}, reference $zRef")
    // flat rates: every band passes exactly half → z = 0
    val flat = Seq((0L, true), (0L, false), (1L, true), (1L, false),
      (2L, true), (2L, false))
    val r0 = Stats.trendOf(flat.toDF("w", "passes")).collect().head
    assert(r0.getAs[Double]("z") === 0.0 && !r0.getAs[Boolean]("significant"))
  }

  test("trend on the corpus: pass rate genuinely rises with length band") {
    val r = Stats.qTrend(spark, sfDir).collect().head
    assert(r.getAs[Long]("k") === 3)
    assert(r.getAs[Double]("z") > 0.0, "Gopher length clauses imply a rising trend")
  }

  // ---------------------------------------------- model persistence

  test("model persistence: LDA and LR fits round-trip through disk save/load " +
      "(ref: wiki_lda.py model.save / LdaModel.load)") {
    import org.apache.spark.ml.clustering.LocalLDAModel
    import org.apache.spark.ml.classification.LogisticRegressionModel
    val tmp = java.nio.file.Files.createTempDirectory("graft-models").toString
    // LDA: the reference persists the trained topic model between stages
    val (bow, _) = graft.operators.TopicModeling.corpus(spark, sfDir)
    val lda = graft.operators.TopicModeling.fitLda(spark, sfDir, k = 3, maxIter = 3)
    lda.write.overwrite().save(s"$tmp/lda")
    val lda2 = LocalLDAModel.load(s"$tmp/lda")
    val before = lda.transform(bow).select("doc_id", "topicDistribution")
      .collect().map(r => r.getLong(0) -> r.get(1).toString).toMap
    val after = lda2.transform(bow).select("doc_id", "topicDistribution")
      .collect().map(r => r.getLong(0) -> r.get(1).toString).toMap
    assert(before === after, "reloaded LDA must transform identically")
    // classifier: supervised_classifier.py persists fitted models the same way
    val (train, test) = graft.operators.Classification.dataset(spark, sfDir)
    val m = new org.apache.spark.ml.classification.LogisticRegression()
      .setLabelCol("y").setWeightCol("w").setMaxIter(20).setRegParam(0.1)
      .fit(train)
    m.write.overwrite().save(s"$tmp/lr")
    val m2 = LogisticRegressionModel.load(s"$tmp/lr")
    assert(m2.coefficients === m.coefficients && m2.intercept === m.intercept)
    val p1 = m.transform(test).select("prediction").collect().map(_.getDouble(0)).toSeq
    val p2 = m2.transform(test).select("prediction").collect().map(_.getDouble(0)).toSeq
    assert(p1 === p2, "reloaded LR must predict identically")
  }

  // --------------------------------------------- scale-posture probes

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("t-closeness plans its grid with broadcasts, never a cartesian of facts") {
    val p = plan(RobustStats.qTcloseness(spark, sfDir))
    assert(p.contains("Broadcast"), "global band counts must broadcast")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("kruskal-wallis ranks through the distributed prefix sum, no Window node") {
    val p = plan(RobustStats.qKruskal(spark, sfDir))
    assert(!p.contains("Window"),
      "one-task global window crept back into the KW rank pass")
  }

  test("anova plans as map-side partial aggregation over one scan") {
    val p = plan(Stats.qAnova(spark, sfDir))
    assert(p.contains("HashAggregate"), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "a single-scan moment aggregate must not join")
  }

  test("hits final assembly broadcasts the side maxima") {
    val p = plan(graft.operators.Relational.qHits(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  // -------------------------------------------------- HITS hubs/auth

  test("hits: matches an exact local power iteration on a bipartite fixture") {
    import graft.operators.Relational
    // c1-{p1,p2,p3}, c2-{p1}, c3-{p2}: by symmetry p1==p2>p3, c2==c3<c1
    val edges = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (3L, 2L))
    val out = Relational.hitsOf(edges.toDF("hub", "auth")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Double]("score"))
      .toMap
    // exact integer reference: synchronous updates, BigInt arithmetic
    val cs = Seq(1L, 2L, 3L); val ps = Seq(1L, 2L, 3L)
    var hub = cs.map(_ -> BigInt(1)).toMap
    var auth = ps.map(_ -> BigInt(1)).toMap
    for (_ <- 1 to Relational.HitsIters) {
      val na = ps.map(p => p -> edges.filter(_._2 == p).map(e => hub(e._1)).sum).toMap
      val nh = cs.map(c => c -> edges.filter(_._1 == c).map(e => auth(e._2)).sum).toMap
      auth = na; hub = nh
    }
    val hmx = hub.values.max; val amx = auth.values.max
    // HALF_UP like production's Spark round(), NOT math.rint (HALF_EVEN):
    // a fixture ratio landing on a .5 tie at 6 dp would diverge.
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    cs.foreach { c =>
      assert(out(("c", c)) === r6(hub(c).toDouble / hmx.toDouble), s"hub c$c")
    }
    ps.foreach { p =>
      assert(out(("p", p)) === r6(auth(p).toDouble / amx.toDouble), s"auth p$p")
    }
    assert(out(("p", 1L)) === out(("p", 2L)) && out(("p", 3L)) < out(("p", 1L)))
    assert(out(("c", 1L)) === 1.0 && out(("c", 2L)) === out(("c", 3L)))
  }

  test("hits on the corpus: both sides max-normalized to 1, scores in (0,1]") {
    import graft.operators.Relational
    val rows = Relational.qHits(spark, sfDir).collect()
    val bySide = rows.groupBy(_.getString(0))
    assert(bySide.keySet === Set("c", "p"))
    bySide.foreach { case (_, rs) =>
      val scores = rs.map(_.getAs[Double]("score"))
      assert(scores.max === 1.0)
      assert(scores.forall(s => s > 0.0 && s <= 1.0))
    }
  }

  test("t-closeness on the corpus: classes partition the corpus, tvd in [0,1]") {
    val rows = RobustStats.qTcloseness(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    val docs = graft.sources.Tables.documents(spark, sfDir).count()
    assert(total === docs, "every document in exactly one class")
    rows.foreach { r =>
      val t = r.getAs[Double]("tvd")
      assert(t >= 0.0 && t <= 1.0)
    }
  }
}
