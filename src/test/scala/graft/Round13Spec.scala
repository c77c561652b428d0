package graft

import graft.operators.{TextPrep, TopicModeling}
import org.apache.spark.sql.functions._

/** Round-13 pins: the r12 advice items that change behavior.
  *
  *  - The u_mass substrate must FAIL LOUDLY (not silently shrink the
  *    pair grid) when a top term has zero document frequency in the
  *    cleaned corpus — the model-select sweep path has no pair-count
  *    certificate, so the guard is the only protection there.
  *  - The CV family runs over the zoo's corpus: ExcludedLabels held out.
  */
class Round13Spec extends SparkSpec {

  private lazy val umassFixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-umass13").toString
    import spark.implicits._
    Seq(
      (1L, "alpha beta alpha", "en", "t", 16L),
      (2L, "alpha", "en", "t", 5L),
      (3L, "beta gamma", "en", "t", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("umass substrate raises on a zero-df (out-of-vocabulary) top term " +
    "instead of silently dropping its pairs") {
    import spark.implicits._
    // "delta" never occurs in the fixture corpus: df(delta) = 0, so every
    // pair involving it has an undefined ln(·/df) — the pre-r13 inner
    // join would shrink the 6-pair grid to 3 and score the topic anyway
    val topTerms = Seq((0, Seq("alpha", "beta", "gamma", "delta")))
      .toDF("topic", "terms")
    val ex = intercept[Exception] {
      TopicModeling.umassCoherence(spark, umassFixtureDir, topTerms).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t =>
      Option(t.getMessage).exists(_.contains("zero-df top term"))),
      s"expected the zero-df raise_error, got: $ex")
    // and the in-vocabulary grid still scores exactly as before
    val ok = TopicModeling.umassCoherence(spark, umassFixtureDir,
      Seq((0, Seq("alpha", "beta", "gamma"))).toDF("topic", "terms")).collect()
    assert(ok.length == 1 && ok(0).getAs[Long]("n_pairs") == 3L)
  }

  /** 16 points in 8 tight, well-separated groups of 2 (group centers on
    * distinct axes at ±10, members jittered ±0.25): farthest-first
    * seeding must place one seed per group (maximin always prefers an
    * unseeded group at this separation — a plain md5-random draw does
    * NOT, it can seed two centroids in one group and Lloyd then sticks
    * in the split-group local minimum), after which Lloyd lands on the
    * obvious partition. */
  private lazy val kmeansFixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-km13").toString
    import spark.implicits._
    val pts = for (g <- 0 until 8; m <- 0 until 2) yield {
      val v = Array.fill(64)(0.0f)
      v(g * 8) = (if (g % 2 == 0) 10.0f else -10.0f) + (m * 0.5f - 0.25f)
      ((g * 2 + m).toLong, v.toSeq, g)
    }
    pts.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q_kmeans: deterministic Lloyd separates an 8-group fixture exactly; " +
    "audit certifies accounting, descent and the independent argmin") {
    import graft.operators.SimilaritySearch
    val fin = SimilaritySearch.qKmeans(spark, kmeansFixtureDir)
      .orderBy("cluster").collect()
    assert(fin.length == 8)
    assert(fin.forall(_.getAs[Long]("n") == 2L),
      "every tight group of 2 must land in its own cluster")
    // in-cluster inertia per group: two points at center ±0.25 → centroid
    // at the midpoint, 2 · 0.25² = 0.125 each
    fin.foreach(r => assert(math.abs(r.getAs[Double]("inertia") - 0.125) < 1e-9))
    val a = SimilaritySearch.qKmeansAudit(spark, kmeansFixtureDir).collect()(0)
    assert(a.getAs[Long]("n_points") == 16L)
    for (c <- Seq("accounted_ok", "monotone_ok", "assign_ok"))
      assert(a.getAs[Boolean](c), s"$c failed")
    // simplified silhouette on the same fixture: a = 0.25 (jitter to the
    // group midpoint), b = √200 (nearest other centroid, distinct axes at
    // ±10) → s = 1 − 0.25/√200 = 0.982322 for every point
    val sil = SimilaritySearch.qSilhouette(spark, kmeansFixtureDir)
      .orderBy("cluster").collect()
    assert(sil.length == 8 && sil.forall(_.getAs[Long]("n") == 2L))
    sil.foreach(r => assert(
      math.abs(r.getAs[Double]("mean_sil") - (1.0 - 0.25 / math.sqrt(200.0))) < 1e-4,
      s"cluster ${r.getAs[Int]("cluster")}: ${r.getAs[Double]("mean_sil")}"))
  }

  test("q_rouge_pairs: hand-traced multiset ROUGE-1/2 on a two-doc near-dup fixture") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rouge13").toString
    import spark.implicits._
    Seq(
      (1L, "aa bb cc dd ee aa", "en", "t", 17L),
      (2L, "aa bb cc dd ee ff", "en", "t", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.operators.Dedup.qRougePairs(spark, dir).collect()
    // 3-shingle Jaccard 3/(4+4−3) = 0.6 ≥ 0.12 → exactly the (1,2) pair.
    // ROUGE-1: m1 = Σ min counts over {aa,bb,cc,dd,ee} = 5 (aa caps at
    // doc2's single occurrence), F = 2·5/(6+6) = 0.833333.
    // ROUGE-2: 4 shared bigrams of 5+5 → F = 0.8.
    assert(r.length == 1)
    val p = r(0)
    assert(p.getAs[Long]("doc_a") == 1L && p.getAs[Long]("doc_b") == 2L)
    assert(p.getAs[Long]("m1") == 5L && p.getAs[Long]("m2") == 4L)
    assert(math.abs(p.getAs[Double]("rouge1_f") - 0.833333) < 1e-9)
    assert(math.abs(p.getAs[Double]("rouge2_f") - 0.8) < 1e-9)
  }

  test("q_rake: hand-traced degree/frequency phrase scores on a stopword-split fixture") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rake13").toString
    import spark.implicits._
    Seq(
      (1L, "red apple and green apple", "en", "t", 25L),
      (2L, "the green apple juice", "en", "t", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // candidates: "red apple" (2), "green apple" (2), "green apple juice" (3)
    // word scores deg/freq: red 2/1=2, apple 7/3, green 5/2=2.5, juice 3/1=3
    // phrase scores: gaj = 2.5 + 7/3 + 3 = 7.833333; ga = 4.833333; ra = 4.333333
    val r = graft.operators.TextAnalysis.qRake(spark, dir)
      .orderBy("rank").collect()
    assert(r.length == 3)
    assert(r.map(_.getAs[String]("phrase")).toSeq ==
      Seq("green apple juice", "green apple", "red apple"))
    val exp = Seq(2.5 + 7.0 / 3 + 3.0, 2.5 + 7.0 / 3, 2.0 + 7.0 / 3)
    r.zip(exp).foreach { case (row, e) =>
      assert(math.abs(row.getAs[Double]("score") -
        math.floor(e * 1e6 + 0.5) / 1e6) < 1e-9)
      assert(row.getAs[Long]("n_occur") == 1L)
    }
    assert(r.map(_.getAs[Long]("n_words")).toSeq == Seq(3L, 2L, 2L))
  }

  test("q_model_select_audit certifies the sweep grid, score ranges and the argmax") {
    import graft.operators.TopicModeling
    val rows = TopicModeling.qModelSelectAudit(spark, sfDir).collect()
    assert(rows.map(_.getAs[Int]("k")).sorted.toSeq == TopicModeling.ModelKs.sorted)
    rows.foreach { r =>
      for (c <- Seq("umass_range_ok", "ppl_ok", "argmax_ok"))
        assert(r.getAs[Boolean](c), s"$c failed at k=${r.getAs[Int]("k")}")
    }
    // cross-check against the sweep itself: the selected row carries max coherence
    val sel = TopicModeling.qModelSelect(spark, sfDir).collect()
    assert(sel.count(_.getAs[Boolean]("selected")) == 1)
    val best = sel.filter(_.getAs[Boolean]("selected")).head.getAs[Double]("mean_umass")
    assert(sel.forall(_.getAs[Double]("mean_umass") <= best))
  }

  test("q_er_sorted matches a locally sorted neighborhood construction exactly") {
    import graft.operators.Evaluation
    val got = Evaluation.qErSorted(spark, sfDir).collect()
      .map(r => (r.getAs[String]("name_a"), r.getAs[String]("name_b"),
        r.getAs[Int]("w_dist"))).toSet
    val names = graft.sources.Tables.part(spark, sfDir)
      .select("p_name").distinct().collect().map(_.getString(0)).sorted
    val want = (for {
      i <- names.indices
      d <- 1 until Evaluation.SnmWindow
      if i + d < names.length
    } yield (names(i), names(i + d), d)).toSet
    assert(got == want, "window pair set diverges from the local construction")
    // every candidate sorts forward: name_a strictly precedes name_b
    assert(got.forall { case (a, b, _) => a < b })
  }

  test("q_polysemy_bayes_audit certifies the trajectory's phase split, lattice and argmax") {
    import graft.operators.PolysemyEval
    val rows = PolysemyEval.qPolysemyBayesAudit(spark, sfDir).collect()
    assert(rows.length == PolysemyEval.PolysemyBayesIters)
    assert(rows.count(_.getAs[String]("phase") == "init") ==
      PolysemyEval.ParamGrid.size)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("lattice_ok"), s"iter ${r.getAs[Int]("iter")}")
      assert(r.getAs[Boolean]("argmax_ok"))
    }
  }

  test("q_blocklist: token-boundary phrase matching, hand-checked hits") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bl13").toString
    import spark.implicits._
    Seq(
      (1L, "a slow merge batch and a slower one", "en", "t", 36L),
      (2L, "hash values are not a hash value hash value", "en", "t", 43L),
      (3L, "nothing objectionable here", "en", "t", 26L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.operators.TextScoring.qBlocklist(spark, dir)
      .orderBy("doc_id").collect()
    // doc 1: "slow" once ("slower" must NOT match — token boundary),
    // "merge batch" once → 2 phrases, 2 hits
    assert(r(0).getAs[Long]("n_phrases") == 2L && r(0).getAs[Long]("n_hits") == 2L)
    // doc 2: "hash value" twice ("hash values" must NOT match) → 1 phrase, 2 hits
    assert(r(1).getAs[Long]("n_phrases") == 1L && r(1).getAs[Long]("n_hits") == 2L)
    assert(!r(2).getAs[Boolean]("blocked") && r(0).getAs[Boolean]("blocked"))
  }

  test("q_map: AP@10 stays a valid average precision on the corpus") {
    val rows = graft.operators.SimilaritySearch.qMap(spark, sfDir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val ap = r.getAs[Double]("ap")
      assert(ap >= 0.0 && ap <= 1.0)
      assert(r.getAs[Long]("n_rel10") >= 0L && r.getAs[Long]("n_rel10") <= 10L)
      // a query with zero relevant in the top-10 must score exactly 0
      if (r.getAs[Long]("n_rel10") == 0L) assert(ap == 0.0)
    }
  }

  test("q_hac: complete-linkage dendrogram over the all-ties fixture merges in id order") {
    import graft.operators.SimilaritySearch
    // the 8 fixture centroids sit on distinct axes at ±10 → every
    // pairwise (and by complete linkage every cluster-pair) distance is
    // exactly √200, so all 7 merges land at √200 and the deterministic
    // (dist, smaller id, larger id) tie-break fully determines the tree:
    // (0,1)→8, (2,3)→9, ..., then (8,9)→12, (10,11)→13, then (12,13)→14
    val m = SimilaritySearch.qHac(spark, kmeansFixtureDir)
      .orderBy("step").collect()
    assert(m.length == 7)
    val d200 = math.floor(math.sqrt(200.0) * 1e6 + 0.5) / 1e6
    m.foreach(r => assert(math.abs(r.getAs[Double]("dist") - d200) < 1e-9))
    assert(m.map(r => (r.getAs[Int]("cluster_a"), r.getAs[Int]("cluster_b"))).toSeq ==
      Seq((0, 1), (2, 3), (4, 5), (6, 7), (8, 9), (10, 11), (12, 13)))
    assert(m.last.getAs[Long]("n_points") == 16L)
    // sizes telescope: each merge's n_points is the sum of its children
    assert(m.map(_.getAs[Long]("n_points")).toSeq == Seq(4L, 4L, 4L, 4L, 8L, 8L, 16L))
  }

  test("q_modularity: hand-computed Newman Q on a two-source near-dup fixture") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mod13").toString
    import spark.implicits._
    // pairs by construction: (1,2) within s1, (3,4) across s1/s2 —
    // disjoint shingle vocabularies keep the cross pairs out
    Seq(
      (1L, "aa bb cc dd ee aa", "en", "s1", 17L),
      (2L, "aa bb cc dd ee ff", "en", "s1", 17L),
      (3L, "gg hh ii jj kk gg", "en", "s1", 17L),
      (4L, "gg hh ii jj kk ll", "en", "s2", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Dedup.qModularity(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    // m = 2; s1: {1,2,3} d=3, e=1; s2: {4} d=1, e=0
    // Q = (1/2 − (3/4)²) + (0 − (1/4)²) = −0.125
    assert(rows("s1").getAs[Long]("d_c") == 3L && rows("s1").getAs[Long]("e_c") == 1L)
    assert(rows("s2").getAs[Long]("d_c") == 1L && rows("s2").getAs[Long]("e_c") == 0L)
    assert(math.abs(rows("__total__").getAs[Double]("q") - (-0.125)) < 1e-9)
    // per-source contributions sum to the total exactly (shared denominator)
    val parts = Seq("s1", "s2").map(rows(_).getAs[Double]("q")).sum
    assert(math.abs(parts - rows("__total__").getAs[Double]("q")) < 2e-6)
  }

  test("q_assortativity: a hub-and-spoke dup fixture scores exactly r = −1") {
    val dir = java.nio.file.Files.createTempDirectory("graft-assort13").toString
    import spark.implicits._
    // doc 1 is the hub: it shares a disjoint shingle half with each spoke
    // (jaccard 3/9 = 0.333 to both), spokes share nothing → edges
    // (1,2), (1,3); degrees 2/1/1 — the classic disassortative star
    Seq(
      (1L, "aa bb cc dd ee qq ff gg hh ii jj", "en", "t", 32L),
      (2L, "aa bb cc dd ee", "en", "t", 14L),
      (3L, "ff gg hh ii jj", "en", "t", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.operators.Dedup.qAssortativity(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_edges") == 2L)
    assert(math.abs(r.getAs[Double]("r") - (-1.0)) < 1e-9)
  }

  test("q_markov_stationary: simplex fixed point of the hash-gated transition matrix") {
    import graft.operators.Stats
    val pi = Stats.qMarkovStationary(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("pi")).toMap
    assert(pi.values.forall(_ >= 0.0))
    // closed chain on this corpus: no leaked mass
    assert(math.abs(pi.values.sum - 1.0) < 1e-5, s"mass ${pi.values.sum}")
    // independent fixed-point check: pi ≈ pi·P after 30 power iterations
    val p = Stats.qMarkov(spark, sfDir).select("from_type", "to_type", "p").collect()
    val next = p.groupBy(_.getString(1)).map { case (to, rows) =>
      to -> rows.map(r => pi(r.getString(0)) * r.getDouble(2)).sum
    }
    next.foreach { case (st, v) =>
      assert(math.abs(v - pi(st)) < 1e-5, s"$st: $v vs ${pi(st)}")
    }
  }

  test("q_nelson_aalen: cumulative hazard is the running sum of KM's per-step hazards") {
    import graft.operators.Stats
    val km = Stats.qKaplanMeier(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("t_days"), r.getAs[Double]("hazard"))).sortBy(_._1)
    val na = Stats.qNelsonAalen(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("t_days"), r.getAs[Double]("cum_hazard"))).sortBy(_._1)
    assert(na.map(_._1).toSeq == km.map(_._1).toSeq)
    var acc = 0.0
    km.zip(na).foreach { case ((_, h), (t, ch)) =>
      acc += h
      // both sides carry 6dp rounding; the running sum accumulates it
      assert(math.abs(ch - acc) < 2e-6 * (t + 1), s"t=$t: $ch vs $acc")
    }
    // cum_hazard is nondecreasing
    na.map(_._2).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(b >= a)
      case _ =>
    }
  }

  // --------------------------------------------- scale-posture probes

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("r13 plans: no CartesianProduct anywhere; SNM window is an equi-join") {
    import graft.operators.{Dedup, Evaluation, SimilaritySearch, TextAnalysis, TextScoring}
    val plans = Map(
      "q_rouge_pairs" -> plan(Dedup.qRougePairs(spark, sfDir)),
      "q_rake" -> plan(TextAnalysis.qRake(spark, sfDir)),
      "q_er_sorted" -> plan(Evaluation.qErSorted(spark, sfDir)),
      "q_map" -> plan(SimilaritySearch.qMap(spark, sfDir)),
      "q_blocklist" -> plan(TextScoring.qBlocklist(spark, sfDir)))
    plans.foreach { case (q, p) =>
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
    }
    // the w-window expansion must be the rn+d equi-join (a non-equi
    // range formulation plans as BroadcastNestedLoopJoin)
    assert(!plans("q_er_sorted").contains("BroadcastNestedLoopJoin"),
      plans("q_er_sorted").take(800))
    // q_map's query side broadcasts into the corpus scan
    assert(plans("q_map").contains("Broadcast"), plans("q_map").take(800))
    // q_blocklist is a pure projection over the scan — no join, no shuffle
    assert(!plans("q_blocklist").contains("Exchange"),
      "blocklist must stay a per-row map over the scan")
  }

  test("CV family holds out ExcludedLabels exactly like the zoo's dataset()") {
    import graft.operators.{Classification, Evaluation}
    val folds = Evaluation.qCvFolds(spark, sfDir).collect()
    assert(folds.map(_.getAs[Long]("n")).sum ==
      graft.sources.Tables.embeddings(spark, sfDir)
        .filter(!col("label").isin(Classification.ExcludedLabels: _*)).count(),
      "CV base must be the embeddings table minus the concept holdout")
    // no fold may carry an excluded class: n_classes counts the SURVIVING
    // label alphabet (10 − 2 = 8 at every test SF)
    folds.foreach(r => assert(r.getAs[Long]("n_classes") == 8L))
  }

  test("HDP at thesis-scale truncation T=100: the qHdpAt code path " +
    "keeps the mass identity, telescope and simplex, driver state T-bounded") {
    import graft.operators.TopicModeling
    // qHdpAt IS the thesis-scale route: qHdp(s, dir) =
    // qHdpAt(s, dir, HdpTruncation) — this runs the same core at the
    // scale the scaladoc promises (wiki_hdp.py uses T=1000; 100 here
    // keeps the extra LDA fit test-sized while exercising T ≫ k)
    val t = 100
    val sticks = TopicModeling.qHdpAt(spark, sfDir, t).collect()
    assert(sticks.length == t, "emitted relation must be exactly T rows")
    assert(sticks.map(_.getAs[Int]("topic")).distinct.length == t)
    val audit = TopicModeling.qHdpAuditAt(spark, sfDir, t).collect()(0)
    assert(audit.getAs[Long]("n_sticks") == t.toLong)
    for (c <- Seq("mass_ok", "recursion_ok", "order_ok", "simplex_ok", "kept_ok"))
      assert(audit.getAs[Boolean](c), s"$c failed at T=$t")
    // the corpus-mass anchor is T-invariant: same doc count as the T=20 run
    val base = TopicModeling.qHdpAudit(spark, sfDir).collect()(0)
    assert(audit.getAs[Long]("n_docs") == base.getAs[Long]("n_docs"))
  }

  test("q_param_sweep_audit: lattice completeness, f1 re-derivation and the " +
    "independently counted evaluation mass") {
    import graft.operators.{PolysemyEval, TextPrep, TopicModeling}
    val rows = PolysemyEval.qParamSweepAudit(spark, sfDir).collect()
    assert(rows.length == PolysemyEval.ParamGrid.size)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("lattice_ok"))
      assert(r.getAs[Boolean]("f1_ok"),
        s"f1 re-derivation failed at ${r.getAs[Double]("min_prob")}")
    }
    // the anchor value, recomputed here a THIRD way (DataFrame algebra on
    // the clean corpus, independent of both the sweep and the oracle SQL)
    val lens = TextPrep.cleanDocs(spark, sfDir)
      .select(col("doc_id"), size(col("toks")).as("len"))
    val gold = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, 0)
          .when(col("n_chars") > 250, 1).otherwise(2).as("label"))
    val base = lens.join(gold, Seq("doc_id"))
      .filter(col("label").isin(1, 2) &&
        col("len") > TopicModeling.MinDocTokens)
    for (ml <- Seq(0, 10)) {
      val want = base.filter(col("len") >= ml).count()
      rows.filter(_.getAs[Int]("min_len") == ml).foreach(r =>
        assert(r.getAs[Long]("n_eval") == want,
          s"n_eval at min_len=$ml: got ${r.getAs[Long]("n_eval")}, want $want"))
    }
  }

  test("q_clf_param_sweep_audit certifies the grid, F1 ranges and the argmax") {
    import graft.operators.Classification
    val rows = Classification.qClfParamSweepAudit(spark, sfDir).collect()
    assert(rows.map(r => (r.getAs[Double]("reg_param"),
      r.getAs[Double]("elastic_net"))).sorted.toSeq ==
      Classification.ClfGrid.sorted)
    rows.foreach { r =>
      for (c <- Seq("lattice_ok", "range_ok", "argmax_ok"))
        assert(r.getAs[Boolean](c),
          s"$c failed at reg=${r.getAs[Double]("reg_param")}")
    }
    // cross-check against the sweep itself
    val sweep = Classification.qClfParamSweep(spark, sfDir).collect()
    assert(sweep.count(_.getAs[Boolean]("selected")) == 1)
  }

  test("q_polysemy_audit covers exactly the LDA corpus and re-derives the flag") {
    import graft.operators.{TextPrep, TopicModeling}
    val rows = TopicModeling.qPolysemyAudit(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Boolean]("range_ok"), s"doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Boolean]("flag_ok"), s"doc ${r.getAs[Long]("doc_id")}")
    }
    val want = TextPrep.cleanDocs(spark, sfDir)
      .filter(size(col("toks")) > TopicModeling.MinDocTokens)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == want.toSeq,
      "audit doc set must equal the MIN_DOC_WORDS-gated clean corpus")
  }

  test("q_bpe_encode_audit: per-doc word counts equal the clean corpus and " +
    "the piece bounds hold everywhere") {
    import graft.operators.{Bpe, TextPrep}
    val rows = Bpe.qBpeEncodeAudit(spark, sfDir).collect()
    rows.foreach(r => assert(r.getAs[Boolean]("bounds_ok"),
      s"doc ${r.getAs[Long]("doc_id")}"))
    val want = TextPrep.cleanDocs(spark, sfDir)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = rows.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"))).toMap
    assert(got == want, "per-doc encode coverage diverges from the clean corpus")
  }
}
