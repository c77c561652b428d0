package graft

import org.apache.spark.sql.DataFrame

/** Load-bearing plan-shape regression probes (r13 verdict task 7): the
  * suite already pins no-CartesianProduct for recent batches, but nothing
  * asserted the shapes the headline bench DEPENDS on — q1_agg's single
  * shuffle, q6_agg's pushed-down scan filters, the broadcast dims of the
  * join queries, the equi-banded candidate joins of the dedup family —
  * against silent plan drift from a future Spark/AQE/config change. Each
  * probe asserts operator PRESENCE/ABSENCE on the executed plan string,
  * not exact plan text, so legitimate optimizer evolution (AQE numbering,
  * codegen ids) cannot break it.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).size

  test("q1_agg is one scan + one shuffle: a single hash exchange, no join") {
    val p = plan(operators.Relational.q1Agg(spark, sfDir))
    assert(exchanges(p) == 1, s"q1_agg must shuffle exactly once:\n${p.take(1200)}")
    assert(!p.contains("Join"), s"q1_agg must not join:\n${p.take(1200)}")
  }

  test("q6_agg pushes every predicate into the parquet scan") {
    val p = plan(operators.Relational.q6Agg(spark, sfDir))
    assert(p.contains("PushedFilters: ["), p.take(1200))
    assert(!p.contains("PushedFilters: []"),
      s"q6_agg's filters must reach the scan:\n${p.take(1200)}")
    assert(!p.contains("Join"), p.take(1200))
  }

  test("q3_join and q5_join broadcast their dimension sides (no sort-merge " +
    "of a dim against the fact)") {
    Seq("q3_join" -> operators.Relational.q3Join(spark, sfDir),
      "q5_join" -> operators.Relational.q5Join(spark, sfDir)).foreach {
      case (q, df) =>
        val p = plan(df)
        assert(p.contains("BroadcastHashJoin"), s"$q: ${p.take(1200)}")
        assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
    }
  }

  test("dedup candidate generation stays equi-banded: no cartesian or " +
    "nested-loop pair explosion in minhash/jaccard/exact") {
    Seq(
      "q_dedup_exact" -> operators.Dedup.qDedupExact(spark, sfDir),
      "q_dedup_jaccard" -> operators.Dedup.qDedupJaccard(spark, sfDir),
      "q_dedup_minhash" -> operators.Dedup.qDedupMinhash(spark, sfDir)).foreach {
      case (q, df) =>
        val p = plan(df)
        assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(1200)}")
    }
  }

  test("q_dedup_minhash verifies on per-doc shingle-hash sets: no " +
    "exploded corpus-wide shingle relation in its plan") {
    val p = plan(operators.Dedup.qDedupMinhash(spark, sfDir))
    assert(!p.contains("explode(word_shingles"), p.take(2400))
  }

  test("q_dedup_exact aggregates without any join") {
    val p = plan(operators.Dedup.qDedupExact(spark, sfDir))
    assert(!p.contains("Join"), s"exact dedup is a pure groupBy:\n${p.take(1200)}")
  }

  test("q_hits final assembly: broadcast side-maxima join over the " +
    "checkpointed scores, never a sort-merge or cartesian") {
    // the 8 iteration rounds execute eagerly inside hitsOf (each round's
    // scores are a broadcast build side — Round10bSpec pins their
    // semantics); the returned plan is the normalization, whose shape is
    // the one a regression would silently flip to SMJ
    val p = plan(operators.Relational.qHits(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(1200))
  }

  test("q_topk combines map-side through the typed O(k) aggregator " +
    "(ObjectHashAggregate partial+final, no raw-row sort-shuffle)") {
    val p = plan(operators.Relational.qTopk(spark, sfDir))
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
    assert(exchanges(p) <= 2, s"top-k must not re-shuffle raw rows:\n${p.take(1200)}")
  }

  test("q_moving_avg runs in one window pass over one shuffle") {
    val p = plan(operators.Relational.qMovingAvg(spark, sfDir))
    assert("Window".r.findAllIn(p).size >= 1, p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("r15 operators: funnel chains are equi-joins (no event-stream " +
    "self-product), the drift/session/attribution family plans no " +
    "cartesian") {
    Seq(
      "q_funnel_steps" -> operators.Relational.qFunnelSteps(spark, sfDir),
      "q_session_stats" -> operators.Relational.qSessionStats(spark, sfDir),
      "q_attribution_markov" -> operators.Stats.qAttributionMarkov(spark, sfDir),
      "q_dw" -> operators.Stats.qDw(spark, sfDir),
      "q_dedup_canonical" -> operators.Dedup.qDedupCanonical(spark, sfDir))
      .foreach { case (q, df) =>
        val p = plan(df)
        assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(1200)}")
      }
    // bounded-build nested loops pinned by COUNT: q_kuiper inherits the
    // ksPairs tag join (ONE nested loop, build side the broadcast
    // k²-bounded group-pair table); q_bhattacharyya densifies the grid
    // with deliberate type×10-bucket cross joins (10-row build side,
    // once per pair-join input)
    Seq(("q_kuiper", operators.RobustStats.qKuiper(spark, sfDir), 2), // +pair build cross
      ("q_bhattacharyya", operators.RobustStats.qBhattacharyya(spark, sfDir), 4))
      .foreach { case (q, df, maxBnlj) =>
        val p = plan(df)
        assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
        assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= maxBnlj,
          s"$q: ${p.take(1200)}")
      }
    // q_join_size_sketch's single cross join is two ONE-ROW aggregates
    // (exact × estimate) — bounded by construction, so only the count is
    // pinned, not its presence
    val js = plan(operators.ScaleOps.qJoinSizeSketch(spark, sfDir))
    assert("CartesianProduct|BroadcastNestedLoopJoin".r.findAllIn(js).size <= 1,
      js.take(1200))
  }

  test("capstone compositions plan no cartesian and no nested-loop " +
    "(q_pipeline, q_curation_full, q_rouge_pairs, q_bleu_pairs)") {
    Seq(
      "q_rouge_pairs" -> operators.Dedup.qRougePairs(spark, sfDir),
      "q_bleu_pairs" -> operators.Dedup.qBleuPairs(spark, sfDir)).foreach {
      case (q, df) =>
        val p = plan(df)
        assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(1200)}")
    }
    // The funnels legitimately carry BroadcastNestedLoopJoins: each is a
    // non-equi SCALAR-threshold gate (e.g. avg_nll <= nll_p95) against a
    // broadcast ONE-ROW corpus-percentile relation — bounded by
    // construction. Pin the count (1 gate in q_pipeline, 5 in the full
    // funnel) so a NEW unbounded nested loop cannot hide among them, and
    // require every one to be the Cross-with-residual-condition shape.
    Seq(("q_pipeline", operators.ScaleOps.qPipeline(spark, sfDir), 1),
      ("q_curation_full", operators.TextAnalysis.qCurationFull(spark, sfDir), 5))
      .foreach { case (q, df, maxBnlj) =>
        val p = plan(df)
        assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
        val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).toList
        assert(bnlj.size <= maxBnlj, s"$q: ${bnlj.size} nested loops:\n$bnlj")
        // every nested loop must be the scalar-attach Cross shape (some
        // gates carry the threshold inline, some filter downstream)
        bnlj.foreach(l => assert(l.contains("Cross"),
          s"$q: non-Cross nested loop: $l"))
      }
  }

  test("r16 additions keep their designed shapes: no cartesian pair " +
    "explosions, bounded-side broadcasts, no single-partition window " +
    "over a scaling relation") {
    // q_link_pred / q_item_sim: wedge/pair joins must stay equi-keyed
    Seq(
      "q_link_pred" -> operators.Relational.qLinkPred(spark, sfDir),
      "q_item_sim" -> operators.Relational.qItemSim(spark, sfDir),
      "q_kmv_intersect" -> operators.ScaleOps.qKmvIntersect(spark, sfDir),
      "q_cvm" -> operators.RobustStats.qCvm(spark, sfDir),
      "q_granger" -> operators.Stats.qGranger(spark, sfDir)).foreach {
      case (q, df) =>
        val p = plan(df)
        assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
    }
    // q_abc and q_concurrency compute GLOBAL running totals: those must
    // be the two-pass range-partitioned prefix sum, never a
    // single-partition WindowExec over the scaling relation. q_abc's
    // plan has no Window at all; q_concurrency's only windows are the
    // per-USER sessionize lags (keyed partitions) — any Window line
    // without the user key would be the scale bug.
    assert(!plan(operators.Relational.qAbc(spark, sfDir)).contains("Window"),
      "q_abc must carry no WindowExec (prefix sum is the RDD two-pass form)")
    // note: the globalPrefixSum RDD barrier hides the upstream sessionize
    // stage behind a Scan ExistingRDD leaf, so window lines may be absent
    // entirely — the pin is that any VISIBLE window is user-keyed
    val pc = plan(operators.Relational.qConcurrency(spark, sfDir))
    pc.linesIterator.filter(_.contains("Window [")).foreach(l =>
      assert(l.contains("user_id"), s"q_concurrency: unkeyed window in plan line: $l"))
  }

  test("r17 additions keep their designed shapes: suffix-group joins stay " +
    "equi-keyed, span windows are doc-keyed, the t-digest estimate side " +
    "broadcasts, no cartesian anywhere") {
    Seq(
      "q_exact_substr" -> operators.Dedup.qExactSubstr(spark, sfDir),
      "q_exact_substr_spans" -> operators.Dedup.qExactSubstrSpans(spark, sfDir),
      "q_source_verbatim" -> operators.Dedup.qSourceVerbatim(spark, sfDir),
      "q_tdigest_audit" -> operators.ScaleOps.qTdigestAudit(spark, sfDir)).foreach {
      case (q, df) =>
        val p = plan(df)
        assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
    }
    // the spans island pass must window per DOC, never globally
    val ps = plan(operators.Dedup.qExactSubstrSpans(spark, sfDir))
    val spanWins = ps.linesIterator.filter(_.contains("Window [")).toList
    assert(spanWins.nonEmpty, "q_exact_substr_spans: expected island windows")
    spanWins.foreach(l =>
      assert(l.contains("doc_id"), s"q_exact_substr_spans: unkeyed window: $l"))
    // the t-digest audit joins the bounded (type, rank) estimates to the
    // events scan via broadcast — a shuffle join here would shuffle the
    // fact table against a ~15-row relation
    assert(plan(operators.ScaleOps.qTdigestAudit(spark, sfDir))
      .contains("BroadcastHashJoin"), "q_tdigest_audit must broadcast the estimates")
    // q_tdigest itself: two aggregate levels, sketch buffers in flight,
    // no window and no join at all
    val pt = plan(operators.ScaleOps.qTdigest(spark, sfDir))
    assert(!pt.contains("Window") && !pt.contains("Join"), pt.take(1200))
  }

  test("r17 mid-round additions: fact-table windows stay user/doc-keyed, " +
    "bounded sides broadcast, no cartesian over scaling relations") {
    Seq(
      "q_streaks" -> operators.Relational.qStreaks(spark, sfDir),
      "q_paths" -> operators.Relational.qPaths(spark, sfDir),
      "q_growth_accounting" -> operators.Relational.qGrowthAccounting(spark, sfDir),
      "q_sppmi" -> operators.TextAnalysis.qSppmi(spark, sfDir),
      "q_embed_drift" -> operators.SimilaritySearch.qEmbedDrift(spark, sfDir),
      "q_feature_hash" -> operators.TextAnalysis.qFeatureHash(spark, sfDir),
      "q_brier" -> operators.TextScoring.qBrier(spark, sfDir)).foreach {
      case (q, df) =>
        val p = plan(df)
        assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
    }
    def winLines(p: String): List[String] =
      p.linesIterator.filter(_.contains("Window [")).toList
    // q_streaks / q_paths: every window over the event stream is keyed
    // by user (the island/lead machinery) — an unkeyed window would be
    // the single-task scale bug
    for ((q, df) <- Seq(
      "q_streaks" -> operators.Relational.qStreaks(spark, sfDir),
      "q_paths" -> operators.Relational.qPaths(spark, sfDir))) {
      val ls = winLines(plan(df))
      assert(ls.nonEmpty, s"$q: expected window nodes")
      ls.foreach(l => assert(l.contains("user_id"), s"$q: unkeyed window: $l"))
    }
    // q_growth_accounting: the user-level class window is keyed; its only
    // unkeyed window runs over the DAILY rollup (calendar-bounded)
    val gWins = winLines(plan(operators.Relational.qGrowthAccounting(spark, sfDir)))
    assert(gWins.exists(_.contains("user_id")),
      s"q_growth_accounting: user-keyed class window missing: $gWins")
    // q_sample_fixed: global bottom-k must be TakeOrdered (per-partition
    // top-k + k-row merge), never a global Sort+Limit over the corpus
    val psf = plan(operators.TextAnalysis.qSampleFixed(spark, sfDir))
    assert(psf.contains("TakeOrderedAndProject"), psf.take(800))
  }
}
