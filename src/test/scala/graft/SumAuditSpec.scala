package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Sum}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Deterministic-summation audit (r13 verdict task 4, automated): walks
  * the ANALYZED plan of every hash-gated query in the statistics modules
  * and collects grouped-aggregate Sum/Average expressions whose child is
  * DOUBLE — the one aggregation shape whose result depends on partition
  * visit order (fp addition is non-associative), so a Spark row-order
  * change could diverge from DuckDB's summation order under the hash
  * gate. Window running sums are excluded by construction (they fold in
  * frame order, deterministic in both engines), as are the
  * aggregate(array_sort(collect_list(...))) sorted folds (HOFs, not Sum
  * aggregates) and exact DECIMAL sums (child is DecimalType).
  *
  * Every site found must be ALLOWLISTED here with a justification —
  * a new unlisted double-sum fails the suite, which is the durable form
  * of the one-time grep sweep the r13 verdict asked for.
  */
class SumAuditSpec extends SparkSpec {

  private def doubleAggs(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case a: Aggregate => a.aggregateExpressions.flatMap(_.collect {
        case s: Sum if s.child.dataType == DoubleType ||
          s.child.dataType == FloatType => "sum(" + s.child.sql.take(80) + ")"
        case v: Average if v.child.dataType == DoubleType ||
          v.child.dataType == FloatType => "avg(" + v.child.sql.take(80) + ")"
      })
    }.flatten

  // query -> max tolerated double-Sum/Average aggregates, each justified:
  private val allow: Map[String, Int] = Map(
    // q_zipf: four OLS moment sums of ln(rank)/ln(cf) over the VOCAB-sized
    // ranked dictionary — a sorted fold would collect the whole vocabulary
    // into one array (unbounded at 100 TB), and ln() values have no exact
    // decimal form. Mitigation is the documented round(6): the slope's
    // relative fp spread across summation orders is ~1e-12, six orders
    // below the rounding grain (annotated at qZipf's scaladoc).
    "q_zipf" -> 4,
    // the two GK-sketch swaps aggregate DOUBLES by construction (the
    // sketch thresholds lo/hi are approximate doubles): their hash gates
    // expose only wide-margin BOOLEAN contracts (tm between the cuts,
    // trim mass within the GK band) which summation order cannot flip.
    "q_trimmed_mean_approx" -> 1,
    "q_winsorize_approx" -> 1,
    // per-DOC surprisal means avg(−ln p) over a document's tokens: ln
    // has no exact decimal form, groups are doc-bounded, and the emitted
    // values round(6) with ~1e-13 summation spread (the q_zipf
    // justification). One avg in the LM scorer, re-planned twice where
    // the funnel/buckets compose it.
    "q_lm_score" -> 1,
    "q_curation_full" -> 2,
    "q_ccnet_buckets" -> 2,
    "q_bigram_lm" -> 1,
    "q_kneser_ney" -> 1,
    // per-source mean of the 1e-6-grid quality score: values lie on the
    // rounding grid, so the ~1e-12 summation spread cannot cross the
    // round(6) boundary the gate hashes.
    "q_corpus_stats" -> 1,
    // PQ/ADC audit: the two distance sums feed SCALE-INVARIANT rank
    // contracts (fixed-k containment booleans), not hashed values —
    // summation order cannot flip a rank by construction (documented at
    // 63c).
    "q_ann_pq_audit" -> 2,
    // IVFADC audit: same justification — ADC distance sums feed the
    // top-decile rank boolean, never a hashed value (documented at 63h).
    "q_ann_ivfpq_audit" -> 2)

  test("no unaudited order-sensitive double sums in hash-gated " +
    "plans across ALL non-ML modules") {
    // ML-training modules (TopicModeling/Classification/PolysemyEval/
    // Bpe/Unigram) are excluded: their hash-gated audits FIT models at
    // DataFrame construction, which this plan-walking spec must not pay;
    // their numeric discipline is pinned by the per-family audit
    // certificates instead.
    val mods: Seq[(String, graft.QueryModule)] = Seq(
      "Stats" -> operators.Stats,
      "RobustStats" -> operators.RobustStats,
      "Inference" -> operators.Inference,
      "Relational" -> operators.Relational,
      "Tpch" -> operators.Tpch,
      "TextPrep" -> operators.TextPrep,
      "TextAnalysis" -> operators.TextAnalysis,
      "TextScoring" -> operators.TextScoring,
      "Dedup" -> operators.Dedup,
      "ScaleOps" -> operators.ScaleOps,
      "Evaluation" -> operators.Evaluation,
      "Multimodal" -> operators.Multimodal,
      "PatternMining" -> operators.PatternMining,
      "SimilaritySearch" -> operators.SimilaritySearch)
    val report = new StringBuilder
    var bad = 0
    mods.foreach { case (mname, m) =>
      for (Q(q, build, Oracle(_), _) <- m.registry.sortBy(_.name)) {
        val sums = doubleAggs(build(spark, sfDir))
        if (sums.size > allow.getOrElse(q, 0)) {
          bad += 1
          report.append(s"$mname/$q: ${sums.size}\n")
          sums.foreach(s => report.append(s"    $s\n"))
        }
      }
    }
    assert(bad == 0, s"unaudited double-typed aggregates:\n$report")
  }
}
