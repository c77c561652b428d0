package graft

import java.io.File

import graft.functions.OrderedFold
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Sum}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Double sums stay independent of row order.
  *
  * The sanctioned fold is [[graft.functions.OrderedFold.sum]]: it adds a
  * group's terms in key order, equal bit for bit to a driver-side left
  * fold and to DuckDB's `list_sum(list(x ORDER BY k))` on any
  * partitioning. The specs below pin that contract, and a source scan
  * keeps operators from spelling the fold inline again.
  *
  * The audit walks the ANALYZED plan of every hash-gated query in the
  * non-ML modules and collects grouped-aggregate Sum/Average expressions
  * whose child is DOUBLE — the one aggregation shape whose result
  * depends on partition visit order, so a Spark row-order change could
  * diverge from DuckDB's summation order under the hash gate. Window
  * running sums are excluded by construction (they fold in frame order,
  * deterministic in both engines), as are ordered folds (HOFs, not Sum
  * aggregates) and exact DECIMAL sums (child is DecimalType).
  *
  * Every site found must be ALLOWLISTED here with a justification — a
  * new unlisted double-sum fails the suite.
  */
class SumAuditSpec extends SparkSpec {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** (g, k, x) rows: per group, terms whose sum depends on their order. */
  private val terms: Seq[(Int, Int, Double)] = {
    val rnd = new scala.util.Random(7)
    val pool = Array(1e16, 1.0, -1e16, 0.5, 3.25, 1e-3, -7.0)
    (0 until 3).flatMap(g => rnd.shuffle((0 until 24).toList).map(k =>
      (g, k, pool(rnd.nextInt(pool.length)))))
  }

  private def leftFold(xs: Seq[Double]): Double = xs.foldLeft(0.0)(_ + _)

  test("OrderedFold.sum equals a driver-side left fold in key order, bit " +
    "for bit, on any partitioning") {
    import spark.implicits._
    val want = terms.groupBy(_._1).map { case (g, ts) => g -> leftFold(ts.sortBy(_._2).map(_._3)) }
    // the terms are order-sensitive: the reverse key order sums differently
    assert(terms.groupBy(_._1).exists { case (g, ts) =>
      bits(leftFold(ts.sortBy(-_._2).map(_._3))) != bits(want(g)) })
    for (n <- Seq(1, 3, 8)) {
      val got = terms.reverse.toDF("g", "k", "x").repartition(n)
        .groupBy("g").agg(OrderedFold.sum(col("x"), col("k")).as("s"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(got.keySet === want.keySet)
      want.foreach { case (g, w) =>
        assert(bits(got(g)) === bits(w), s"group $g on $n partitions: ${got(g)} vs $w") }
    }
  }

  test("OrderedFold.sum: a NULL term makes the sum NULL") {
    import spark.implicits._
    val df = Seq((1, 1.0), (2, Double.NaN), (3, 2.0)).toDF("k", "x")
      .select(col("k"), when(col("k") === 2, lit(null).cast("double"))
        .otherwise(col("x")).as("x"))
    assert(df.agg(OrderedFold.sum(col("x"), col("k"))).head().isNullAt(0))
  }

  test("OrderedFold.sum: tied keys break on the term, as the inline " +
    "(key, term) struct does") {
    import spark.implicits._
    val rows = Seq((0, 1e16), (0, 3.0), (0, -1e16), (0, -2.0), (1, 1.0))
    // sorted (k, x): -1e16, -2, 3, 1e16, 1 — the 3 lands on -1e16 − 2 and
    // rounds away; in the other orders of the tie it survives
    val want = leftFold(rows.sorted.map(_._2))
    assert(want == 1.0)
    assert(leftFold(rows.sortBy(r => (r._1, -r._2)).map(_._2)) == 3.0)
    for (n <- Seq(1, 3)) {
      val r = rows.toDF("k", "x").repartition(n)
        .agg(OrderedFold.sum(col("x"), col("k")).as("s"),
          aggregate(array_sort(collect_list(struct(col("k"), col("x")))), lit(0.0),
            (acc, e) => acc + e.getField("x")).as("inline")).head()
      assert(bits(r.getDouble(0)) === bits(want))
      assert(bits(r.getDouble(1)) === bits(want))
    }
  }

  test("OrderedFold.values returns a group's values in key order") {
    import spark.implicits._
    val rows = (0 until 40).map(i => (i % 2, (i * 17) % 40, i / 10, s"v$i"))
    val got = rows.reverse.toDF("g", "k1", "k2", "v").repartition(4)
      .groupBy("g").agg(OrderedFold.values(col("v"), col("k2"), col("k1")).as("vs"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    val want = rows.groupBy(_._1).map { case (g, rs) => g -> rs.sortBy(r => (r._3, r._2)).map(_._4) }
    assert(got === want)
  }

  test("source scan: operators fold ordered sums and collects through OrderedFold") {
    def scalaFiles(d: File): Seq[File] = Option(d.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    def text(f: File): String = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }
    val ops = scalaFiles(new File("src/main/scala/graft/operators"))
    assert(ops.size > 10)
    val inline = """(aggregate|transform)\(\s*(transform\(\s*)?array_sort\(\s*collect_list\(""".r
    val folds = """def (fold|foldBy)\b""".r
    val hits = ops.flatMap { f =>
      val t = text(f)
      (inline.findAllIn(t).map(_ => "inline fold") ++ folds.findAllIn(t)).map(f.getName + ": " + _)
    }
    assert(hits.isEmpty, s"spell these as OrderedFold.sum / OrderedFold.values:\n${hits.mkString("\n")}")
  }

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
