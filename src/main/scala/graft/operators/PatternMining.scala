package graft.operators

import graft.{Oracle, Q, QueryModule}
import graft.functions.OrderedFold
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sequential-pattern and itemset mining over the event stream — the
  * behavioral-analytics complement to q_copurchase (which mines pairs with
  * plain SQL): MLlib's parallel FP-growth (frequent event-type baskets per
  * user) and PrefixSpan (frequent ORDERED event-type sequences per user
  * session-day). Both algorithms are the distributed classics (conditional
  * FP-trees / projected prefix databases — no candidate-generation blowup,
  * partition-local mining after one grouping shuffle).
  *
  * HASH-GATED, not rows-only: the event-type vocabulary is tiny (5 types
  * in the synthetic corpus, and bounded in any clickstream), so the DuckDB
  * oracle can ENUMERATE every candidate — all 2^|V|-1 subsets for
  * itemsets, all |V|+|V|²+|V|³ ordered sequences for patterns — and
  * recount supports directly (subset containment via list_has_all; ordered
  * subsequence containment via greedy first-occurrence matching, which is
  * exact for the existence test). Outputs are canonical strings
  * (space-joined, itemsets sorted) so the driver can sort and hash them;
  * both engines apply the same minCount = ceil(minSupport · N) cut. The
  * spec additionally recounts supports in Spark itself.
  */
object PatternMining extends QueryModule {

  /** Per-user event-type baskets (distinct types per user-day). */
  private def baskets(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(array_sort(collect_set(col("event_type"))).as("items"))

  /** q_freq_itemsets: event-type combinations appearing in ≥ 5% of
    * user-day baskets, with support counts; deterministic ordering. */
  def qFreqItemsets(s: SparkSession, dir: String): DataFrame = {
    val b = baskets(s, dir)
    val model = new org.apache.spark.ml.fpm.FPGrowth()
      .setItemsCol("items").setMinSupport(0.05).setMinConfidence(0.5)
      .fit(b)
    model.freqItemsets
      .select(array_join(array_sort(col("items")), " ").as("itemset"), col("freq"))
      .orderBy(col("freq").desc, col("itemset").asc)
  }

  /** Oracle: every non-empty subset of the (bounded) event-type vocabulary
    * via a recursive CTE in lexicographic order, supports recounted with
    * list_has_all, the identical ceil(0.05·N) double-arithmetic cut. */
  private val qFreqItemsetsSql =
    """WITH RECURSIVE
       baskets AS (
         SELECT list_sort(list(DISTINCT event_type)) AS items
         FROM events GROUP BY user_id, date_trunc('day', ts)),
       tot AS (SELECT count(*) AS n FROM baskets),
       types AS (SELECT DISTINCT event_type AS t FROM events),
       subsets AS (
         SELECT [t] AS iset, t AS last FROM types
         UNION ALL
         SELECT list_append(s.iset, ty.t), ty.t FROM subsets s JOIN types ty ON ty.t > s.last),
       supp AS (
         SELECT array_to_string(s.iset, ' ') AS itemset, count(*) AS freq
         FROM subsets s JOIN baskets b ON list_has_all(b.items, s.iset)
         GROUP BY 1)
       SELECT itemset, freq FROM supp, tot
       WHERE freq >= CAST(ceil(CAST(0.05 AS DOUBLE) * tot.n) AS BIGINT)"""

  /** q_assoc_rules: association rules off the frequent itemsets — the
    * actionable half of basket mining (q_freq_itemsets says WHICH
    * combinations recur; the rules say what one behavior PREDICTS):
    * for every frequent itemset Z and item y ∈ Z with |Z| ≥ 2, the rule
    * X = Z∖{y} → y with confidence freq(Z)/freq(X) ≥ 0.2 (MLlib's
    * generation — X is always itself frequent by downward closure),
    * lift = confidence/(freq(y)/N) and support freq(Z)/N. The oracle
    * ENUMERATES the identical rule space from its recursive-subset
    * support table (bounded vocabulary, the q_freq_itemsets argument)
    * and replays the IDENTICAL double divisions in the same order, so
    * confidence/lift/support hash-gate after round(6). Canonical
    * strings: antecedent sorted, single-item consequent. */
  def qAssocRules(s: SparkSession, dir: String): DataFrame = {
    val b = baskets(s, dir)
    // minConfidence 0.2, not the itemset query's 0.5: the corpus'
    // strongest rule sits at conf 0.39, and a structurally-empty gate
    // proves nothing (the q7_volume vacuous-PASS lesson)
    val model = new org.apache.spark.ml.fpm.FPGrowth()
      .setItemsCol("items").setMinSupport(0.05).setMinConfidence(0.2)
      .fit(b)
    model.associationRules
      .select(array_join(array_sort(col("antecedent")), " ").as("antecedent"),
        array_join(col("consequent"), " ").as("consequent"),
        round(col("confidence"), 6).as("confidence"),
        round(col("lift"), 6).as("lift"),
        round(col("support"), 6).as("support"))
      .orderBy(col("antecedent").asc, col("consequent").asc)
  }

  private val qAssocRulesSql =
    """WITH RECURSIVE
       baskets AS (
         SELECT list_sort(list(DISTINCT event_type)) AS items
         FROM events GROUP BY user_id, date_trunc('day', ts)),
       tot AS (SELECT count(*) AS n FROM baskets),
       types AS (SELECT DISTINCT event_type AS t FROM events),
       subsets AS (
         SELECT [t] AS iset, t AS last FROM types
         UNION ALL
         SELECT list_append(s.iset, ty.t), ty.t
         FROM subsets s JOIN types ty ON ty.t > s.last),
       supp AS (
         SELECT s.iset, count(*) AS freq
         FROM subsets s JOIN baskets b ON list_has_all(b.items, s.iset)
         GROUP BY 1),
       freq AS (
         SELECT iset, freq FROM supp, tot
         WHERE freq >= CAST(ceil(CAST(0.05 AS DOUBLE) * tot.n) AS BIGINT)),
       rules AS (
         SELECT list_sort(list_filter(z.iset, x -> x <> y.y)) AS ante,
           y.y AS cons, z.freq AS f_union
         FROM freq z CROSS JOIN LATERAL (SELECT unnest(z.iset) AS y) y
         WHERE len(z.iset) >= 2)
       SELECT array_to_string(r.ante, ' ') AS antecedent, r.cons AS consequent,
         round(CAST(r.f_union AS DOUBLE) / fx.freq, 6) AS confidence,
         round((CAST(r.f_union AS DOUBLE) / fx.freq)
           / (CAST(fy.freq AS DOUBLE) / tot.n), 6) AS lift,
         round(CAST(r.f_union AS DOUBLE) / tot.n, 6) AS support
       FROM rules r
       JOIN freq fx ON fx.iset = r.ante
       JOIN freq fy ON fy.iset = [r.cons]
       CROSS JOIN tot
       WHERE CAST(r.f_union AS DOUBLE) / fx.freq >= 0.2"""

  /** Per-user-day ordered event-type sequences (each event its own
    * itemset — strict temporal order, ties broken by event_id). */
  private def sequences(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(OrderedFold.values(array(col("event_type")),
        col("ts"), col("event_id"), col("event_type")).as("sequence"))

  /** q_seq_patterns: event-type sequences (length ≤ 3) appearing in ≥ 10%
    * of user-days, in temporal order, with support counts.
    *
    * MLlib's PrefixSpan runs on the cached sequence RDD (the ml wrapper
    * maps its frame to a fresh, uncached RDD, so MLlib's passes would each
    * re-derive the grouped sequences from the events scan). The patterns
    * are collected — bounded by the support cut — so both RDDs are
    * released before the frame is returned. */
  def qSeqPatterns(s: SparkSession, dir: String): DataFrame = {
    val seqs = sequences(s, dir)
    val data = seqs.select(col("sequence")).rdd
      .map(_.getSeq[scala.collection.Seq[String]](0).map(_.toArray).toArray).cache()
    val found = try {
      val freq = new org.apache.spark.mllib.fpm.PrefixSpan()
        .setMinSupport(0.1).setMaxPatternLength(3).run(data).freqSequences
      try freq.map(f => Row(f.sequence, f.freq)).collect()
      finally freq.unpersist()
    } finally data.unpersist()
    s.createDataFrame(java.util.Arrays.asList(found: _*), StructType(Seq(
        StructField("sequence", seqs.schema("sequence").dataType, nullable = false),
        StructField("freq", LongType, nullable = false))))
      .select(array_join(flatten(col("sequence")), " ").as("pattern"), col("freq"))
      .orderBy(col("freq").desc, col("pattern").asc)
  }

  /** Oracle: every ordered event-type sequence of length ≤ 3 (|V|+|V|²+|V|³
    * candidates), supports recounted by greedy first-occurrence subsequence
    * matching (list_position is 0 when absent → NULLIF), the identical
    * ceil(0.1·N) cut. */
  private val qSeqPatternsSql =
    """WITH
       seqs AS (
         SELECT list(event_type ORDER BY ts, event_id) AS seq
         FROM events GROUP BY user_id, date_trunc('day', ts)),
       tot AS (SELECT count(*) AS n FROM seqs),
       types AS (SELECT DISTINCT event_type AS t FROM events),
       cands AS (
         SELECT t1.t AS a, CAST(NULL AS VARCHAR) AS b, CAST(NULL AS VARCHAR) AS c FROM types t1
         UNION ALL
         SELECT t1.t, t2.t, NULL FROM types t1, types t2
         UNION ALL
         SELECT t1.t, t2.t, t3.t FROM types t1, types t2, types t3),
       hits AS (
         SELECT concat_ws(' ', c.a, c.b, c.c) AS pattern, count(*) AS freq
         FROM cands c
         CROSS JOIN seqs s
         CROSS JOIN LATERAL (SELECT nullif(list_position(s.seq, c.a), 0) AS p1) l1
         CROSS JOIN LATERAL (SELECT CASE WHEN c.b IS NULL OR l1.p1 IS NULL THEN NULL
           ELSE nullif(list_position(s.seq[l1.p1+1:], c.b), 0) + l1.p1 END AS p2) l2
         CROSS JOIN LATERAL (SELECT CASE WHEN c.c IS NULL OR l2.p2 IS NULL THEN NULL
           ELSE nullif(list_position(s.seq[l2.p2+1:], c.c), 0) END AS p3) l3
         WHERE l1.p1 IS NOT NULL
           AND (c.b IS NULL OR l2.p2 IS NOT NULL)
           AND (c.c IS NULL OR l3.p3 IS NOT NULL)
         GROUP BY 1)
       SELECT pattern, freq FROM hits, tot
       WHERE freq >= CAST(ceil(CAST(0.1 AS DOUBLE) * tot.n) AS BIGINT)"""

  override def registry: Seq[Q] = Seq(
    Q("q_freq_itemsets", qFreqItemsets, Oracle(qFreqItemsetsSql)),
    Q("q_assoc_rules", qAssocRules, Oracle(qAssocRulesSql)),
    Q("q_seq_patterns", qSeqPatterns, Oracle(qSeqPatternsSql)))
}
