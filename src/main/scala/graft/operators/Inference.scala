package graft.operators

import graft.{Oracle, Q, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Effect-size and sequential-inference operators: Cliff's delta and
  * Cohen's d (the MAGNITUDE companions to q_mannwhitney's and q_ks_test's
  * yes/no significance matrices), the Theil–Sen robust trend slope, the
  * Benjamini–Hochberg FDR correction over the Mann–Whitney p-value matrix
  * (every drift matrix in this repo is a multiple-testing problem), and a
  * baseline-calibrated Page–Hinkley drift detector (the third member of
  * the sequential family beside q_cusum and q_changepoint).
  *
  * Reference framing: the thesis reports classifier quality as raw
  * accuracy/F1 deltas (evaluation.py, supervised_classifier.py) with no
  * effect-size or multiplicity control; a production corpus monitor that
  * alerts on q_mannwhitney's 10-pair matrix NEEDS both (how big is the
  * shift, and which alarms survive FDR control). Determinism discipline
  * follows the module convention: exact integer/DECIMAL arithmetic
  * cross-multiplied to the last possible moment, one fixed double
  * expression at the end, round(…, 6), ordering ties broken by keys.
  */
object Inference extends QueryModule {

  // ------------------------------------------------------------ cliffs delta

  /** Magnitude thresholds (Romano et al.): |d| < .147 negligible,
    * < .33 small, < .474 medium, else large. */
  val CliffNegligible = 0.147
  val CliffSmall = 0.33
  val CliffMedium = 0.474

  /** Cliff's delta over every group pair of a (g, x) relation —
    * d = (#{x_a > x_b} − #{x_a < x_b}) / (n_a·n_b), the [-1, 1]
    * dominance effect size that pairs with mannWhitneyPairs' z (U and d
    * are affine: d = 2U/(n_a·n_b) − 1, but the win/loss decomposition is
    * the auditable form). Evaluated at DISTINCT-VALUE granularity (the
    * ksPairs trick): per (pair, x) side counts first, then wins =
    * Σ_x d1·(b-rows strictly below x) and losses = Σ_x d1·(b-rows
    * strictly above x) from one cumulative window over distinct values —
    * partition size bounded by the value domain, never the fact table.
    * Wins/losses/n are exact integers; d divides once. */
  def cliffsDeltaPairs(vals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = vals.groupBy("g").agg(count(lit(1)).as("n"))
    val pairs = counts.select(col("g").as("ga"), col("n").as("na"))
      .crossJoin(counts.select(col("g").as("gb"), col("n").as("nb")))
      .filter(col("ga") < col("gb"))
    val tagged = broadcast(pairs).join(vals,
        col("g") === col("ga") || col("g") === col("gb"))
      .groupBy("ga", "gb", "na", "nb", "x")
      .agg(sum(when(col("g") === col("ga"), 1L).otherwise(0L)).as("d1"),
        sum(when(col("g") === col("gb"), 1L).otherwise(0L)).as("d2"))
    val w = Window.partitionBy("ga", "gb").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = (col("wins") - col("losses")).cast("double") / (col("na") * col("nb"))
    tagged
      .withColumn("c2", sum(col("d2")).over(w))
      .groupBy("ga", "gb", "na", "nb")
      .agg(sum(col("d1") * (col("c2") - col("d2"))).as("wins"),
        sum(col("d1") * (col("nb") - col("c2"))).as("losses"))
      .select(col("ga").as("g_a"), col("gb").as("g_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        col("wins"), col("losses"), round(d, 6).as("delta"),
        when(abs(d) < CliffNegligible, "negligible")
          .when(abs(d) < CliffSmall, "small")
          .when(abs(d) < CliffMedium, "medium")
          .otherwise("large").as("magnitude"))
  }

  /** q_cliffs_delta: the dominance effect-size matrix over document
    * lengths per language pair — the magnitude column q_mannwhitney's
    * significance matrix is missing. One generating distribution on this
    * corpus → honest negligible deltas (the spec proves the magnitude
    * ladder on shifted fixtures); wins/losses still vary per pair, so the
    * gate hashes real structure. */
  def qCliffsDelta(s: SparkSession, dir: String): DataFrame =
    cliffsDeltaPairs(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))

  private lazy val qCliffsDeltaSql =
    s"""WITH v AS (SELECT lang AS g, n_chars AS x FROM documents),
       n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g),
       pr AS (SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
              FROM n a JOIN n b ON a.g < b.g),
       tg AS (SELECT ga, gb, na, nb, x,
                sum(CASE WHEN v.g = pr.ga THEN 1 ELSE 0 END) AS d1,
                sum(CASE WHEN v.g = pr.gb THEN 1 ELSE 0 END) AS d2
              FROM pr JOIN v ON v.g = pr.ga OR v.g = pr.gb
              GROUP BY 1, 2, 3, 4, 5),
       c AS (SELECT ga, gb, na, nb, x, d1, d2,
               sum(d2) OVER (PARTITION BY ga, gb ORDER BY x
                 ROWS UNBOUNDED PRECEDING) AS c2
             FROM tg),
       m AS (SELECT ga, gb, na, nb,
               CAST(sum(d1 * (c2 - d2)) AS BIGINT) AS wins,
               CAST(sum(d1 * (nb - c2)) AS BIGINT) AS losses
             FROM c GROUP BY 1, 2, 3, 4)
       SELECT ga AS g_a, gb AS g_b, na AS n_a, nb AS n_b, wins, losses,
         round(CAST(wins - losses AS DOUBLE) / (na * nb), 6) AS delta,
         CASE WHEN abs(CAST(wins - losses AS DOUBLE) / (na * nb)) < $CliffNegligible THEN 'negligible'
              WHEN abs(CAST(wins - losses AS DOUBLE) / (na * nb)) < $CliffSmall THEN 'small'
              WHEN abs(CAST(wins - losses AS DOUBLE) / (na * nb)) < $CliffMedium THEN 'medium'
              ELSE 'large' END AS magnitude
       FROM m"""

  // -------------------------------------------------------------- cohens d

  /** Magnitude thresholds (Cohen): |d| < 0.2 negligible, < 0.5 small,
    * < 0.8 medium, else large. */
  val CohenSmall = 0.2
  val CohenMedium = 0.5
  val CohenLarge = 0.8

  /** Cohen's d over every group pair of a (g, x) relation with INTEGRAL
    * x — the parametric effect size beside cliffsDeltaPairs' dominance
    * form: d = (m̄_a − m̄_b) / s_pooled, plus Hedges' small-sample
    * correction g = J·d, J = 1 − 3/(4(n_a+n_b) − 9). Per-group moments
    * (n, Σx, Σx²) are one exact-integer aggregate pass; the pair matrix
    * is a bounded broadcast cross join of those 1-row-per-group moments
    * (never a row-level pair join); each sum-of-squares survives in the
    * cross-multiplied DECIMAL(38,0) domain (n·Σx² − (Σx)²) and divides
    * exactly once into double. */
  def cohensDPairs(vals: DataFrame): DataFrame = {
    val moments = vals.groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        // widen BEFORE squaring: x²  in the native integer type would
        // silently wrap (non-ANSI) for 32-bit x above ~46k while DuckDB
        // errors — the engines must diverge loudly or not at all
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
    val a = moments.select(col("g").as("ga"), col("n").as("na"),
      col("sx").as("sxa"), col("sxx").as("sxxa"))
    val b = moments.select(col("g").as("gb"), col("n").as("nb"),
      col("sx").as("sxb"), col("sxx").as("sxxb"))
    // SS_g = Σx² − (Σx)²/n, kept cross-multiplied: (n·Σx² − (Σx)²)/n
    val ssa = (col("na") * col("sxxa") - col("sxa") * col("sxa")).cast("double") / col("na")
    val ssb = (col("nb") * col("sxxb") - col("sxb") * col("sxb")).cast("double") / col("nb")
    val meanA = col("sxa").cast("double") / col("na")
    val meanB = col("sxb").cast("double") / col("nb")
    val pooled = sqrt((ssa + ssb) / (col("na") + col("nb") - 2))
    val d = (meanA - meanB) / pooled
    val j = lit(1.0) - lit(3.0) / (lit(4.0) * (col("na") + col("nb")) - 9)
    broadcast(a).crossJoin(broadcast(b)).filter(col("ga") < col("gb"))
      .select(col("ga").as("g_a"), col("gb").as("g_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        round(meanA, 6).as("mean_a"), round(meanB, 6).as("mean_b"),
        round(d, 6).as("d"), round(j * d, 6).as("g_hedges"),
        when(abs(d) < CohenSmall, "negligible")
          .when(abs(d) < CohenMedium, "small")
          .when(abs(d) < CohenLarge, "medium")
          .otherwise("large").as("magnitude"))
  }

  /** q_cohens_d: the standardized-mean-difference matrix over document
    * lengths per language pair — parametric twin of q_cliffs_delta (a
    * dataset card reports both: d assumes rough normality, delta does
    * not). Same honest-negligible posture on this corpus. */
  def qCohensD(s: SparkSession, dir: String): DataFrame =
    cohensDPairs(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))

  private lazy val qCohensDSql =
    s"""WITH m AS (SELECT lang AS g, CAST(count(*) AS BIGINT) AS n,
               sum(CAST(n_chars AS DECIMAL(38,0))) AS sx,
               sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS sxx
             FROM documents GROUP BY 1),
       pr AS (SELECT a.g AS ga, a.n AS na, a.sx AS sxa, a.sxx AS sxxa,
                b.g AS gb, b.n AS nb, b.sx AS sxb, b.sxx AS sxxb
              FROM m a JOIN m b ON a.g < b.g),
       e AS (SELECT ga, gb, na, nb,
               CAST(sxa AS DOUBLE) / na AS mean_a,
               CAST(sxb AS DOUBLE) / nb AS mean_b,
               (CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb) /
                 sqrt((CAST(na * sxxa - sxa * sxa AS DOUBLE) / na +
                       CAST(nb * sxxb - sxb * sxb AS DOUBLE) / nb)
                      / (na + nb - 2)) AS d
             FROM pr)
       SELECT ga AS g_a, gb AS g_b, na AS n_a, nb AS n_b,
         round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
         round(d, 6) AS d,
         round((1.0 - 3.0 / (4.0 * (na + nb) - 9)) * d, 6) AS g_hedges,
         CASE WHEN abs(d) < $CohenSmall THEN 'negligible'
              WHEN abs(d) < $CohenMedium THEN 'small'
              WHEN abs(d) < $CohenLarge THEN 'medium'
              ELSE 'large' END AS magnitude
       FROM e"""

  // ------------------------------------------------------------- theil-sen

  /** q_theil_sen: Theil–Sen robust trend slope of the daily event totals
    * per event type — the median of all pairwise day-to-day slopes, the
    * estimator that shrugs off the outlier days that flip an OLS fit
    * (emitted beside the OLS slope so the divergence itself is the
    * diagnostic). The series is first reduced to CALENDAR-BOUNDED daily
    * totals (exact DECIMAL), so the pair set is days², bounded regardless
    * of fact-table size; each pairwise slope is one division of exact
    * decimals, the median is a nearest-rank row_number pick over the
    * bounded pair list (slope order, (ti, tj) tie-break), and the OLS
    * slope stays cross-multiplied integer×DECIMAL until its single
    * division. */
  /** q_mann_kendall: Mann–Kendall trend test per event type — the
    * SIGNIFICANCE companion to q_theil_sen (Theil–Sen answers "what
    * slope", Mann–Kendall answers "is there a monotone trend at all",
    * and the two are the standard pairing: MK's S statistic is exactly
    * the sign-count the Theil–Sen median slope is robust over).
    * S = Σ_{i<j} sgn(x_j − x_i) over the day-indexed series (an exact
    * integer from the same bounded ≤30·29/2 pair join as theil_sen),
    * tie-corrected variance Var = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5))/18
    * from exact integer tie-group counts, continuity-corrected
    * z = (S∓1)/√Var. Everything is calendar-bounded after one fact
    * aggregate; a constant series (Var = 0) yields NULL z via nullif in
    * both engines. */
  def qMannKendall(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("tot"))
      .withColumn("t", row_number().over(
        Window.partitionBy("event_type").orderBy("day")))
    val a = daily.select(col("event_type"), col("t").as("ti"), col("tot").as("yi"))
    val b = daily.select(col("event_type"), col("t").as("tj"), col("tot").as("yj"))
    val sSum = a.join(b, Seq("event_type")).filter(col("ti") < col("tj"))
      .groupBy("event_type")
      .agg(sum(signum(col("yj") - col("yi")).cast("long")).as("s_stat"))
    val ties = daily.groupBy("event_type", "tot")
      .agg(count(lit(1)).as("d"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_distinct"), sum(col("d")).as("n_days"),
        sum(col("d") * (col("d") - 1) * (lit(2L) * col("d") + 5)).as("tie_corr"))
    val varS = (col("n_days") * (col("n_days") - 1) *
      (lit(2L) * col("n_days") + 5) - col("tie_corr")).cast("double") / 18
    val sigma = sqrt(nullif(varS, lit(0.0)))
    val z = when(col("s_stat") > 0, (col("s_stat") - 1).cast("double") / sigma)
      .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double") / sigma)
      .otherwise(lit(0.0) / sigma)
    sSum.join(ties, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        round(varS, 6).as("var_s"), round(z, 6).as("z"),
        (abs(z) > 1.959964).as("significant"))
  }

  private lazy val qMannKendallSql =
    """WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS tot
         FROM events GROUP BY 1, 2),
       idx AS (
         SELECT event_type, tot,
           row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
         FROM daily),
       s AS (
         SELECT a.event_type,
           CAST(sum(CAST(sign(b.tot - a.tot) AS BIGINT)) AS BIGINT) AS s_stat
         FROM idx a JOIN idx b ON a.event_type = b.event_type AND a.t < b.t
         GROUP BY 1),
       tie AS (
         SELECT event_type, CAST(sum(d) AS BIGINT) AS n_days,
           CAST(sum(d * (d - 1) * (2 * d + 5)) AS BIGINT) AS tie_corr
         FROM (SELECT event_type, tot, CAST(count(*) AS BIGINT) AS d
               FROM daily GROUP BY 1, 2)
         GROUP BY 1),
       v AS (
         SELECT s.event_type, tie.n_days, s.s_stat,
           CAST(tie.n_days * (tie.n_days - 1) * (2 * tie.n_days + 5)
             - tie.tie_corr AS DOUBLE) / 18 AS var_s
         FROM s JOIN tie ON tie.event_type = s.event_type),
       zz AS (
         SELECT event_type, n_days, s_stat, var_s,
           CASE WHEN s_stat > 0
               THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(nullif(var_s, 0.0))
             WHEN s_stat < 0
               THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(nullif(var_s, 0.0))
             ELSE 0.0 / sqrt(nullif(var_s, 0.0)) END AS z
         FROM v)
       SELECT event_type, n_days, s_stat, round(var_s, 6) AS var_s,
         round(z, 6) AS z, abs(z) > 1.959964 AS significant
       FROM zz"""

  def qTheilSen(s: SparkSession, dir: String): DataFrame =
    theilSenOf(Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("tot")))

  /** Core on a (event_type, day, tot) daily relation — split out so specs
    * can feed synthetic series with known slopes. */
  def theilSenOf(dailyIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyIn
      .withColumn("t", row_number().over(
        Window.partitionBy("event_type").orderBy("day")))
    val a = daily.select(col("event_type"), col("t").as("ti"), col("tot").as("yi"))
    val b = daily.select(col("event_type"), col("t").as("tj"), col("tot").as("yj"))
    val slopes = a.join(b, Seq("event_type")).filter(col("ti") < col("tj"))
      .select(col("event_type"), col("ti"), col("tj"),
        ((col("yj") - col("yi")).cast("double") / (col("tj") - col("ti"))).as("slope"))
    val wRank = Window.partitionBy("event_type")
      .orderBy(col("slope").asc, col("ti").asc, col("tj").asc)
    val ranked = slopes.withColumn("rn", row_number().over(wRank))
    val stats = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("t")).as("st"), sum(col("t") * col("t")).as("stt"),
        sum(col("tot")).as("sy"),
        sum(col("tot") * col("t")).as("sty"))
    val ols = (col("n_days") * col("sty") - col("st") * col("sy")).cast("double") /
      (col("n_days") * col("stt") - col("st") * col("st")).cast("double")
    ranked
      .join(stats, Seq("event_type"))
      // nearest-rank median over n(n−1)/2 pairs: k = ⌈n_pairs/2⌉ — `div`
      // keeps the whole rank computation integral (Spark's `/` on
      // integers widens to double)
      .filter(col("rn") ===
        expr("(n_days * (n_days - 1) div 2 * 50 + 99) div 100"))
      .select(col("event_type"), col("n_days"),
        expr("n_days * (n_days - 1) div 2").as("n_pairs"),
        round(col("slope"), 6).as("ts_slope"), round(ols, 6).as("ols_slope"))
  }

  private lazy val qTheilSenSql =
    """WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS tot
         FROM events GROUP BY 1, 2),
       idx AS (SELECT event_type, tot,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
               FROM daily),
       sl AS (SELECT a.event_type, a.t AS ti, b.t AS tj,
                CAST(b.tot - a.tot AS DOUBLE) / (b.t - a.t) AS slope
              FROM idx a JOIN idx b
                ON a.event_type = b.event_type AND a.t < b.t),
       rk AS (SELECT event_type, slope,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY slope ASC, ti ASC, tj ASC) AS rn
              FROM sl),
       st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                sum(t) AS st, sum(t * t) AS stt,
                sum(tot) AS sy, sum(tot * t) AS sty
              FROM idx GROUP BY 1)
       SELECT st.event_type, n_days,
         CAST(n_days * (n_days - 1) // 2 AS BIGINT) AS n_pairs,
         round(rk.slope, 6) AS ts_slope,
         round(CAST(n_days * sty - st * sy AS DOUBLE) /
               CAST(n_days * stt - st * st AS DOUBLE), 6) AS ols_slope
       FROM st JOIN rk ON rk.event_type = st.event_type
         AND rk.rn = (n_days * (n_days - 1) // 2 * 50 + 99) // 100"""

  // ---------------------------------------------------------------- bh fdr

  /** BH rejection level. */
  val FdrQ = 0.05

  /** erf-complement tail via Abramowitz–Stegun 7.1.26 (|ε| < 1.5e-7),
    * shared by the Spark expression and the SQL twin in the SAME
    * operation order: p = 2(1 − Φ(|z|)) = erfc(|z|/√2) =
    * poly(t)·exp(−y²), t = 1/(1 + 0.3275911·y). The only
    * libm-dependent op is exp(); its ≤1-ulp engine spread is killed by
    * the round(…, 6) BEFORE the BH arithmetic, so every downstream
    * comparison sees identical doubles in both engines. */
  private def pFromZ(z: Column): Column = {
    val y = abs(z) / lit(1.4142135623730951)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * y)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t +
      lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t
    round(poly * exp(-(y * y)), 6)
  }

  /** Spec hook: the two-sided p expression, for calibration assertions. */
  def pForSpec(z: Column): Column = pFromZ(z)

  private val pFromZSqlOf: String => String = z =>
    s"""round((((((1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt
        - 0.284496736) * tt + 0.254829592) * tt)
        * exp(-(abs($z) / 1.4142135623730951) * (abs($z) / 1.4142135623730951)), 6)"""

  /** q_bh_fdr: Benjamini–Hochberg FDR correction over the Mann–Whitney
    * language-pair matrix — the multiplicity control every drift matrix
    * in this repo needs before it pages anyone (10 pairs tested at
    * α=.05 expect a false alarm every other run; BH caps the EXPECTED
    * false-discovery share at q instead). p-values come from the
    * normal approximation via a fixed-order A-S erfc polynomial
    * (identical IEEE in both engines after round-6); ranking is by the
    * exactly-matching (p, pair-key) order; adj_p_i = min_{j≥i} p_j·m/j
    * is one reversed cumulative-min window over the BOUNDED pair matrix
    * (never data-sized); rejected = adj_p ≤ q. */
  def qBhFdr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mw = RobustStats.mannWhitneyPairs(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))
    val withP = mw.select(col("g_a"), col("g_b"), col("z"),
      pFromZ(col("z")).as("p"))
    val m = withP.agg(count(lit(1)).as("m"))
    val wRank = Window.orderBy(col("p").asc, col("g_a").asc, col("g_b").asc)
    val wRevMin = Window.orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withP.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("adj_p",
        least(lit(1.0), min(col("p") * col("m") / col("rank")).over(wRevMin)))
      .select(col("g_a"), col("g_b"), col("z"), col("p"), col("rank"),
        round(col("adj_p"), 6).as("adj_p"),
        (col("adj_p") <= FdrQ).as("rejected"))
  }

  /** q_by_fdr: Benjamini–Yekutieli FDR control over the same
    * Mann–Whitney p-value matrix as q_bh_fdr — the variant that stays
    * valid under ARBITRARY dependence between the tests, which the drift
    * matrix has by construction (every pair shares its two languages
    * with other pairs): adj_p = min-step of p·m·c(m)/rank with
    * c(m) = Σ_{i≤m} 1/i. The harmonic factor is the one fp-sensitive
    * addition, folded in ascending-i order through the repo-wide
    * ordered-fold idiom so both engines run identical IEEE additions;
    * everything else is the q_bh_fdr machinery verbatim. BY rejects a
    * subset of BH's rejections by design (c(m) ≥ 1) — the conservative
    * gate an auto-alerting monitor should use. */
  def qByFdr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mw = RobustStats.mannWhitneyPairs(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))
    val withP = mw.select(col("g_a"), col("g_b"), col("z"),
      pFromZ(col("z")).as("p"))
    val m = withP.agg(count(lit(1)).as("m"))
      .withColumn("cm", aggregate(
        transform(sequence(lit(1L), col("m")),
          i => lit(1.0) / i.cast("double")),
        lit(0.0), (a, x) => a + x))
    val wRank = Window.orderBy(col("p").asc, col("g_a").asc, col("g_b").asc)
    val wRevMin = Window.orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withP.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("adj_p",
        least(lit(1.0),
          min(col("p") * col("m") * col("cm") / col("rank")).over(wRevMin)))
      .select(col("g_a"), col("g_b"), col("z"), col("p"), col("rank"),
        round(col("cm"), 6).as("c_m"),
        round(col("adj_p"), 6).as("adj_p"),
        (col("adj_p") <= FdrQ).as("rejected"))
  }

  private lazy val qByFdrSql =
    s"""WITH mw AS (SELECT g_a, g_b, z FROM (${RobustStats.qMannwhitneySql}) x),
       pt AS (SELECT g_a, g_b, z,
                1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)) AS tt
              FROM mw),
       pv AS (SELECT g_a, g_b, z, ${pFromZSqlOf("z")} AS p FROM pt),
       mm AS (SELECT CAST(count(*) AS BIGINT) AS m,
                (SELECT list_sum(list(CAST(1 AS DOUBLE) / i ORDER BY i))
                 FROM (SELECT unnest(range(1, (SELECT count(*) FROM pv) + 1)) AS i))
                  AS cm
              FROM pv),
       rk AS (SELECT g_a, g_b, z, p, m, cm,
                row_number() OVER (ORDER BY p ASC, g_a ASC, g_b ASC) AS rank
              FROM pv CROSS JOIN mm),
       adj AS (SELECT g_a, g_b, z, p, rank, cm,
                 least(1.0, min(p * m * cm / rank) OVER (ORDER BY rank DESC
                   ROWS UNBOUNDED PRECEDING)) AS adj_p
               FROM rk)
       SELECT g_a, g_b, z, p, rank, round(cm, 6) AS c_m,
         round(adj_p, 6) AS adj_p, adj_p <= $FdrQ AS rejected
       FROM adj"""

  private lazy val qBhFdrSql =
    s"""WITH mw AS (SELECT g_a, g_b, z FROM (${RobustStats.qMannwhitneySql}) x),
       pt AS (SELECT g_a, g_b, z,
                1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)) AS tt
              FROM mw),
       pv AS (SELECT g_a, g_b, z, ${pFromZSqlOf("z")} AS p FROM pt),
       mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pv),
       rk AS (SELECT g_a, g_b, z, p, m,
                row_number() OVER (ORDER BY p ASC, g_a ASC, g_b ASC) AS rank
              FROM pv CROSS JOIN mm),
       adj AS (SELECT g_a, g_b, z, p, rank,
                 least(1.0, min(p * m / rank) OVER (ORDER BY rank DESC
                   ROWS UNBOUNDED PRECEDING)) AS adj_p
               FROM rk)
       SELECT g_a, g_b, z, p, rank, round(adj_p, 6) AS adj_p,
         adj_p <= $FdrQ AS rejected
       FROM adj"""

  // ----------------------------------------------------------- page-hinkley

  /** Warmup days fixing the baseline mean, drift tolerance as a fraction
    * of the baseline (5% ⇒ ×21/20 cross-multiplied ×20), and the alarm
    * threshold as a fraction of the baseline day mass. */
  val PhWarmupDays = 7
  val PhDeltaNum = 21   // 1 + δ with δ = 0.05, scaled by PhDeltaDen
  val PhDeltaDen = 20
  val PhLambdaFrac = 0.5

  /** q_page_hinkley: baseline-calibrated Page–Hinkley drift detector over
    * the daily event totals per event type — the third sequential monitor
    * beside q_cusum (mean-shift mass) and q_changepoint (single split):
    * PH accumulates positive drift against a FIXED warmup baseline and
    * alarms when the accumulated excess minus its running minimum clears
    * λ. The textbook running-mean variant needs a per-step division (a
    * double recursion); fixing the reference to the K-day warmup mean —
    * what a production monitor does anyway, calibrate then watch — keeps
    * the whole recursion in the cross-multiplied exact-DECIMAL domain
    * (the q_cusum move): m̂_t = den·K·(csum_t − csum_K) −
    * (t−K)·S_K·num, ph = m̂_t − min_{i≤t} m̂_i, alarm ⇔ ph > λ·den·K·S_K
    * — every comparison exact, one division at the very end for the
    * human-scale report. Two bounded windows over the calendar-day
    * series, honest-negative alarms on this stationary corpus (the spec
    * proves the alarm trips on an injected level shift). */
  def qPageHinkley(s: SparkSession, dir: String): DataFrame =
    pageHinkleyOf(Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("tot")))

  /** Core on a (event_type, day, tot) daily relation — split out so specs
    * can inject level shifts and prove the alarm trips. */
  def pageHinkleyOf(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = PhWarmupDays
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("t", row_number().over(wOrd))
      .withColumn("csum", sum(col("tot")).over(wRun))
    val base = cum.filter(col("t") === k)
      .select(col("event_type"), col("csum").as("s_k"))
    cum.join(broadcast(base), Seq("event_type"))
      .filter(col("t") > k)
      .withColumn("m_hat",
        (col("csum") - col("s_k")) * (PhDeltaDen * k) -
          (col("t") - k) * col("s_k") * PhDeltaNum)
      .withColumn("ph", col("m_hat") - min(col("m_hat")).over(wRun))
      .select(col("event_type"), col("day"), col("tot").cast("double").as("tot"),
        round(col("ph").cast("double") / (PhDeltaDen * k), 6).as("ph"),
        (col("ph") > col("s_k") * lit(PhLambdaFrac * PhDeltaDen * k)).as("alarm"))
  }

  private lazy val qPageHinkleySql = {
    val k = PhWarmupDays
    s"""WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS tot
         FROM events GROUP BY 1, 2),
       cum AS (SELECT event_type, day, tot,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
                 sum(tot) OVER (PARTITION BY event_type ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS csum
               FROM daily),
       base AS (SELECT event_type, csum AS s_k FROM cum WHERE t = $k),
       m AS (SELECT cum.event_type, day, tot,
               (csum - s_k) * ${PhDeltaDen * k} -
                 (t - $k) * s_k * $PhDeltaNum AS m_hat,
               s_k
             FROM cum JOIN base ON base.event_type = cum.event_type
             WHERE t > $k),
       p AS (SELECT event_type, day, tot, s_k,
               m_hat - min(m_hat) OVER (PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS ph
             FROM m)
       SELECT event_type, day, CAST(tot AS DOUBLE) AS tot,
         round(CAST(ph AS DOUBLE) / ${PhDeltaDen * k}, 6) AS ph,
         ph > s_k * ${PhLambdaFrac * PhDeltaDen * k} AS alarm
       FROM p"""
  }

  // --------------------------------------------------------------- holm

  /** q_holm: Holm–Bonferroni step-down over the same Mann–Whitney p-value
    * matrix as q_bh_fdr — the FWER control beside BH's FDR control (a
    * dataset card reports both: Holm bounds ANY false alarm, BH bounds
    * the false share; Holm rejects less, guarantees more). adj_p_i =
    * min(1, max_{j≤i} p_j·(m−j+1)) — one FORWARD cumulative-max window
    * over the bounded pair matrix (BH needed the reversed cumulative
    * min); the cummax makes the adjusted sequence monotone, so the
    * rejection set is automatically a rank prefix. Same fixed-order
    * erfc p-values, identical in both engines after round-6. */
  def qHolm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mw = RobustStats.mannWhitneyPairs(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))
    val withP = mw.select(col("g_a"), col("g_b"), col("z"),
      pFromZ(col("z")).as("p"))
    val m = withP.agg(count(lit(1)).as("m"))
    val wRank = Window.orderBy(col("p").asc, col("g_a").asc, col("g_b").asc)
    val wFwdMax = Window.orderBy(col("rank").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withP.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("adj_p",
        least(lit(1.0), max(col("p") * (col("m") - col("rank") + 1)).over(wFwdMax)))
      .select(col("g_a"), col("g_b"), col("z"), col("p"), col("rank"),
        round(col("adj_p"), 6).as("adj_p"),
        (col("adj_p") <= FdrQ).as("rejected"))
  }

  private lazy val qHolmSql =
    s"""WITH mw AS (SELECT g_a, g_b, z FROM (${RobustStats.qMannwhitneySql}) x),
       pt AS (SELECT g_a, g_b, z,
                1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)) AS tt
              FROM mw),
       pv AS (SELECT g_a, g_b, z, ${pFromZSqlOf("z")} AS p FROM pt),
       mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pv),
       rk AS (SELECT g_a, g_b, z, p, m,
                row_number() OVER (ORDER BY p ASC, g_a ASC, g_b ASC) AS rank
              FROM pv CROSS JOIN mm),
       adj AS (SELECT g_a, g_b, z, p, rank,
                 least(1.0, max(p * (m - rank + 1)) OVER (ORDER BY rank ASC
                   ROWS UNBOUNDED PRECEDING)) AS adj_p
               FROM rk)
       SELECT g_a, g_b, z, p, rank, round(adj_p, 6) AS adj_p,
         adj_p <= $FdrQ AS rejected
       FROM adj"""

  // ------------------------------------------------------- split conformal

  /** Miscoverage target: intervals aim at 90% coverage. */
  val ConfAlphaNum = 9   // (1−α) = 9/10
  val ConfAlphaDen = 10

  /** q_conformal: split-conformal prediction intervals per event type —
    * the distribution-free uncertainty wrapper modern ML pipelines put
    * around ANY point predictor (here the train-split mean): q̂ = the
    * ⌈(n+1)(1−α)⌉-th smallest calibration residual gives intervals with
    * guaranteed ≥1−α marginal coverage, no normality assumed. The whole
    * computation stays EXACT: splits are md5-nibble deterministic
    * (train/cal/test 8:4:4); the residual is kept cross-multiplied as
    * |v·n_train − S_train| (exact DECIMAL — never |v − mean| with a
    * double mean in it); the rank pick runs through the DISTRIBUTED
    * pick-only selector (Ranks.groupedValueAtRanks — value-at-rank is
    * tie-safe, no per-group window sort of a fact-proportional
    * partition); test coverage is an exact-decimal comparison against
    * the scaled q̂. Only the reported mean/q̂/coverage divide, once each,
    * at the end. */
  def qConformal(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val nib = conv(substring(md5(col("event_id").cast("string")), 1, 1), 16, 10)
      .cast("int")
    // r22 A/B note: spreading the events scan here (§2.5) was measured
    // and REVERTED — the md5 split gate is cheap enough that the extra
    // exchange and the 31-way map side of the rank pick's range shuffle
    // cost more than the parallelism bought back.
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        col("value").cast("decimal(18,6)").as("v"),
        when(nib < 8, "train").when(nib < 12, "cal").otherwise("test").as("split"))
    val train = ev.filter(col("split") === "train").groupBy("event_type")
      .agg(sum(col("v")).as("s_tr"), count(lit(1)).as("n_tr"))
    val cal = ev.filter(col("split") === "cal")
      .join(broadcast(train), Seq("event_type"))
      .select(col("event_type"), abs(col("v") * col("n_tr") - col("s_tr")).as("r"))
    def kConf(n: Long): Long =
      math.min(n, ((n + 1) * ConfAlphaNum + ConfAlphaDen - 1) / ConfAlphaDen)
    val (calCounts, picks) = graft.functions.Ranks.groupedValueAtRanks(
      cal, "event_type", "r", n => Seq(kConf(n)))
    val byG = picks.map { case (g, _, v) => g -> v }.toMap
    val qRows = calCounts.toSeq.map { case (g, n) => Row(g, n, byG(g)) }
    val qhatDf = s.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(qRows).asJava),
      StructType(Seq(cal.schema("event_type"),
        StructField("n_cal", LongType, nullable = false),
        StructField("qhat_scaled", cal.schema("r").dataType))))
    ev.filter(col("split") === "test")
      .join(broadcast(train), Seq("event_type"))
      .join(broadcast(qhatDf), Seq("event_type"))
      .groupBy("event_type")
      .agg(first(col("n_tr")).as("n_train"), first(col("n_cal")).as("n_cal"),
        count(lit(1)).as("n_test"),
        first(col("s_tr")).as("s_tr"), first(col("qhat_scaled")).as("qs"),
        sum(when(abs(col("v") * col("n_tr") - col("s_tr")) <= col("qhat_scaled"),
          1L).otherwise(0L)).as("covered"))
      .select(col("event_type"), col("n_train"), col("n_cal"), col("n_test"),
        round(col("s_tr").cast("double") / col("n_train"), 6).as("mean_pred"),
        round(col("qs").cast("double") / col("n_train"), 6).as("qhat"),
        col("covered"),
        round(col("covered").cast("double") / col("n_test"), 6).as("coverage"))
  }

  private lazy val qConformalSql =
    s"""WITH ev AS (
         SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
           CASE WHEN CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) AS INT) < 8
                  THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) AS INT) < 12
                  THEN 'cal'
                ELSE 'test' END AS split
         FROM events),
       tr AS (SELECT event_type, sum(v) AS s_tr, CAST(count(*) AS BIGINT) AS n_tr
              FROM ev WHERE split = 'train' GROUP BY event_type),
       cal AS (SELECT ev.event_type, abs(v * n_tr - s_tr) AS r
               FROM ev JOIN tr USING (event_type) WHERE split = 'cal'),
       cn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal FROM cal GROUP BY event_type),
       rk AS (SELECT event_type, r,
                row_number() OVER (PARTITION BY event_type ORDER BY r ASC) AS rn
              FROM cal),
       qh AS (SELECT rk.event_type, cn.n_cal, rk.r AS qhat_scaled
              FROM rk JOIN cn ON cn.event_type = rk.event_type
              WHERE rk.rn = least(cn.n_cal,
                ((cn.n_cal + 1) * $ConfAlphaNum + ${ConfAlphaDen - 1}) // $ConfAlphaDen)),
       te AS (SELECT ev.event_type, n_tr, s_tr, n_cal, qhat_scaled,
                CAST(count(*) AS BIGINT) AS n_test,
                CAST(sum(CASE WHEN abs(v * n_tr - s_tr) <= qhat_scaled
                  THEN 1 ELSE 0 END) AS BIGINT) AS covered
              FROM ev JOIN tr USING (event_type) JOIN qh USING (event_type)
              WHERE split = 'test'
              GROUP BY 1, 2, 3, 4, 5)
       SELECT event_type, n_tr AS n_train, n_cal, n_test,
         round(CAST(s_tr AS DOUBLE) / n_tr, 6) AS mean_pred,
         round(CAST(qhat_scaled AS DOUBLE) / n_tr, 6) AS qhat,
         covered,
         round(CAST(covered AS DOUBLE) / n_test, 6) AS coverage
       FROM te"""

  // ------------------------------------------------------------------ sprt

  /** SPRT hypotheses on the click share among click+view events, and the
    * Wald error targets. The log-likelihood-ratio CONSTANTS are computed
    * once here and inlined as identical decimal literals into BOTH the
    * Spark expression and the SQL twin — the one place a libm ln() could
    * have differed between engines is removed entirely. */
  val SprtP0 = 0.50
  val SprtP1 = 0.52
  val SprtAlpha = 0.05
  val SprtBeta = 0.05
  private[graft] val sprtL1 = math.log(SprtP1 / SprtP0)             // per-click LLR step
  private[graft] val sprtL0 = math.log((1 - SprtP1) / (1 - SprtP0)) // per-view LLR step
  private[graft] val sprtUpper = math.log((1 - SprtBeta) / SprtAlpha)
  private[graft] val sprtLower = math.log(SprtBeta / (1 - SprtAlpha))

  /** q_sprt: Wald's sequential probability ratio test over the daily
    * click-vs-view stream — the third sequential monitor framing beside
    * q_ab_sequential (peeking z trajectory) and q_page_hinkley (drift):
    * SPRT is the OPTIMAL stopping rule for a simple-vs-simple hypothesis
    * pair, walking LLR_t = k_t·ln(p₁/p₀) + (n_t−k_t)·ln((1−p₁)/(1−p₀))
    * between Wald's boundaries ln((1−β)/α) and ln(β/(1−α)). Daily
    * (clicks, trials) are exact integer aggregates; cumulative counts
    * come from one window over the calendar-bounded day table; each
    * day's LLR is integers × two INLINED literal constants (identical in
    * both engines by construction) — one fixed double expression per
    * look, the q_ab_sequential posture. Decisions are emitted per look
    * (the full audit trajectory), not just the stopping day. */
  def qSprt(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        (col("event_type") === "click").cast("long").as("is_click"))
      .groupBy("day")
      .agg(sum(col("is_click")).as("k_day"), count(lit(1)).as("n_day"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val llr = col("k_t") * lit(sprtL1) + (col("n_t") - col("k_t")) * lit(sprtL0)
    daily
      .withColumn("k_t", sum(col("k_day")).over(w))
      .withColumn("n_t", sum(col("n_day")).over(w))
      .select(col("day"), col("n_t"), col("k_t"),
        round(llr, 6).as("llr"),
        when(llr >= sprtUpper, "accept_h1")
          .when(llr <= sprtLower, "accept_h0")
          .otherwise("continue").as("decision"))
  }

  private lazy val qSprtSql =
    s"""WITH daily AS (
         SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS k_day,
           CAST(count(*) AS BIGINT) AS n_day
         FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
       cum AS (
         SELECT day,
           CAST(sum(k_day) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k_t,
           CAST(sum(n_day) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_t
         FROM daily),
       e AS (SELECT day, n_t, k_t,
               k_t * $sprtL1 + (n_t - k_t) * $sprtL0 AS llr
             FROM cum)
       SELECT day, n_t, k_t, round(llr, 6) AS llr,
         CASE WHEN llr >= $sprtUpper THEN 'accept_h1'
              WHEN llr <= $sprtLower THEN 'accept_h0'
              ELSE 'continue' END AS decision
       FROM e"""

  // ------------------------------------------------------------ mcnemar

  /** q_mcnemar: McNemar's paired test between two document-quality
    * filters — the Gopher boolean gate (q_quality_rules `passes`) vs the
    * token-entropy gate (q_entropy `entropy_ok`) on the SAME documents.
    * The unpaired two-proportion z (q_two_prop) is wrong for this
    * comparison because the two gates score identical subjects; McNemar
    * conditions on the discordant pairs only: χ² = (|b−c|−1)²/(b+c)
    * (Edwards continuity correction, numerator floored at 0) with
    * b = passes∧¬entropy_ok, c = ¬passes∧entropy_ok, χ²(1) under H₀.
    * A significant result says the filters disagree DIRECTIONALLY —
    * one gate is systematically stricter, so swapping them shifts the
    * curated corpus, the exact question a pipeline migration asks.
    * All four cell counts are exact integer aggregates of one equi-join
    * (both sides doc-keyed, corpus-partitioned); the statistic is one
    * double division; b+c = 0 → NULL, never a fabricated verdict. */
  /** The 2×2 cell aggregate of the (Gopher gate × entropy gate) join —
    * ONE assembly shared by q_mcnemar and q_mcc (the featureVectors
    * rule: both tests must score the identical contingency table). */
  private def gateCells(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qQualityRules(s, dir).select(col("doc_id"), col("passes"))
      .join(TextAnalysis.qEntropy(s, dir).select(col("doc_id"), col("entropy_ok")),
        Seq("doc_id"))
      .agg(
        sum(when(col("passes") && col("entropy_ok"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("passes") && !col("entropy_ok"), 1L).otherwise(0L)).as("n_gopher_only"),
        sum(when(!col("passes") && col("entropy_ok"), 1L).otherwise(0L)).as("n_entropy_only"),
        sum(when(!col("passes") && !col("entropy_ok"), 1L).otherwise(0L)).as("n_neither"))

  /** The shared gate-cell CTE chain (g/e/j/a) — prepended by both
    * oracle SQLs so the contingency convention cannot drift. */
  private lazy val gateCellsCtes =
    s"""g AS (${TextAnalysis.qQualityRulesSql}),
       e AS (${TextAnalysis.qEntropySql}),
       j AS (SELECT g.passes, e.entropy_ok FROM g JOIN e USING (doc_id)),
       a AS (SELECT
           CAST(count(*) FILTER (WHERE passes AND entropy_ok) AS BIGINT) AS n_both,
           CAST(count(*) FILTER (WHERE passes AND NOT entropy_ok) AS BIGINT) AS n_gopher_only,
           CAST(count(*) FILTER (WHERE NOT passes AND entropy_ok) AS BIGINT) AS n_entropy_only,
           CAST(count(*) FILTER (WHERE NOT passes AND NOT entropy_ok) AS BIGINT) AS n_neither
         FROM j)"""

  def qMcnemar(s: SparkSession, dir: String): DataFrame = {
    val agg = gateCells(s, dir)
    val b = col("n_gopher_only"); val c = col("n_entropy_only")
    val num = greatest(abs(b - c) - 1, lit(0L))
    val chi = (num * num).cast("double") / (b + c).cast("double")
    agg.select(col("n_both"), col("n_gopher_only"), col("n_entropy_only"),
      col("n_neither"),
      when(b + c === 0, lit(null).cast("double"))
        .otherwise(round(chi, 6)).as("chi2"),
      when(b + c === 0, lit(null).cast("boolean"))
        .otherwise(chi > RobustStats.KruskalChiCrit(1)).as("significant"))
  }

  private lazy val qMcnemarSql =
    s"""WITH $gateCellsCtes,
       t AS (SELECT *, greatest(abs(n_gopher_only - n_entropy_only) - 1, 0) AS num,
               n_gopher_only + n_entropy_only AS disc
             FROM a)
       SELECT n_both, n_gopher_only, n_entropy_only, n_neither,
         CASE WHEN disc = 0 THEN NULL
              ELSE round(CAST(num * num AS DOUBLE) / CAST(disc AS DOUBLE), 6) END AS chi2,
         CASE WHEN disc = 0 THEN NULL
              ELSE CAST(num * num AS DOUBLE) / CAST(disc AS DOUBLE)
                > ${RobustStats.KruskalChiCrit(1)} END AS significant
       FROM t"""

  /** q_mcc: Matthews correlation (= the φ coefficient) and odds ratio
    * with a 95% log-OR Wald interval over the SAME gate contingency
    * table as q_mcnemar — the ASSOCIATION companion (McNemar asks "do
    * the marginal rates differ?"; MCC/OR ask "do the two gates agree on
    * the same documents more than chance?" — a high-MCC pair is
    * redundant in a filter stack, a near-zero one is complementary).
    * MCC = (ad − bc)/√((a+b)(c+d)(a+c)(b+d)): the numerator is an exact
    * widened-DECIMAL product difference cast to double once; the four
    * marginal factors multiply as doubles (their product can reach
    * 10⁴⁰ — past any exact width, the documented single-double
    * combination). Degenerate margins → NULL MCC; any empty cell →
    * NULL OR/CI, never ±∞. */
  def qMcc(s: SparkSession, dir: String): DataFrame = {
    val a = col("n_both"); val b = col("n_gopher_only")
    val c = col("n_entropy_only"); val d = col("n_neither")
    def D(x: Column) = x.cast("double")
    val num = (a.cast("decimal(38,0)") * d - b.cast("decimal(38,0)") * c)
      .cast("double")
    val den = sqrt(D(a + b) * D(c + d) * D(a + c) * D(b + d))
    val allPos = a > 0 && b > 0 && c > 0 && d > 0
    val orv = (a.cast("decimal(38,0)") * d).cast("double") /
      (b.cast("decimal(38,0)") * c).cast("double")
    val se = sqrt(lit(1.0) / D(a) + lit(1.0) / D(b) +
      lit(1.0) / D(c) + lit(1.0) / D(d))
    val zc = RobustStats.DunnZCrit(1)
    gateCells(s, dir).select(a, b, c, d,
      when(den =!= 0.0, round(num / den, 6))
        .otherwise(lit(null).cast("double")).as("mcc"),
      when(allPos, round(orv, 6))
        .otherwise(lit(null).cast("double")).as("odds_ratio"),
      when(allPos, round(log(orv) - lit(zc) * se, 6))
        .otherwise(lit(null).cast("double")).as("log_or_lo"),
      when(allPos, round(log(orv) + lit(zc) * se, 6))
        .otherwise(lit(null).cast("double")).as("log_or_hi"))
  }

  private lazy val qMccSql = {
    val zc = RobustStats.DunnZCrit(1)
    s"""WITH $gateCellsCtes,
       t AS (SELECT *,
           CAST(CAST(n_both AS HUGEINT) * n_neither
             - CAST(n_gopher_only AS HUGEINT) * n_entropy_only AS DOUBLE) AS num,
           sqrt(CAST(n_both + n_gopher_only AS DOUBLE)
             * CAST(n_entropy_only + n_neither AS DOUBLE)
             * CAST(n_both + n_entropy_only AS DOUBLE)
             * CAST(n_gopher_only + n_neither AS DOUBLE)) AS den,
           CAST(CAST(n_both AS HUGEINT) * n_neither AS DOUBLE)
             / CAST(CAST(n_gopher_only AS HUGEINT) * n_entropy_only AS DOUBLE) AS orv,
           sqrt(CAST(1 AS DOUBLE) / n_both + CAST(1 AS DOUBLE) / n_gopher_only
             + CAST(1 AS DOUBLE) / n_entropy_only
             + CAST(1 AS DOUBLE) / n_neither) AS se,
           (n_both > 0 AND n_gopher_only > 0 AND n_entropy_only > 0
             AND n_neither > 0) AS allpos
         FROM a)
       SELECT n_both, n_gopher_only, n_entropy_only, n_neither,
         CASE WHEN den <> 0 THEN round(num / den, 6) END AS mcc,
         CASE WHEN allpos THEN round(orv, 6) END AS odds_ratio,
         CASE WHEN allpos THEN round(ln(orv) - $zc * se, 6) END AS log_or_lo,
         CASE WHEN allpos THEN round(ln(orv) + $zc * se, 6) END AS log_or_hi
       FROM t"""
  }

  override def registry: Seq[Q] = Seq(
    Q("q_holm", qHolm, Oracle(qHolmSql)),
    Q("q_mcc", qMcc, Oracle(qMccSql)),
    Q("q_mcnemar", qMcnemar, Oracle(qMcnemarSql)),
    Q("q_sprt", qSprt, Oracle(qSprtSql)),
    Q("q_conformal", qConformal, Oracle(qConformalSql)),
    Q("q_cliffs_delta", qCliffsDelta, Oracle(qCliffsDeltaSql)),
    Q("q_cohens_d", qCohensD, Oracle(qCohensDSql)),
    Q("q_theil_sen", qTheilSen, Oracle(qTheilSenSql)),
    Q("q_mann_kendall", qMannKendall, Oracle(qMannKendallSql)),
    Q("q_by_fdr", qByFdr, Oracle(qByFdrSql)),
    Q("q_bh_fdr", qBhFdr, Oracle(qBhFdrSql)),
    Q("q_page_hinkley", qPageHinkley, Oracle(qPageHinkleySql)))
}
