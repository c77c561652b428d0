package graft.operators

import graft.{Cert, Oracle, Q, QueryModule}
import graft.functions.Ranks
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical / monitoring analytics a production data pipeline runs next
  * to its ETL: distribution histograms, correlation + closed-form OLS,
  * population-stability drift checks, event-sequence transition matrices,
  * attribution, and corpus-shape diagnostics (readability, Zipf slope).
  *
  * Determinism discipline (the whole module is DuckDB hash-gated):
  * moments are accumulated as EXACT DECIMAL sums (the inputs carry ≤2
  * decimal digits) and only cast to DOUBLE once. The decimal→double cast
  * itself can differ by 1 ulp between engines once the exact sum exceeds
  * ~2⁵³ scaled units (observed at sf0.1), so every derived statistic is
  * round()ed at 6 dp — far above ulp drift, far below signal.
  *
  * Scale notes: every query is a single scan plus one key-partitioned
  * aggregation; global moments reduce to one row per group (no
  * driver-side math on row data); the Zipf global ranking uses the
  * distributed zipWithIndex construction (Ranks), never a
  * single-partition window.
  */
object Stats extends QueryModule {

  /** q_histogram: equi-width histogram of order totalprice (width 50k).
    * floor(x/50000.0) is the same IEEE double in both engines, so bucket
    * boundaries cannot drift; sums go through exact DECIMAL. */
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(floor(col("o_totalprice") / 50000.0).cast("int").as("bucket"),
        col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))

  private val qHistogramSql =
    """SELECT CAST(floor(o_totalprice / 50000.0) AS INT) AS bucket,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
       FROM orders GROUP BY 1"""

  /** Pearson r from exact co-moments: (n·Σxy − ΣxΣy) / (√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)).
    * All Σ are DECIMAL-exact; callers round the result (see object doc). */
  private def pearson(n: Column, sx: Column, sy: Column, sxx: Column,
      syy: Column, sxy: Column): Column =
    (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))

  /** q_corr_matrix: pairwise correlation of the lineitem measures in ONE
    * scan — a single global aggregate of all 9 exact moments, then the 3
    * pair rows are expanded from that one row (no per-pair rescans). */
  def qCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    def d(c: String) = col(c).cast("decimal(18,2)")
    val m = Tables.lineitem(s, dir).agg(
      count(lit(1)).cast("double").as("n"),
      sum(d("l_quantity")).cast("double").as("sq"),
      sum(d("l_extendedprice")).cast("double").as("sp"),
      sum(d("l_discount")).cast("double").as("sd"),
      sum(d("l_quantity") * d("l_quantity")).cast("double").as("sqq"),
      sum(d("l_extendedprice") * d("l_extendedprice")).cast("double").as("spp"),
      sum(d("l_discount") * d("l_discount")).cast("double").as("sdd"),
      sum(d("l_quantity") * d("l_extendedprice")).cast("double").as("sqp"),
      sum(d("l_quantity") * d("l_discount")).cast("double").as("sqd"),
      sum(d("l_extendedprice") * d("l_discount")).cast("double").as("spd"))
    def pair(a: String, b: String, r: Column) =
      struct(lit(a).as("col_a"), lit(b).as("col_b"), round(r, 6).as("corr"))
    m.select(explode(array(
        pair("l_quantity", "l_extendedprice",
          pearson(col("n"), col("sq"), col("sp"), col("sqq"), col("spp"), col("sqp"))),
        pair("l_quantity", "l_discount",
          pearson(col("n"), col("sq"), col("sd"), col("sqq"), col("sdd"), col("sqd"))),
        pair("l_extendedprice", "l_discount",
          pearson(col("n"), col("sp"), col("sd"), col("spp"), col("sdd"), col("spd")))))
        .as("r"))
      .select(col("r.col_a").as("col_a"), col("r.col_b").as("col_b"), col("r.corr").as("corr"))
  }

  private val qCorrMatrixSql =
    """WITH m AS (
         SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sd,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sqq,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spp,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sdd,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sqp,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sqd,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS spd
         FROM lineitem)
       SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
         round((n * sqp - sq * sp) / (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 6) AS corr FROM m
       UNION ALL
       SELECT 'l_quantity', 'l_discount',
         round((n * sqd - sq * sd) / (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd)), 6) FROM m
       UNION ALL
       SELECT 'l_extendedprice', 'l_discount',
         round((n * spd - sp * sd) / (sqrt(n * spp - sp * sp) * sqrt(n * sdd - sd * sd)), 6) FROM m"""

  /** q_regr: per-group closed-form OLS (extendedprice ~ quantity) from the
    * same exact-moment discipline — the distributed shape of a regression:
    * one partial-aggregable pass, one tiny row per group. */
  def qRegr(s: SparkSession, dir: String): DataFrame = {
    def d(c: String) = col(c).cast("decimal(18,2)")
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(d("l_quantity")).cast("double").as("sx"),
        sum(d("l_extendedprice")).cast("double").as("sy"),
        sum(d("l_quantity") * d("l_quantity")).cast("double").as("sxx"),
        sum(d("l_quantity") * d("l_extendedprice")).cast("double").as("sxy"))
      .select(col("l_returnflag"), col("n"), round(slope, 6).as("slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
  }

  private val qRegrSql =
    """WITH m AS (
         SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
         FROM lineitem GROUP BY 1)
       SELECT l_returnflag, n,
         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
         round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
       FROM m"""

  /** q_regr_multi: per-group multiple regression (extendedprice ~ quantity
    * + discount) solved in CLOSED FORM — one partial-aggregable pass
    * accumulates the 9 exact-decimal moments of the 3×3 normal equations,
    * then Cramer's rule as a plain expression over the (identical) doubles.
    * The determinant formulas are written with the same term structure in
    * both engines, so every IEEE operation matches and round(6) hash-gates
    * distributed linear-model FITTING — the shape a 100 TB regression
    * actually has (moments shuffle, solve is O(1)). StatsSpec cross-checks
    * the coefficients against MLlib's LinearRegression normal solver. */
  def qRegrMulti(s: SparkSession, dir: String): DataFrame = {
    def d(c: String) = col(c).cast("decimal(18,2)")
    val det = col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("sx1") * (col("sx1") * col("s22") - col("s12") * col("sx2")) +
      col("sx2") * (col("sx1") * col("s12") - col("s11") * col("sx2"))
    val det0 = col("sy") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("sx1") * (col("s1y") * col("s22") - col("s12") * col("s2y")) +
      col("sx2") * (col("s1y") * col("s12") - col("s11") * col("s2y"))
    val det1 = col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y")) -
      col("sy") * (col("sx1") * col("s22") - col("s12") * col("sx2")) +
      col("sx2") * (col("sx1") * col("s2y") - col("s1y") * col("sx2"))
    val det2 = col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12")) -
      col("sx1") * (col("sx1") * col("s2y") - col("s1y") * col("sx2")) +
      col("sy") * (col("sx1") * col("s12") - col("s11") * col("sx2"))
    // spread (guide §2.5): nine decimal-product partial sums per row
    // fuse into the one-task scan stage otherwise (measured ~1.2
    // task-sec single-core)
    Tables.spread(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_discount"), col("l_extendedprice")),
        dir, "lineitem", col("l_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(d("l_quantity")).cast("double").as("sx1"),
        sum(d("l_discount")).cast("double").as("sx2"),
        sum(d("l_extendedprice")).cast("double").as("sy"),
        sum(d("l_quantity") * d("l_quantity")).cast("double").as("s11"),
        sum(d("l_quantity") * d("l_discount")).cast("double").as("s12"),
        sum(d("l_discount") * d("l_discount")).cast("double").as("s22"),
        sum(d("l_quantity") * d("l_extendedprice")).cast("double").as("s1y"),
        sum(d("l_discount") * d("l_extendedprice")).cast("double").as("s2y"))
      .select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
        round(det0 / det, 6).as("b0"),
        round(det1 / det, 6).as("b_qty"),
        round(det2 / det, 6).as("b_disc"))
  }

  private val qRegrMultiSql =
    """WITH m AS (
         SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx1,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s11,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s12,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s22,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1y,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2y
         FROM lineitem GROUP BY 1)
       SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
         round((sy * (s11 * s22 - s12 * s12) - sx1 * (s1y * s22 - s12 * s2y) + sx2 * (s1y * s12 - s11 * s2y))
               / (n * (s11 * s22 - s12 * s12) - sx1 * (sx1 * s22 - s12 * sx2) + sx2 * (sx1 * s12 - s11 * sx2)), 6) AS b0,
         round((n * (s1y * s22 - s12 * s2y) - sy * (sx1 * s22 - s12 * sx2) + sx2 * (sx1 * s2y - s1y * sx2))
               / (n * (s11 * s22 - s12 * s12) - sx1 * (sx1 * s22 - s12 * sx2) + sx2 * (sx1 * s12 - s11 * sx2)), 6) AS b_qty,
         round((n * (s11 * s2y - s1y * s12) - sx1 * (sx1 * s2y - s1y * sx2) + sy * (sx1 * s12 - s11 * sx2))
               / (n * (s11 * s22 - s12 * s12) - sx1 * (sx1 * s22 - s12 * sx2) + sx2 * (sx1 * s12 - s11 * sx2)), 6) AS b_disc
       FROM m"""

  /** The pinball quantile levels q_quantile_reg fits (tau, tau−1 as exact
    * DECIMAL(3,2) literals in both engines — the loss never leaves exact
    * arithmetic until the final per-candidate division). */
  val QuantRegTaus = Seq(("0.25", "-0.75"), ("0.50", "-0.50"), ("0.90", "-0.10"))

  /** q_quantile_reg: EXACT quantile regression of the daily revenue
    * series per event type at τ ∈ {.25, .5, .9} — q_regr/q_regr_multi fit
    * the conditional MEAN in closed form; the conditional-quantile line
    * (Koenker & Bassett 1978) is an LP whose basic optimal solution
    * INTERPOLATES two data points, so the exact global optimum is the
    * argmin of the pinball loss over all 2-point candidate lines. The
    * trick that makes this hash-gateable: the residual is kept SCALED by
    * the candidate span, r̃ = (y−y_i)·(x_j−x_i) − (y_j−y_i)·(x−x_i), which
    * is pure DECIMAL arithmetic (y exact decimal, x integer day index), so
    * Σ max(τ·r̃, (τ−1)·r̃) is exact and order-independent; the only floating
    * point is the final loss = ls/span division and the slope/intercept
    * readout, mirrored op-for-op. The day-index factors are DECIMAL(4,0),
    * so spans up to 9,999 days (~27 years of daily series) stay exact in
    * both engines. Scale shape: one partial-aggregable scan collapses the
    * fact table to the DAY×TYPE dimension; the O(days²) candidate
    * enumeration and O(days³) evaluation never touch fact rows
    * (days = 30 here; a year is 365³ ≈ 5·10⁷ bounded rows — still
    * dimension-sized next to a 100 TB fact scan). */
  def qQuantileReg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).cast("decimal(18,6)").as("y"))
    val d0 = daily.groupBy("event_type").agg(min(col("day")).as("d0"))
    val pts = daily.join(d0, Seq("event_type"))
      .select(col("event_type"), datediff(col("day"), col("d0")).as("x"),
        col("y"))
    val cand = pts.select(col("event_type"), col("x").as("xi"), col("y").as("yi"))
      .join(pts.select(col("event_type").as("et_b"), col("x").as("xj"),
          col("y").as("yj")),
        col("event_type") === col("et_b") && col("xi") < col("xj"))
      .select(col("event_type"), col("xi"), col("yi"), col("xj"), col("yj"),
        (col("xj") - col("xi")).as("span"))
    def dec(v: String) = lit(new java.math.BigDecimal(v)).cast("decimal(3,2)")
    val taus = s.range(1).select(explode(array(QuantRegTaus.map { case (t, t1) =>
      struct(dec(t).as("tau"), dec(t1).as("taum1")) }: _*)).as("t"))
      .select(col("t.tau").as("tau"), col("t.taum1").as("taum1"))
    val r = (col("py") - col("yi")) * col("span").cast("decimal(4,0)") -
      (col("yj") - col("yi")) * (col("px") - col("xi")).cast("decimal(4,0)")
    val agg = cand
      .join(pts.select(col("event_type").as("et_p"), col("x").as("px"),
        col("y").as("py")), col("event_type") === col("et_p"))
      .crossJoin(broadcast(taus))
      .select(col("event_type"), col("tau"), col("taum1"), col("xi"),
        col("yi"), col("xj"), col("yj"), col("span"), r.as("r"))
      .groupBy("event_type", "tau", "taum1", "xi", "yi", "xj", "yj", "span")
      // max(τr, (τ−1)r) via the SIGN of r, not greatest(): τ > 0 > τ−1
      // makes the branch exact, and DuckDB's greatest(DECIMAL, DECIMAL)
      // silently returns DOUBLE — the full-gate rerun caught the oracle's
      // pinball sum drifting by an ulp under parallel double summation
      .agg(sum(when(col("r") >= 0, col("tau") * col("r"))
        .otherwise(col("taum1") * col("r"))).as("ls"),
        count(lit(1)).as("n_days"))
    val w = Window.partitionBy("event_type", "tau")
      .orderBy((col("ls").cast("double") / col("span")).asc,
        col("xi").asc, col("xj").asc)
    agg.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("event_type"), col("tau").cast("double").as("tau"),
        col("n_days"),
        round((col("yj") - col("yi")).cast("double") / col("span"), 6)
          .as("slope"),
        round(col("yi").cast("double")
          - (col("yj") - col("yi")).cast("double") / col("span") * col("xi"),
          6).as("intercept"),
        round(col("ls").cast("double") / col("span"), 6).as("loss"))
  }

  private lazy val qQuantileRegSql = {
    val tausSql = QuantRegTaus.map { case (t, t1) =>
      s"SELECT CAST($t AS DECIMAL(3,2)) AS tau, CAST($t1 AS DECIMAL(3,2)) AS taum1"
    }.mkString(" UNION ALL ")
    s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS y
         FROM events GROUP BY 1, 2),
       m AS (SELECT event_type, min(day) AS d0 FROM daily GROUP BY 1),
       pts AS (SELECT d.event_type, CAST(d.day - m.d0 AS INT) AS x, d.y
               FROM daily d JOIN m ON m.event_type = d.event_type),
       taus AS ($tausSql),
       cand AS (SELECT a.event_type, a.x AS xi, a.y AS yi, b.x AS xj,
                  b.y AS yj, b.x - a.x AS span
                FROM pts a JOIN pts b
                  ON a.event_type = b.event_type AND a.x < b.x),
       ev AS (SELECT c.event_type, t.tau, t.taum1, c.xi, c.yi, c.xj, c.yj,
                c.span,
                (p.y - c.yi) * CAST(c.span AS DECIMAL(4,0))
                  - (c.yj - c.yi) * CAST(p.x - c.xi AS DECIMAL(4,0)) AS r
              FROM cand c JOIN pts p ON p.event_type = c.event_type
              CROSS JOIN taus t),
       agg AS (SELECT event_type, tau, taum1, xi, yi, xj, yj, span,
                 sum(CASE WHEN r >= 0 THEN tau * r ELSE taum1 * r END) AS ls,
                 CAST(count(*) AS BIGINT) AS n_days
               FROM ev GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       scored AS (SELECT *, row_number() OVER (PARTITION BY event_type, tau
                    ORDER BY CAST(ls AS DOUBLE) / span, xi, xj) AS rk
                  FROM agg)
       SELECT event_type, CAST(tau AS DOUBLE) AS tau, n_days,
         round(CAST(yj - yi AS DOUBLE) / span, 6) AS slope,
         round(CAST(yi AS DOUBLE)
           - CAST(yj - yi AS DOUBLE) / span * xi, 6) AS intercept,
         round(CAST(ls AS DOUBLE) / span, 6) AS loss
       FROM scored WHERE rk = 1"""
  }

  /** q_psi: Population Stability Index — the standard drift gate between
    * two corpus partitions (here: even vs odd event ids), per event type,
    * over a fixed 10-bucket value grid with add-1 smoothing (empty cells
    * are real signal, so the grid is densified before smoothing).
    * PSI = Σ_buckets (p_a − p_b)·ln(p_a/p_b); ≳0.2 flags drift.
    * The 10 bucket terms fold over a bucket-SORTED array (r15, the
    * bartlett/anova discipline) so both engines walk identical IEEE
    * additions — bit-exact before the cosmetic round(6). */
  def qPsi(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"),
      least(floor(col("value") / 50.0).cast("int"), lit(9)).as("bucket"),
      (col("event_id") % 2 === 0).as("is_a"))
    val counts = e.groupBy("event_type", "bucket").agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
    val grid = e.select("event_type").distinct()
      .crossJoin(s.range(0, 10).select(col("id").cast("int").as("bucket")))
    val dense = grid.join(counts, Seq("event_type", "bucket"), "left_outer")
      .select(col("event_type"), col("bucket"),
        coalesce(col("na"), lit(0L)).as("na"), coalesce(col("nb"), lit(0L)).as("nb"))
    val tot = dense.groupBy("event_type")
      .agg(sum("na").as("ta"), sum("nb").as("tb"))
    val pa = (col("na") + 1).cast("double") / (col("ta") + 10)
    val pb = (col("nb") + 1).cast("double") / (col("tb") + 10)
    dense.join(tot, Seq("event_type"))
      .groupBy(col("event_type"), col("ta").as("n_a"), col("tb").as("n_b"))
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("bucket"),
          ((pa - pb) * log(pa / pb)).as("t")))),
        lit(0.0), (acc, x) => acc + x.getField("t")), 6).as("psi"))
      .select("event_type", "n_a", "n_b", "psi")
  }

  private val qPsiSql =
    """WITH counts AS (
         SELECT event_type, least(CAST(floor(value / 50.0) AS INT), 9) AS bucket,
           CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
         FROM events GROUP BY 1, 2),
       grid AS (
         SELECT t.event_type, b.bucket
         FROM (SELECT DISTINCT event_type FROM events) t
         CROSS JOIN (SELECT unnest(range(0, 10)) AS bucket) b),
       dense AS (
         SELECT g.event_type, g.bucket,
           coalesce(c.na, 0) AS na, coalesce(c.nb, 0) AS nb
         FROM grid g LEFT JOIN counts c
           ON g.event_type = c.event_type AND g.bucket = c.bucket),
       tot AS (
         SELECT event_type, CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb
         FROM dense GROUP BY 1)
       SELECT d.event_type, t.ta AS n_a, t.tb AS n_b,
         round(list_sum(list(
           (CAST(d.na + 1 AS DOUBLE) / (t.ta + 10) - CAST(d.nb + 1 AS DOUBLE) / (t.tb + 10))
           * ln((CAST(d.na + 1 AS DOUBLE) / (t.ta + 10)) / (CAST(d.nb + 1 AS DOUBLE) / (t.tb + 10)))
           ORDER BY d.bucket)), 6) AS psi
       FROM dense d JOIN tot t ON d.event_type = t.event_type
       GROUP BY d.event_type, t.ta, t.tb"""

  /** q_markov: first-order event-type transition matrix. lead() over the
    * per-user timeline (one shuffle on user_id, the natural stream key;
    * ties broken by event_id so the order is total), then a count per
    * (from,to) pair; the row-probability normalization runs as a window
    * over the ALREADY-aggregated |types|² matrix, not over raw events. */
  def qMarkov(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wf = Window.partitionBy("from_type")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") / sum(col("n")).over(wf))
  }

  private val qMarkovSql =
    """WITH seq AS (
         SELECT event_type AS from_type,
           lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
         FROM events),
       pairs AS (
         SELECT from_type, to_type, count(*) AS n FROM seq
         WHERE to_type IS NOT NULL GROUP BY 1, 2)
       SELECT from_type, to_type, n,
         CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p
       FROM pairs"""

  /** Power-iteration budget of the stationary-distribution query. */
  val MarkovIters = 30

  /** q_markov_stationary: the long-run event-type mix — π = πP of
    * q_markov's transition matrix by power iteration. The chain is
    * BOUNDED (k event types), so the iteration runs driver-side on the
    * collected k² matrix (the Smbo/BPE bounded-state rule: the cluster
    * produced P, the k-vector loop costs nothing) and the oracle replays
    * it as a recursive CTE. Determinism discipline: each π'_j is the
    * ordered fold Σ_i π_i·p(i,j) over states sorted ascending
    * (list_sum(list(… ORDER BY st)) in the oracle — term-by-term
    * identical arithmetic), from the exact uniform start. Transitions
    * into a state with no outgoing edges are dropped IDENTICALLY in both
    * engines (π then sums to < 1 by the leaked mass — on this corpus
    * every type recurs, so the chain is closed and π stays a simplex
    * point); no renormalization, so there is no cross-engine division
    * seam. Row-set invariance (r13 advice): an OUTGOING-ONLY state (a
    * from_type that is never a to_type) decays to π = 0 after iter 0 and
    * would vanish from the oracle's recursive walk (the iter-N rows come
    * from GROUP BY to_type) while Spark still emits it — so the oracle's
    * final SELECT left-joins the iter-N walk back onto `states` and
    * emits coalesce(round(π,6), 0.0), making the emitted row set exactly
    * `states` in both engines on ANY corpus, closed chain or not. */
  def qMarkovStationary(s: SparkSession, dir: String): DataFrame = {
    val rows = qMarkov(s, dir).select("from_type", "to_type", "p").collect()
    val states = rows.map(_.getString(0)).distinct.sorted
    val idx = states.zipWithIndex.toMap
    val p = Array.ofDim[Double](states.length, states.length)
    rows.foreach { r =>
      (idx.get(r.getString(0)), idx.get(r.getString(1))) match {
        case (Some(i), Some(j)) => p(i)(j) = r.getDouble(2)
        case _ => () // transition into a from-less state: dropped (doc above)
      }
    }
    var pi = Array.fill(states.length)(1.0 / states.length)
    for (_ <- 0 until MarkovIters) {
      // ordered fold over i ascending — the oracle's list_sum(ORDER BY st)
      pi = Array.tabulate(states.length) { j =>
        var acc = 0.0; var i = 0
        while (i < states.length) { acc += pi(i) * p(i)(j); i += 1 }
        acc
      }
    }
    import s.implicits._
    states.zip(pi).map { case (st, v) =>
      (st, math.floor(v * 1e6 + 0.5) / 1e6)
    }.toSeq.toDF("state", "pi")
  }

  private lazy val qMarkovStationarySql =
    s"""WITH RECURSIVE seq AS (
         SELECT event_type AS from_type,
           lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
         FROM events),
       pairs AS (
         SELECT from_type, to_type, count(*) AS n FROM seq
         WHERE to_type IS NOT NULL GROUP BY 1, 2),
       tp AS (
         SELECT from_type, to_type,
           CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p
         FROM pairs),
       states AS (SELECT DISTINCT from_type AS st FROM tp),
       tpc AS (SELECT * FROM tp WHERE to_type IN (SELECT st FROM states)),
       walk(iter, st, pi) AS (
         SELECT 0, st, 1.0 / (SELECT count(*) FROM states) FROM states
         UNION ALL
         SELECT w.iter + 1, t.to_type,
           list_sum(list(w.pi * t.p ORDER BY w.st))
         FROM walk w JOIN tpc t ON t.from_type = w.st
         WHERE w.iter < $MarkovIters
         GROUP BY w.iter + 1, t.to_type)
       SELECT s.st AS state, coalesce(round(w.pi, 6), 0.0) AS pi
       FROM states s LEFT JOIN (
         SELECT st, pi FROM walk WHERE iter = $MarkovIters) w ON w.st = s.st"""

  /** q_nelson_aalen: cumulative-hazard estimator beside q_kaplan_meier —
    * the additive survival summary (H(t) = Σ_{s≤t} d_s/r_s with the
    * Poisson variance Σ d_s/r_s², Nelson 1972 / Aalen 1978): where KM
    * emits per-row FACTORS and leaves the order-fragile product to the
    * reader, NA's statistic is a running SUM, which both engines compute
    * sequentially over the same ORDER BY t frame — byte-stable without
    * any fold gymnastics (each d/r term is one double division of exact
    * integers). Same calendar-bounded (deaths, at-risk) table as KM; exp
    * is deliberately NOT applied (the libm seam rule — the reader
    * exponentiates). */
  def qNelsonAalen(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lifetimes = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id")
      .agg(datediff(max(col("day")), min(col("day"))).as("t"))
    val deaths = lifetimes.groupBy("t").agg(count(lit(1)).as("d"))
    val tot = deaths.agg(sum(col("d")).as("n_users"))
    val wPrev = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t_days").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deaths.crossJoin(broadcast(tot))
      .withColumn("ended_before", coalesce(sum(col("d")).over(wPrev), lit(0L)))
      .select(col("t").as("t_days"), col("d").as("n_deaths"),
        (col("n_users") - col("ended_before")).as("n_at_risk"))
      .withColumn("h", col("n_deaths").cast("double") / col("n_at_risk"))
      .withColumn("hv", col("n_deaths").cast("double") /
        (col("n_at_risk") * col("n_at_risk")))
      .select(col("t_days"), col("n_deaths"), col("n_at_risk"),
        round(sum(col("h")).over(wCum), 6).as("cum_hazard"),
        round(sum(col("hv")).over(wCum), 6).as("cum_hazard_var"))
  }

  private lazy val qNelsonAalenSql =
    """WITH lt AS (
         SELECT user_id, date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS t
         FROM events GROUP BY user_id),
       d AS (SELECT t, CAST(count(*) AS BIGINT) AS d FROM lt GROUP BY t),
       tot AS (SELECT CAST(sum(d) AS BIGINT) AS n_users FROM d),
       r AS (
         SELECT t, d, n_users - coalesce(CAST(sum(d) OVER (ORDER BY t ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n_at_risk
         FROM d CROSS JOIN tot),
       h AS (
         SELECT t, d, n_at_risk,
           CAST(d AS DOUBLE) / n_at_risk AS h,
           CAST(d AS DOUBLE) / (n_at_risk * n_at_risk) AS hv
         FROM r)
       SELECT t AS t_days, d AS n_deaths, n_at_risk,
         round(sum(h) OVER (ORDER BY t ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_hazard,
         round(sum(hv) OVER (ORDER BY t ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_hazard_var
       FROM h"""

  /** q_attribution: first-touch conversion attribution. The deterministic
    * first event per user comes from min(struct(ts, event_id, type)) — a
    * partial-aggregable min, ONE shuffle on user_id, no row_number pass —
    * fused with the per-user conversion flag in the same aggregate. */
  def qAttribution(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(
        min(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("first_touch"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
      .groupBy("first_touch")
      .agg(count(lit(1)).as("n_users"), sum("converted").as("n_converted"))
      .withColumn("cvr", col("n_converted").cast("double") / col("n_users"))

  private val qAttributionSql =
    """WITH ranked AS (
         SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         FROM events),
       conv AS (
         SELECT user_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
         FROM events GROUP BY 1)
       SELECT r.event_type AS first_touch, count(*) AS n_users,
         CAST(sum(c.converted) AS BIGINT) AS n_converted,
         CAST(sum(c.converted) AS DOUBLE) / count(*) AS cvr
       FROM ranked r JOIN conv c ON r.user_id = c.user_id
       WHERE r.rn = 1 GROUP BY 1"""

  /** Fixed absorption-walk depth of the Markov attribution chain. */
  val AttribIters = 30

  /** q_attribution_markov: Markov-chain removal-effect attribution
    * (Anderl et al. 2014) — the data-driven member of the attribution
    * family (53c credits the FIRST touch only; 61z's Shapley prices
    * coalitions of PRESENCE; the Markov model prices each channel by how
    * much conversion probability the journey graph LOSES when that
    * channel is removed, which is the industry-standard "removal
    * effect"). Journeys: per user, the touch sequence strictly before
    * the first purchase (converters absorb into __conv, never-buyers
    * into __null, START opens every journey); transitions are counted
    * distributed (one shuffle on user_id for the lead(), one on the
    * bounded (from,to) pair key) and only the k² matrix reaches the
    * driver (the qMarkovStationary bounded-state rule). Absorption
    * probability a(st) = P(reach __conv) is computed by the FIXED
    * [[AttribIters]]-step recursion a⁽¹⁾ = c, a⁽ⁿ⁺¹⁾(f) = c(f) +
    * Σ_to p(f,to)·a⁽ⁿ⁾(to) (c = direct-conversion mass), once on the
    * full graph and once per removed channel; removal_effect(ch) = 1 −
    * a_ch(START)/a(START), share = effect / Σ effects. Determinism
    * discipline: every Σ is an ordered fold over to-states ascending
    * (list_sum(list(… ORDER BY to_st)) in the oracle — term-by-term
    * identical IEEE arithmetic; dead-end states contribute exact-zero
    * terms in Spark and drop out of the oracle's join, an IEEE
    * identity); the oracle replays the identical recursion as ONE
    * recursive CTE keyed (removed, iter, state). Degenerate corpus
    * (zero conversions) → NULL effects, never a division error. */
  def qAttributionMarkov(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"))).as("fp"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .join(fp, Seq("user_id"), "left_outer")
      .filter(col("fp").isNull || struct(col("ts"), col("event_id")) < col("fp"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("fp").isNotNull.as("conv"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val seqd = touches.select(col("user_id"), col("event_type"), col("conv"),
      row_number().over(w).as("trn"),
      lead(col("event_type"), 1).over(w).as("next"))
    val inner = seqd.select(col("event_type").as("from_st"),
      coalesce(col("next"),
        when(col("conv"), lit("__conv")).otherwise(lit("__null"))).as("to_st"))
    val starts = seqd.filter(col("trn") === 1)
      .select(lit("__start").as("from_st"), col("event_type").as("to_st"))
    // converters whose very first event IS the purchase: no prior touch
    val directs = fp
      .join(touches.select("user_id").distinct(), Seq("user_id"), "left_anti")
      .select(lit("__start").as("from_st"), lit("__conv").as("to_st"))
    val edges = inner.unionByName(starts).unionByName(directs)
      .groupBy("from_st", "to_st").agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("from_st")))
      .select("from_st", "to_st", "p").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val channels = edges.map(_._1).filter(_ != "__start").distinct.sorted
    def absorb(removed: Option[String]): Double = {
      val keep = edges.filter { case (f, t, _) =>
        !removed.contains(f) && !removed.contains(t) }
      val froms = keep.map(_._1).distinct.sorted
      val cvec = froms.map { f =>
        f -> keep.filter(e => e._1 == f && e._2 == "__conv").map(_._3).sum
      }.toMap
      val chEdges = froms.map { f =>
        f -> keep.filter(e =>
          e._1 == f && e._2 != "__conv" && e._2 != "__null").sortBy(_._2)
      }.toMap
      var a = cvec
      for (_ <- 2 to AttribIters) {
        a = froms.map { f =>
          var acc = 0.0
          // ordered fold over to ascending — the oracle's
          // list_sum(ORDER BY to_st); absent to-states contribute an
          // exact 0.0 (the oracle drops the term — IEEE-identical)
          chEdges(f).foreach { case (_, t, p) =>
            acc += p * a.getOrElse(t, 0.0) }
          f -> (cvec(f) + acc)
        }.toMap
      }
      a.getOrElse("__start", 0.0)
    }
    val aFull = absorb(None)
    val effects = channels.map(c => c -> (1.0 - absorb(Some(c)) / aFull))
    val total = effects.map(_._2).foldLeft(0.0)(_ + _) // channel-ascending
    channels.map { c =>
      val re = effects.toMap.apply(c)
      if (aFull > 0)
        (c, Some(math.floor(re * 1e6 + 0.5) / 1e6),
          if (total > 0) Some(math.floor(re / total * 1e6 + 0.5) / 1e6)
          else None)
      else (c, None: Option[Double], None: Option[Double])
    }.toSeq.toDF("channel", "removal_effect", "share")
  }

  private lazy val qAttributionMarkovSql =
    s"""WITH RECURSIVE
       o AS (SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             FROM events),
       fpr AS (SELECT user_id, min(rn) AS prn FROM o
               WHERE event_type = 'purchase' GROUP BY 1),
       t AS (SELECT o.user_id, o.event_type, o.rn,
               fpr.prn IS NOT NULL AS conv
             FROM o LEFT JOIN fpr USING (user_id)
             WHERE o.event_type <> 'purchase'
               AND (fpr.prn IS NULL OR o.rn < fpr.prn)),
       seqd AS (SELECT user_id, event_type, conv,
                  row_number() OVER (PARTITION BY user_id ORDER BY rn) AS trn,
                  lead(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS next
                FROM t),
       edges AS (
         SELECT event_type AS from_st,
           coalesce(next, CASE WHEN conv THEN '__conv' ELSE '__null' END) AS to_st
         FROM seqd
         UNION ALL
         SELECT '__start', event_type FROM seqd WHERE trn = 1
         UNION ALL
         SELECT '__start', '__conv' FROM fpr
         WHERE user_id NOT IN (SELECT DISTINCT user_id FROM t)),
       trans AS (SELECT from_st, to_st,
                   CAST(count(*) AS DOUBLE)
                     / CAST(sum(count(*)) OVER (PARTITION BY from_st) AS BIGINT) AS p
                 FROM edges GROUP BY 1, 2),
       chans AS (SELECT DISTINCT from_st AS c FROM trans WHERE from_st <> '__start'),
       removals AS (SELECT '__none' AS removed UNION ALL SELECT c FROM chans),
       rt AS (SELECT r.removed, t.from_st, t.to_st, t.p
              FROM trans t CROSS JOIN removals r
              WHERE t.from_st <> r.removed AND t.to_st <> r.removed),
       cv AS (SELECT removed, from_st,
                coalesce(sum(CASE WHEN to_st = '__conv' THEN p END),
                  CAST(0 AS DOUBLE)) AS cvec
              FROM rt GROUP BY 1, 2),
       rch AS ( -- channel-to-channel edges + zero self-edges so every
                -- from-state persists in the walk (exact-zero addend)
         SELECT removed, from_st, to_st, p FROM rt
         WHERE to_st NOT IN ('__conv', '__null')
         UNION ALL
         SELECT removed, from_st, from_st, CAST(0 AS DOUBLE) FROM cv),
       walk(removed, iter, st, a) AS (
         SELECT removed, 1, from_st, cvec FROM cv
         UNION ALL
         SELECT w.removed, w.iter + 1, e.from_st,
           cv2.cvec + list_sum(list(e.p * w.a ORDER BY e.to_st))
         FROM walk w
         JOIN rch e ON e.removed = w.removed AND e.to_st = w.st
         JOIN cv cv2 ON cv2.removed = w.removed AND cv2.from_st = e.from_st
         WHERE w.iter < $AttribIters
         GROUP BY w.removed, w.iter + 1, e.from_st, cv2.cvec),
       base AS (SELECT a FROM walk
                WHERE iter = $AttribIters AND removed = '__none'
                  AND st = '__start'),
       eff AS (SELECT c.c AS channel,
                 1 - coalesce(w.a, CAST(0 AS DOUBLE)) / (SELECT a FROM base) AS re
               FROM chans c LEFT JOIN walk w
                 ON w.removed = c.c AND w.iter = $AttribIters
                    AND w.st = '__start'
               WHERE (SELECT a FROM base) > 0),
       tot AS (SELECT list_sum(list(re ORDER BY channel)) AS t FROM eff)
       SELECT c.c AS channel, round(e.re, 6) AS removal_effect,
         CASE WHEN tot.t > 0 THEN round(e.re / tot.t, 6) END AS share
       FROM chans c
       LEFT JOIN eff e ON e.channel = c.c
       CROSS JOIN tot"""

  /** q_readability: Flesch reading ease per document from pure per-row
    * regex counts (codegen'd, no shuffle at all): words, sentence marks,
    * and the vowel-group syllable heuristic. Counts are integers, so the
    * score expression evaluates identically in both engines. */
  def qReadability(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        greatest(regexp_count(col("text"), lit("[A-Za-z]+")), lit(1)).as("words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).as("sentences"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).as("syllables"))
      .select(col("doc_id"), col("words"), col("sentences"), col("syllables"),
        (lit(206.835) - lit(1.015) * (col("words") / col("sentences"))
          - lit(84.6) * (col("syllables") / col("words"))).as("flesch"))

  private val qReadabilitySql =
    """SELECT doc_id, words, sentences, syllables,
         206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
           - 84.6 * (CAST(syllables AS DOUBLE) / words) AS flesch
       FROM (
         SELECT doc_id,
           greatest(len(regexp_extract_all(text, '[A-Za-z]+')), 1) AS words,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
           len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
         FROM documents)"""

  /** q_zipf: the corpus rank–frequency slope (Zipf's-law exponent), a
    * one-row corpus-shape diagnostic. Global frequency ranking uses the
    * distributed zipWithIndex construction (Ranks.globalRowNumber) — a
    * 100 TB vocabulary never funnels through one window task — then OLS of
    * ln(cf) on ln(rank) from one global aggregate. Double sums accumulate
    * in engine-dependent order → round(6). */
  def qZipf(s: SparkSession, dir: String): DataFrame = {
    val ranked = Ranks.globalRowNumber(
      TextPrep.dictionary(s, dir).select("tok", "cf"),
      col("cf").desc, col("tok").asc)
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    ranked
      .select(log(col("rn").cast("double")).as("x"), log(col("cf").cast("double")).as("y"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .select(col("n").cast("long").as("n_tokens"),
        round(slope, 6).as("slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
  }

  private val qZipfSql = {
    val dict = s"""SELECT tok, count(*) AS cf FROM (
        SELECT unnest(${graft.functions.TextFns.cleanTokensSql("text")}) AS tok
        FROM documents) GROUP BY tok"""
    s"""WITH dict AS ($dict),
       ranked AS (
         SELECT cf, row_number() OVER (ORDER BY cf DESC, tok ASC) AS rn FROM dict),
       m AS (
         SELECT CAST(count(*) AS DOUBLE) AS n,
           sum(ln(CAST(rn AS DOUBLE))) AS sx, sum(ln(CAST(cf AS DOUBLE))) AS sy,
           sum(ln(CAST(rn AS DOUBLE)) * ln(CAST(rn AS DOUBLE))) AS sxx,
           sum(ln(CAST(rn AS DOUBLE)) * ln(CAST(cf AS DOUBLE))) AS sxy
         FROM ranked)
       SELECT CAST(n AS BIGINT) AS n_tokens,
         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
         round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
       FROM m"""
  }

  /** q_profile: one-pass data-quality profile of the documents table —
    * per-column null counts and exact distinct cardinalities (the schema
    * contract a pipeline asserts before training). All profiles come from
    * ONE aggregate (Spark plans multi-countDistinct via expand, still a
    * single scan); the per-column rows are expanded from the single
    * profile row. At 100 TB swap countDistinct for approx_count_distinct
    * (q_approx_distinct shows the sketch path + error check). */
  def qProfile(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
      countDistinct(col(c)).as(s"dist_$c")))
    Tables.documents(s, dir)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(cols.map(c =>
        struct(lit(c).as("column"), col(s"null_$c").as("n_nulls"),
          col(s"dist_$c").as("n_distinct"))): _*)).as("r"))
      .select(col("r.column").as("column"), col("n_rows"),
        col("r.n_nulls").as("n_nulls"), col("r.n_distinct").as("n_distinct"))
  }

  private val qProfileSql = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val rows = cols.map(c =>
      s"""SELECT '$c' AS "column", (SELECT count(*) FROM documents) AS n_rows,
          CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
          count(DISTINCT $c) AS n_distinct FROM documents""").mkString("\n UNION ALL ")
    rows
  }

  /** One referential-integrity check row: child rows whose key finds no
    * parent (left-anti on the key equi-join — the distributed FK audit
    * shape), beside the child's total. Fixture-testable core of
    * [[qDqChecks]]. */
  def fkCheck(name: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val viol = child
      .join(parent.select(col(parentKey)).distinct(),
        col(childKey) === col(parentKey), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
    child.agg(count(lit(1)).as("n_checked")).crossJoin(viol)
      .select(lit(name).as("check_name"), col("n_checked"),
        col("n_violations"), (col("n_violations") === 0).as("pass"))
  }

  /** One predicate-expectation check row: rows violating `bad`. The
    * coalesce matters: sum() over an EMPTY table is NULL, which would
    * poison n_violations and pass while the oracle's count(*) form
    * yields 0/true. */
  private def predCheck(name: String, df: DataFrame, bad: Column): DataFrame =
    df.agg(count(lit(1)).as("n_checked"),
        coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L)).as("n_violations"))
      .select(lit(name).as("check_name"), col("n_checked"),
        col("n_violations"), (col("n_violations") === 0).as("pass"))

  /** q_dq_checks: the data-contract expectation suite — the audit a
    * pipeline runs BEFORE q_profile's column stats: referential
    * integrity across the star schema (FK anti-joins), predicate
    * expectations (value ranges, null keys), uniqueness (count vs
    * distinct), and a coverage expectation (orders with no lineitems)
    * that legitimately FAILS on the driver corpus (257 childless orders
    * at sf0.01) — so the pass column discriminates and the gate hashes
    * real structure, not a wall of constant trues. Every check is one
    * bounded one-row aggregate (anti-joins shuffle on their key, dims
    * broadcast); the union is constant-width. Violation counts are
    * exact integers; pass is an exact zero-test. */
  def qDqChecks(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    val nat = Tables.nation(s, dir)
    val ev = Tables.events(s, dir)
    val docs = Tables.documents(s, dir)
    val dup = docs.agg(count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("n_violations"))
      .select(lit("documents_unique_id").as("check_name"), col("n_checked"),
        col("n_violations"), (col("n_violations") === 0).as("pass"))
    fkCheck("lineitem_fk_orders", li, "l_orderkey", ord, "o_orderkey")
      .unionAll(fkCheck("orders_fk_customer", ord, "o_custkey", cust, "c_custkey"))
      .unionAll(fkCheck("customer_fk_nation", cust, "c_nationkey", nat, "n_nationkey"))
      .unionAll(fkCheck("orders_have_lineitems", ord, "o_orderkey", li, "l_orderkey"))
      .unionAll(predCheck("orders_positive_total", ord,
        col("o_totalprice") <= 0))
      .unionAll(predCheck("lineitem_qty_range", li,
        col("l_quantity") <= 0 || col("l_quantity") > 50))
      .unionAll(predCheck("events_user_not_null", ev, col("user_id").isNull))
      .unionAll(predCheck("documents_nonempty_text", docs,
        col("text").isNull || length(col("text")) === 0))
      .unionAll(dup)
  }

  // NOT EXISTS, not NOT IN: NOT IN over a NULL-bearing key set returns
  // zero violations for EVERY child row, and a NULL child key counts as a
  // violation in Spark's left_anti but not in NOT IN — NOT EXISTS with an
  // equality correlate is the exact SQL equivalent of the anti-join.
  private lazy val qDqChecksSql =
    """SELECT 'lineitem_fk_orders' AS check_name,
         CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_checked,
         CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
           (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_violations,
         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
           (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0 AS pass
       UNION ALL SELECT 'orders_fk_customer',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM orders od WHERE NOT EXISTS
           (SELECT 1 FROM customer c WHERE c.c_custkey = od.o_custkey)),
         (SELECT count(*) FROM orders od WHERE NOT EXISTS
           (SELECT 1 FROM customer c WHERE c.c_custkey = od.o_custkey)) = 0
       UNION ALL SELECT 'customer_fk_nation',
         (SELECT count(*) FROM customer),
         (SELECT count(*) FROM customer c WHERE NOT EXISTS
           (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)),
         (SELECT count(*) FROM customer c WHERE NOT EXISTS
           (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) = 0
       UNION ALL SELECT 'orders_have_lineitems',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM orders od WHERE NOT EXISTS
           (SELECT 1 FROM lineitem l WHERE l.l_orderkey = od.o_orderkey)),
         (SELECT count(*) FROM orders od WHERE NOT EXISTS
           (SELECT 1 FROM lineitem l WHERE l.l_orderkey = od.o_orderkey)) = 0
       UNION ALL SELECT 'orders_positive_total',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM orders WHERE o_totalprice <= 0),
         (SELECT count(*) FROM orders WHERE o_totalprice <= 0) = 0
       UNION ALL SELECT 'lineitem_qty_range',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem WHERE l_quantity <= 0 OR l_quantity > 50),
         (SELECT count(*) FROM lineitem WHERE l_quantity <= 0 OR l_quantity > 50) = 0
       UNION ALL SELECT 'events_user_not_null',
         (SELECT count(*) FROM events),
         (SELECT count(*) FROM events WHERE user_id IS NULL),
         (SELECT count(*) FROM events WHERE user_id IS NULL) = 0
       UNION ALL SELECT 'documents_nonempty_text',
         (SELECT count(*) FROM documents),
         (SELECT count(*) FROM documents WHERE text IS NULL OR length(text) = 0),
         (SELECT count(*) FROM documents WHERE text IS NULL OR length(text) = 0) = 0
       UNION ALL SELECT 'documents_unique_id',
         (SELECT count(*) FROM documents),
         (SELECT count(*) - count(DISTINCT doc_id) FROM documents),
         (SELECT count(*) - count(DISTINCT doc_id) FROM documents) = 0"""

  /** q_ab_sequential: the sequential-look companion to q_ab_test — the
    * per-day Welch-z TRAJECTORY of the click-vs-view comparison (the
    * "peeking" view an experimentation platform actually renders: how
    * the statistic evolved look by look, the input to any alpha-spending
    * boundary). Daily conditional moments reduce in ONE grouped pass
    * (decimal-exact), cumulate over the calendar-bounded day table
    * (≤ a few thousand rows even for a year — the q_ks_test granularity
    * bound), and each look's z is one fixed double expression over
    * exactly-equal cumulative sums (population-variance form,
    * documented). The warn flag (|z| > 1) discriminates at both SFs
    * (15/30, 10/30); the trajectory itself never crossed 1.96 on this
    * corpus — the honest null. */
  def qAbSequential(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isA = col("event_type") === "click"
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("day")
      .agg(sum(when(isA, 1L).otherwise(0L)).as("na0"),
        sum(when(!isA, 1L).otherwise(0L)).as("nb0"),
        sum(when(isA, col("v"))).as("sa0"),
        sum(when(!isA, col("v"))).as("sb0"),
        sum(when(isA, col("v") * col("v"))).as("qa0"),
        sum(when(!isA, col("v") * col("v"))).as("qb0"))
    val w = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.select(col("day"),
      sum(col("na0")).over(w).as("na"), sum(col("nb0")).over(w).as("nb"),
      sum(col("sa0")).over(w).cast("double").as("sa"),
      sum(col("sb0")).over(w).cast("double").as("sb"),
      sum(col("qa0")).over(w).cast("double").as("qa"),
      sum(col("qb0")).over(w).cast("double").as("qb"))
    val ma = col("sa") / col("na")
    val mb = col("sb") / col("nb")
    val z = (ma - mb) /
      sqrt((col("qa") / col("na") - ma * ma) / col("na") +
        (col("qb") / col("nb") - mb * mb) / col("nb"))
    cum.filter(col("na") > 1 && col("nb") > 1)
      .select(col("day"), col("na"), col("nb"), round(z, 6).as("z"),
        (abs(z) > 1.0).as("warn"))
  }

  private lazy val qAbSequentialSql =
    """WITH d AS (
         SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           CAST(value AS DECIMAL(18,6)) AS v
         FROM events WHERE event_type IN ('click', 'view')),
       daily AS (
         SELECT day,
           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na0,
           sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nb0,
           sum(CASE WHEN event_type = 'click' THEN v END) AS sa0,
           sum(CASE WHEN event_type = 'view' THEN v END) AS sb0,
           sum(CASE WHEN event_type = 'click' THEN v * v END) AS qa0,
           sum(CASE WHEN event_type = 'view' THEN v * v END) AS qb0
         FROM d GROUP BY day),
       c AS (
         SELECT day,
           CAST(sum(na0) OVER w AS BIGINT) AS na,
           CAST(sum(nb0) OVER w AS BIGINT) AS nb,
           CAST(sum(sa0) OVER w AS DOUBLE) AS sa,
           CAST(sum(sb0) OVER w AS DOUBLE) AS sb,
           CAST(sum(qa0) OVER w AS DOUBLE) AS qa,
           CAST(sum(qb0) OVER w AS DOUBLE) AS qb
         FROM daily WINDOW w AS (ORDER BY day ASC ROWS UNBOUNDED PRECEDING))
       SELECT day, na, nb,
         round((sa/na - sb/nb) / sqrt((qa/na - (sa/na)*(sa/na))/na
           + (qb/nb - (sb/nb)*(sb/nb))/nb), 6) AS z,
         abs((sa/na - sb/nb) / sqrt((qa/na - (sa/na)*(sa/na))/na
           + (qb/nb - (sb/nb)*(sb/nb))/nb)) > 1.0 AS warn
       FROM c WHERE na > 1 AND nb > 1"""

  /** q_key_skew: shuffle-key skew diagnostics for the events stream key —
    * top-1/top-10 share and the Gini coefficient of the per-key count
    * distribution (the number that says "salt this join"). Key counts
    * reduce first (one shuffle); the Gini rank over the ALREADY-aggregated
    * per-key counts uses the distributed zipWithIndex ranking, so no
    * single-partition window even with 10⁹ distinct keys. */
  def qKeySkew(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("tot"), count(lit(1)).as("nk"))
    val ranked = Ranks.globalRowNumber(counts, col("cnt").asc, col("user_id").asc)
    ranked.crossJoin(broadcast(tot))
      .agg(max(col("nk")).as("n_keys"), max(col("tot")).as("total"),
        sum(col("rn") * col("cnt")).as("s"),
        sum(when(col("rn") === col("nk"), col("cnt")).otherwise(0L)).as("top1"),
        sum(when(col("rn") > col("nk") - 10, col("cnt")).otherwise(0L)).as("top10"))
      .select(col("n_keys"), col("total"),
        round(lit(2.0) * col("s") / (col("n_keys") * col("total"))
          - (col("n_keys") + lit(1.0)) / col("n_keys"), 6).as("gini"),
        round(col("top1").cast("double") / col("total"), 6).as("top1_share"),
        round(col("top10").cast("double") / col("total"), 6).as("top10_share"))
  }

  private val qKeySkewSql =
    """WITH counts AS (
         SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
       tot AS (
         SELECT CAST(sum(cnt) AS BIGINT) AS tot, count(*) AS nk FROM counts),
       ranked AS (
         SELECT cnt, row_number() OVER (ORDER BY cnt ASC, user_id ASC) AS rn
         FROM counts)
       SELECT nk AS n_keys, tot AS total,
         round(2.0 * CAST(sum(rn * cnt) AS BIGINT) / (nk * tot) - (nk + 1.0) / nk, 6) AS gini,
         round(CAST(sum(CASE WHEN rn = nk THEN cnt ELSE 0 END) AS DOUBLE) / tot, 6) AS top1_share,
         round(CAST(sum(CASE WHEN rn > nk - 10 THEN cnt ELSE 0 END) AS DOUBLE) / tot, 6) AS top10_share
       FROM ranked CROSS JOIN tot
       GROUP BY nk, tot"""

  /** q_ab_test: Welch's two-sample t-test between the 'click' and 'view'
    * event groups on `value` — the experimentation primitive an analytics
    * engine ships (unequal variances, no pooling assumption). All moments
    * are DECIMAL-exact in one grouped scan (values carry ≤6 dp, so v and
    * v·v sum exactly); means/variances/t/df are then one identical IEEE
    * double sequence in both engines, floor-rounded to 6 dp (the q_anomaly
    * trick). df via Welch–Satterthwaite; the gate is |t| ≥ 1.96. All six
    * moments are CONDITIONAL sums in ONE global aggregate — a single scan
    * of the fact table, no join, no per-group branch recomputation. */
  def qAbTest(s: SparkSession, dir: String): DataFrame = {
    val isA = col("event_type") === "click"
    val ab = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("value").cast("decimal(18,6)").as("v"))
      .agg(
        sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
        sum(when(isA, col("v"))).cast("double").as("sx_a"),
        sum(when(!isA, col("v"))).cast("double").as("sx_b"),
        sum(when(isA, col("v") * col("v"))).cast("double").as("sxx_a"),
        sum(when(!isA, col("v") * col("v"))).cast("double").as("sxx_b"))
    def r6(c: Column) = floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val ma = col("sx_a") / na; val mb = col("sx_b") / nb
    val va = (col("sxx_a") - col("sx_a") * col("sx_a") / na) / (na - 1.0)
    val vb = (col("sxx_b") - col("sx_b") * col("sx_b") / nb) / (nb - 1.0)
    val sea = va / na; val seb = vb / nb
    val t = (ma - mb) / sqrt(sea + seb)
    val df = (sea + seb) * (sea + seb) /
      (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0))
    // degenerate-data guard, IDENTICAL in the oracle: with n<2 the n-1
    // division (or with zero pooled variance the sqrt(0) division) yields
    // Infinity in Spark but NULL in DuckDB — emit NULL in both instead
    val degenerate = col("n_a") < 2 || col("n_b") < 2 || (sea + seb) === 0.0
    ab.select(col("n_a"), col("n_b"), r6(ma).as("mean_a"), r6(mb).as("mean_b"),
      when(degenerate, lit(null)).otherwise(r6(t)).as("t_stat"),
      when(degenerate, lit(null)).otherwise(r6(df)).as("df_welch"),
      when(degenerate, lit(null)).otherwise(abs(t) >= 1.96).as("significant"))
  }

  private val qAbTestSql =
    """WITH ab AS (
         SELECT
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sx_a,
           CAST(sum(CASE WHEN event_type <> 'click' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sx_b,
           CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sxx_a,
           CAST(sum(CASE WHEN event_type <> 'click' THEN CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sxx_b
         FROM events WHERE event_type IN ('click', 'view')),
       c AS (
         SELECT n_a, n_b,
           sx_a / CAST(n_a AS DOUBLE) AS ma, sx_b / CAST(n_b AS DOUBLE) AS mb,
           ((sxx_a - sx_a * sx_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE) AS sea,
           ((sxx_b - sx_b * sx_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE) AS seb,
           CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd
         FROM ab)
       SELECT n_a, n_b,
         floor(ma * 1000000.0 + 0.5) / 1000000.0 AS mean_a,
         floor(mb * 1000000.0 + 0.5) / 1000000.0 AS mean_b,
         CASE WHEN n_a < 2 OR n_b < 2 OR sea + seb = 0 THEN NULL
              ELSE floor(((ma - mb) / sqrt(sea + seb)) * 1000000.0 + 0.5) / 1000000.0 END AS t_stat,
         CASE WHEN n_a < 2 OR n_b < 2 OR sea + seb = 0 THEN NULL
              ELSE floor(((sea + seb) * (sea + seb) /
                (sea * sea / (nad - 1.0) + seb * seb / (nbd - 1.0))) * 1000000.0 + 0.5) / 1000000.0 END AS df_welch,
         CASE WHEN n_a < 2 OR n_b < 2 OR sea + seb = 0 THEN NULL
              ELSE abs((ma - mb) / sqrt(sea + seb)) >= 1.96 END AS significant
       FROM c"""

  /** q_partial_corr: first-order partial correlations of the lineitem
    * measures — the confounder-adjusted companion to q_corr_matrix
    * (marginal r says quantity and price co-move; partial r asks whether
    * they still do once discount is held fixed):
    * r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)). SAME one-scan
    * nine-moment aggregate as q_corr_matrix — the three marginal r's and
    * the three partials all expand from that single row, a fixed double
    * expression each; no second pass, no per-pair rescans. */
  def qPartialCorr(s: SparkSession, dir: String): DataFrame = {
    def d(c: String) = col(c).cast("decimal(18,2)")
    val m = Tables.lineitem(s, dir).agg(
      count(lit(1)).cast("double").as("n"),
      sum(d("l_quantity")).cast("double").as("sq"),
      sum(d("l_extendedprice")).cast("double").as("sp"),
      sum(d("l_discount")).cast("double").as("sd"),
      sum(d("l_quantity") * d("l_quantity")).cast("double").as("sqq"),
      sum(d("l_extendedprice") * d("l_extendedprice")).cast("double").as("spp"),
      sum(d("l_discount") * d("l_discount")).cast("double").as("sdd"),
      sum(d("l_quantity") * d("l_extendedprice")).cast("double").as("sqp"),
      sum(d("l_quantity") * d("l_discount")).cast("double").as("sqd"),
      sum(d("l_extendedprice") * d("l_discount")).cast("double").as("spd"))
    val rQP = pearson(col("n"), col("sq"), col("sp"), col("sqq"), col("spp"), col("sqp"))
    val rQD = pearson(col("n"), col("sq"), col("sd"), col("sqq"), col("sdd"), col("sqd"))
    val rPD = pearson(col("n"), col("sp"), col("sd"), col("spp"), col("sdd"), col("spd"))
    def partial(rxy: Column, rxz: Column, ryz: Column) =
      (rxy - rxz * ryz) /
        sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
    def row(a: String, b: String, z: String, rxy: Column, rxz: Column, ryz: Column) =
      struct(lit(a).as("col_a"), lit(b).as("col_b"), lit(z).as("control"),
        round(rxy, 6).as("corr"), round(partial(rxy, rxz, ryz), 6).as("partial"))
    m.select(explode(array(
        row("l_quantity", "l_extendedprice", "l_discount", rQP, rQD, rPD),
        row("l_quantity", "l_discount", "l_extendedprice", rQD, rQP, rPD),
        row("l_extendedprice", "l_discount", "l_quantity", rPD, rQP, rQD))).as("r"))
      .select(col("r.col_a").as("col_a"), col("r.col_b").as("col_b"),
        col("r.control").as("control"), col("r.corr").as("corr"),
        col("r.partial").as("partial"))
  }

  private lazy val qPartialCorrSql = {
    def pear(sx: String, sy: String, sxx: String, syy: String, sxy: String) =
      s"((n * $sxy - $sx * $sy) / (sqrt(n * $sxx - $sx * $sx) * sqrt(n * $syy - $sy * $sy)))"
    val rQP = pear("sq", "sp", "sqq", "spp", "sqp")
    val rQD = pear("sq", "sd", "sqq", "sdd", "sqd")
    val rPD = pear("sp", "sd", "spp", "sdd", "spd")
    def part(rxy: String, rxz: String, ryz: String) =
      s"(($rxy - $rxz * $ryz) / sqrt((1.0 - $rxz * $rxz) * (1.0 - $ryz * $ryz)))"
    s"""WITH m AS (SELECT
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sd,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sqq,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spp,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sdd,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sqp,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sqd,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS spd
       FROM lineitem)
       SELECT col_a, col_b, control, corr, partial FROM (
         SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           'l_discount' AS control, round($rQP, 6) AS corr,
           round(${part(rQP, rQD, rPD)}, 6) AS partial FROM m
         UNION ALL
         SELECT 'l_quantity', 'l_discount', 'l_extendedprice',
           round($rQD, 6), round(${part(rQD, rQP, rPD)}, 6) FROM m
         UNION ALL
         SELECT 'l_extendedprice', 'l_discount', 'l_quantity',
           round($rPD, 6), round(${part(rPD, rQP, rQD)}, 6) FROM m)"""
  }

  /** Seasonal period for the seasonal-naive forecaster. */
  val ForecastSeason = 7

  /** q_forecast_eval: forecast-accuracy scoreboard (the M-competition
    * metrics) for the two benchmark forecasters every real model must
    * beat — naive-1 (ŷ_t = y_{t−1}) and seasonal-naive-7 (ŷ_t = y_{t−7})
    * — on the daily totals per event type. Both forecasts are LAG
    * windows over the calendar-bounded day table, so each error is an
    * EXACT DECIMAL difference; the eval window is days where BOTH
    * forecasts exist (same n, so MASE = Σ|e₇| / Σ|e₁| is a single
    * division of exact decimal sums, no mean-of-means drift); MAE
    * divides once, RMSE squares exact decimals and takes one
    * sqrt-of-division. MASE < 1 ⇔ weekday seasonality carries real
    * signal (the q_seasonal finding, now quantified). */
  def qForecastEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("y"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = daily
      .withColumn("f1", lag(col("y"), 1).over(w))
      .withColumn("f7", lag(col("y"), ForecastSeason).over(w))
      .filter(col("f1").isNotNull && col("f7").isNotNull)
      .select(col("event_type"),
        abs(col("y") - col("f1")).as("e1"), abs(col("y") - col("f7")).as("e7"))
    lagged.groupBy("event_type")
      .agg(count(lit(1)).as("n_eval"),
        sum(col("e1")).as("s1"), sum(col("e7")).as("s7"),
        sum(col("e1") * col("e1")).as("ss1"),
        sum(col("e7") * col("e7")).as("ss7"))
      .select(col("event_type"), col("n_eval"),
        round(col("s1").cast("double") / col("n_eval"), 6).as("mae_naive"),
        round(col("s7").cast("double") / col("n_eval"), 6).as("mae_snaive"),
        round(sqrt(col("ss1").cast("double") / col("n_eval")), 6).as("rmse_naive"),
        round(sqrt(col("ss7").cast("double") / col("n_eval")), 6).as("rmse_snaive"),
        round(col("s7").cast("double") / col("s1").cast("double"), 6).as("mase_snaive"))
  }

  private lazy val qForecastEvalSql =
    s"""WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS y
         FROM events GROUP BY 1, 2),
       lagged AS (
         SELECT event_type,
           abs(y - lag(y, 1) OVER (PARTITION BY event_type ORDER BY day)) AS e1,
           abs(y - lag(y, $ForecastSeason) OVER (PARTITION BY event_type ORDER BY day)) AS e7
         FROM daily),
       f AS (SELECT event_type, e1, e7 FROM lagged
             WHERE e1 IS NOT NULL AND e7 IS NOT NULL)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
         round(CAST(sum(e1) AS DOUBLE) / count(*), 6) AS mae_naive,
         round(CAST(sum(e7) AS DOUBLE) / count(*), 6) AS mae_snaive,
         round(sqrt(CAST(sum(e1 * e1) AS DOUBLE) / count(*)), 6) AS rmse_naive,
         round(sqrt(CAST(sum(e7 * e7) AS DOUBLE) / count(*)), 6) AS rmse_snaive,
         round(CAST(sum(e7) AS DOUBLE) / CAST(sum(e1) AS DOUBLE), 6) AS mase_snaive
       FROM f GROUP BY event_type"""

  /** q_did: difference-in-differences — the quasi-experimental estimator
    * for "did the post-period change differ between arms beyond the
    * common trend": δ = (ȲT,post − ȲT,pre) − (ȲC,post − ȲC,pre), with a
    * Welch-style SE from the four cell variances. Unit = user-period
    * (per-user value mass in each half of the calendar, the q_cuped
    * windows); arms = the md5 split. One fact scan → per-(user, period)
    * DECIMAL sums → FOUR moment cells (n, Σy, Σy²) — every input to the
    * final fixed double expression is exact; one row out. */
  /** q_simpson_flip: Simpson's-paradox detector — per acquisition
    * channel (the user's FIRST event type, deterministically the min
    * (ts, event_id) event), does the arm conversion-rate gap point the
    * OPPOSITE way from the aggregate gap? The aggregation-trap audit a
    * metrics platform runs beside its A/B readouts (q_simpson is the
    * DIVERSITY index; this is the PARADOX — a subgroup sign reversal
    * means channel mix, not treatment, drives the headline number).
    * First-event channel is derived join-wise (min ts per user → min
    * event_id at that instant → its type), never via a struct-min whose
    * cross-engine ordering would be a seam; rates are exact-integer
    * divisions; channels present in only one arm emit NULL gap and NULL
    * flip identically. One scan + two dimension joins + one channel
    * aggregate. */
  /** The (channel, conv, treat) per-user relation shared by
    * [[qSimpsonFlip]] and [[qCmh]] — channel = first event's type
    * (min ts → min event_id, join-wise), conv = qualifying purchase,
    * treat = the md5 nibble-1 arm. */
  private def channelConvArms(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val t0 = ev.groupBy(col("user_id").as("u0")).agg(min(col("ts")).as("t0"))
    val e0 = ev.select(col("user_id").as("u1"), col("ts").as("ts1"),
        col("event_id").as("eid1"))
      .join(t0, col("u1") === col("u0") && col("ts1") === col("t0"))
      .groupBy(col("u1").as("uid")).agg(min(col("eid1")).as("eid"))
    val channel = e0.join(ev.select(col("event_id").as("eid"),
        col("event_type").as("channel")), Seq("eid"))
      .select(col("uid"), col("channel"))
    ev.groupBy(col("user_id").as("uid"))
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > TwoPropValueCut, 1L).otherwise(0L)).as("conv"))
      .join(channel, Seq("uid"))
      .select(col("channel"), col("conv"),
        (conv(substring(md5(col("uid").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("treat"))
  }

  /** The shared SQL CTE chain producing the same (channel, conv, treat)
    * relation as [[channelConvArms]], ending in a CTE named `j`. */
  private lazy val channelConvArmsCtes =
    s"""t0 AS (SELECT user_id, min(ts) AS t0 FROM events
           GROUP BY user_id),
       e0 AS (SELECT t0.user_id AS uid, min(e.event_id) AS eid
              FROM t0 JOIN events e
                ON e.user_id = t0.user_id AND e.ts = t0.t0
              GROUP BY 1),
       chan AS (SELECT e0.uid, e.event_type AS channel
                FROM e0 JOIN events e ON e.event_id = e0.eid),
       pu AS (SELECT e.user_id AS uid,
                max(CASE WHEN e.event_type = 'purchase'
                  AND e.value > $TwoPropValueCut THEN 1 ELSE 0 END) AS conv
              FROM events e GROUP BY 1),
       j AS (SELECT chan.channel, pu.conv,
               CAST(('0x' || substr(md5(CAST(pu.uid AS VARCHAR)), 1, 1))
                 AS INT) < 8 AS treat
             FROM pu JOIN chan ON chan.uid = pu.uid)"""

  def qSimpsonFlip(s: SparkSession, dir: String): DataFrame = {
    val perUser = channelConvArms(s, dir)
    val ch = perUser.groupBy("channel")
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treat"), col("conv")).otherwise(0L)).as("c_t"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col("treat"), col("conv")).otherwise(0L)).as("c_c"))
    val tot = ch.agg(sum(col("n_t")).as("tn_t"), sum(col("c_t")).as("tc_t"),
      sum(col("n_c")).as("tn_c"), sum(col("c_c")).as("tc_c"))
    val gapCh = when(col("n_t") > 0 && col("n_c") > 0,
      col("c_t").cast("double") / col("n_t") -
        col("c_c").cast("double") / col("n_c"))
    val gapAll = col("tc_t").cast("double") / col("tn_t") -
      col("tc_c").cast("double") / col("tn_c")
    ch.crossJoin(tot)
      .select(col("channel"), col("n_t"), col("n_c"),
        round(gapCh, 6).as("gap_channel"),
        round(gapAll, 6).as("gap_overall"),
        ((gapCh > 0 && gapAll < 0) || (gapCh < 0 && gapAll > 0))
          .as("simpson_flip"))
  }

  private lazy val qSimpsonFlipSql =
    s"""WITH $channelConvArmsCtes,
       ch AS (SELECT channel,
                CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
                CAST(sum(CASE WHEN treat THEN conv ELSE 0 END) AS BIGINT) AS c_t,
                CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
                CAST(sum(CASE WHEN NOT treat THEN conv ELSE 0 END) AS BIGINT) AS c_c
              FROM j GROUP BY 1),
       tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS tn_t,
                 CAST(sum(c_t) AS BIGINT) AS tc_t,
                 CAST(sum(n_c) AS BIGINT) AS tn_c,
                 CAST(sum(c_c) AS BIGINT) AS tc_c
               FROM ch),
       sc AS (SELECT channel, n_t, n_c,
                CASE WHEN n_t > 0 AND n_c > 0 THEN
                  CAST(c_t AS DOUBLE) / n_t - CAST(c_c AS DOUBLE) / n_c
                  END AS gap_ch,
                CAST(tc_t AS DOUBLE) / tn_t - CAST(tc_c AS DOUBLE) / tn_c
                  AS gap_all
              FROM ch CROSS JOIN tot)
       SELECT channel, n_t, n_c,
         round(gap_ch, 6) AS gap_channel,
         round(gap_all, 6) AS gap_overall,
         (gap_ch > 0 AND gap_all < 0) OR (gap_ch < 0 AND gap_all > 0)
           AS simpson_flip
       FROM sc"""

  /** q_cmh: Cochran–Mantel–Haenszel stratified 2×2 association — the
    * ANSWER to the trap q_simpson_flip detects (when subgroup gaps
    * contradict the aggregate, the aggregate is confounded by channel
    * mix; CMH pools the per-stratum treatment↔conversion association
    * WITHOUT collapsing the strata): per channel the 2×2 cells
    * (a,b,c,d), the MH common odds ratio Σ(a·d/n)/Σ(b·c/n), and the CMH
    * χ²(1df) (Σa − ΣE)²/ΣV with E = (a+b)(a+c)/n and
    * V = (a+b)(c+d)(a+c)(b+d)/(n²(n−1)), against the pinned
    * [[SrmChiCrit]]. Shares [[channelConvArms]] with q_simpson_flip
    * (byte-identical oracle CTEs). Cells are exact integers; E/V terms
    * are single mirrored double expressions; the three stratum sums fold
    * channel-ordered bounded arrays; one-user strata are excluded
    * identically (V's n−1 would divide by zero under ANSI). */
  def qCmh(s: SparkSession, dir: String): DataFrame = {
    val cells = channelConvArms(s, dir).groupBy("channel")
      .agg(sum(when(col("treat") && col("conv") === 1L, 1L).otherwise(0L))
        .as("a"),
        sum(when(!col("treat") && col("conv") === 1L, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("treat") && col("conv") === 0L, 1L).otherwise(0L))
          .as("c"),
        sum(when(!col("treat") && col("conv") === 0L, 1L).otherwise(0L))
          .as("d"))
      .select(col("*"), (col("a") + col("b") + col("c") + col("d")).as("n"))
      .filter(col("n") >= 2)
    def fold(term: Column, name: String) =
      aggregate(transform(array_sort(collect_list(struct(col("channel"),
        term.as("t")))), r => r.getField("t")), lit(0.0), (x, t) => x + t)
        .as(name)
    val nD = col("n").cast("double")
    val m = cells.groupBy()
      .agg(count(lit(1)).as("k_strata"), sum(col("a")).as("sum_a"),
        fold(col("a").cast("double") * col("d") / nD, "num"),
        fold(col("b").cast("double") * col("c") / nD, "den"),
        fold((col("a") + col("b")).cast("double") * (col("a") + col("c"))
          / nD, "se"),
        fold((col("a") + col("b")).cast("double") * (col("c") + col("d"))
          * (col("a") + col("c")) * (col("b") + col("d"))
          / (nD * nD * (nD - 1.0)), "sv"))
    val chi2 = (col("sum_a").cast("double") - col("se")) *
      (col("sum_a").cast("double") - col("se")) / col("sv")
    m.select(col("k_strata"), col("sum_a"),
      when(col("den") > 0, round(col("num") / col("den"), 6)).as("or_cmh"),
      when(col("sv") > 0, round(chi2, 6)).as("chi2"),
      when(col("sv") > 0, chi2 > SrmChiCrit).as("significant"))
  }

  private lazy val qCmhSql =
    s"""WITH $channelConvArmsCtes,
       cells AS (SELECT channel,
           CAST(sum(CASE WHEN treat AND conv = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS a,
           CAST(sum(CASE WHEN NOT treat AND conv = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS b,
           CAST(sum(CASE WHEN treat AND conv = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS c,
           CAST(sum(CASE WHEN NOT treat AND conv = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS d
         FROM j GROUP BY 1),
       cn AS (SELECT *, a + b + c + d AS n FROM cells
              WHERE a + b + c + d >= 2),
       m AS (SELECT CAST(count(*) AS BIGINT) AS k_strata,
               CAST(sum(a) AS BIGINT) AS sum_a,
               list_sum(list(CAST(a AS DOUBLE) * d / CAST(n AS DOUBLE)
                 ORDER BY channel)) AS num,
               list_sum(list(CAST(b AS DOUBLE) * c / CAST(n AS DOUBLE)
                 ORDER BY channel)) AS den,
               list_sum(list(CAST(a + b AS DOUBLE) * (a + c)
                 / CAST(n AS DOUBLE) ORDER BY channel)) AS se,
               list_sum(list(CAST(a + b AS DOUBLE) * (c + d) * (a + c)
                 * (b + d) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   * (CAST(n AS DOUBLE) - 1.0)) ORDER BY channel)) AS sv
             FROM cn)
       SELECT k_strata, sum_a,
         CASE WHEN den > 0 THEN round(num / den, 6) END AS or_cmh,
         CASE WHEN sv > 0 THEN
           round((CAST(sum_a AS DOUBLE) - se) * (CAST(sum_a AS DOUBLE) - se)
             / sv, 6) END AS chi2,
         CASE WHEN sv > 0 THEN
           (CAST(sum_a AS DOUBLE) - se) * (CAST(sum_a AS DOUBLE) - se) / sv
             > $SrmChiCrit END AS significant
       FROM m"""

  /** q_meta_fixed: fixed-effect (inverse-variance) meta-analysis of the
    * per-channel treatment effects — the experimentation ROLL-UP
    * operator (q_simpson_flip warns when the naive aggregate lies; CMH
    * pools association for 2×2 tables; this pools the EFFECT SIZES the
    * way a meta-analysis or a multi-market experiment readout does,
    * and reports whether pooling was even legitimate): per channel the
    * rate gap θᵢ = p_t − p_c with variance vᵢ = p_t(1−p_t)/n_t +
    * p_c(1−p_c)/n_c, weights w = 1/v, pooled θ̄ = Σwθ/Σw,
    * SE = √(1/Σw), and Cochran's heterogeneity Q = Σwθ² − (Σwθ)²/Σw
    * (the one-pass identity — no second sweep at θ̄) with
    * I² = max(0, (Q−(k−1))/Q). Channels missing an arm or with
    * degenerate variance leave identically; the three sums fold
    * channel-ordered bounded arrays; every rate/variance is one
    * mirrored expression over exact integers. */
  def qMetaFixed(s: SparkSession, dir: String): DataFrame = {
    val ch = channelConvArms(s, dir).groupBy("channel")
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treat"), col("conv")).otherwise(0L)).as("c_t"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col("treat"), col("conv")).otherwise(0L)).as("c_c"))
      .filter(col("n_t") > 0 && col("n_c") > 0)
    val pt = col("c_t").cast("double") / col("n_t")
    val pc = col("c_c").cast("double") / col("n_c")
    val v = pt * (lit(1.0) - pt) / col("n_t") +
      pc * (lit(1.0) - pc) / col("n_c")
    val scored = ch.select(col("channel"), (pt - pc).as("theta"), v.as("v"))
      .filter(col("v") > 0)
    def fold(term: Column, name: String) =
      aggregate(transform(array_sort(collect_list(struct(col("channel"),
        term.as("t")))), r => r.getField("t")), lit(0.0), (a, t) => a + t)
        .as(name)
    val m = scored.groupBy().agg(count(lit(1)).as("k"),
      fold(lit(1.0) / col("v"), "sw"),
      fold(col("theta") / col("v"), "swt"),
      fold(col("theta") * col("theta") / col("v"), "swt2"))
    val theta = col("swt") / col("sw")
    val q = col("swt2") - col("swt") * col("swt") / col("sw")
    val z = (col("swt") / col("sw")) / sqrt(lit(1.0) / col("sw"))
    m.select(col("k"), round(theta, 6).as("theta_fixed"),
      round(sqrt(lit(1.0) / col("sw")), 6).as("se"),
      round(z, 6).as("z"),
      round(q, 6).as("q_het"),
      when(q > 0, round(greatest((q - (col("k") - 1).cast("double")) / q,
        lit(0.0)), 6)).otherwise(lit(0.0)).as("i2"),
      (abs(z) > AaZCrit).as("significant"))
  }

  private lazy val qMetaFixedSql =
    s"""WITH $channelConvArmsCtes,
       ch AS (SELECT channel,
           CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
           CAST(sum(CASE WHEN treat THEN conv ELSE 0 END) AS BIGINT) AS c_t,
           CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
           CAST(sum(CASE WHEN NOT treat THEN conv ELSE 0 END) AS BIGINT)
             AS c_c
         FROM j GROUP BY 1
         HAVING sum(CASE WHEN treat THEN 1 ELSE 0 END) > 0
           AND sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) > 0),
       sc AS (SELECT channel,
           CAST(c_t AS DOUBLE) / n_t - CAST(c_c AS DOUBLE) / n_c AS theta,
           CAST(c_t AS DOUBLE) / n_t * (1.0 - CAST(c_t AS DOUBLE) / n_t)
             / n_t
           + CAST(c_c AS DOUBLE) / n_c * (1.0 - CAST(c_c AS DOUBLE) / n_c)
             / n_c AS v
         FROM ch),
       f AS (SELECT channel, theta, v FROM sc WHERE v > 0),
       m AS (SELECT CAST(count(*) AS BIGINT) AS k,
           list_sum(list(1.0 / v ORDER BY channel)) AS sw,
           list_sum(list(theta / v ORDER BY channel)) AS swt,
           list_sum(list(theta * theta / v ORDER BY channel)) AS swt2
         FROM f)
       SELECT k,
         round(swt / sw, 6) AS theta_fixed,
         round(sqrt(1.0 / sw), 6) AS se,
         round((swt / sw) / sqrt(1.0 / sw), 6) AS z,
         round(swt2 - swt * swt / sw, 6) AS q_het,
         CASE WHEN swt2 - swt * swt / sw > 0 THEN
             round(greatest((swt2 - swt * swt / sw
               - CAST(k - 1 AS DOUBLE)) / (swt2 - swt * swt / sw), 0.0), 6)
           ELSE 0.0 END AS i2,
         abs((swt / sw) / sqrt(1.0 / sw)) > $AaZCrit AS significant
       FROM m"""

  /** Critical value for [[qAaTest]]'s pairwise |z| flags (two-sided 5%,
    * the q_srm pin). */
  val AaZCrit = 1.959964

  /** q_aa_test: A/A calibration panel — the check an experimentation
    * platform runs to certify its OWN plumbing before any real A/B is
    * trusted (q_srm checks the split sizes; this checks the METRIC
    * pipeline: under the null, pairwise tests between pseudo-arms must
    * trip at ≈ the nominal rate, and a platform that can't reproduce 5%
    * here has a variance, interference, or assignment bug): users are
    * split into 16 pseudo-arms by md5 nibble 2 — INDEPENDENT of nibble
    * 1, the real-arm split every q_ab_* member uses — and all 120 arm
    * pairs get a Welch z on per-user spend. Sums are exact DECIMAL /
    * integer, each variance is one mirrored expression of exact inputs,
    * and the flag compares |z| to the pinned [[AaZCrit]]. One user
    * aggregate → 16-row arm table → bounded pair join. */
  def qAaTest(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,6)")).as("y"))
      .select(col("y"),
        conv(substring(md5(col("user_id").cast("string")), 2, 1), 16, 10)
          .cast("int").as("arm"))
    // a one-user pseudo-arm has no variance estimate (and divides by
    // zero under ANSI); it simply doesn't participate in the panel
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"))
      .filter(col("n") >= 2)
    def vOver(sfx: String) = {
      val n = col(s"n_$sfx").cast("double")
      (col(s"n_$sfx") * col(s"syy_$sfx") - col(s"sy_$sfx") * col(s"sy_$sfx"))
        .cast("double") / (n * (n - 1.0)) / n
    }
    // a degenerate zero-variance pair would DIVIDE_BY_ZERO under ANSI;
    // it has no test statistic — NULL identically in both engines
    val z = when(vOver("a") + vOver("b") > 0,
      (col("sy_a").cast("double") / col("n_a") -
        col("sy_b").cast("double") / col("n_b")) /
        sqrt(vOver("a") + vOver("b")))
    arms.select(col("arm").as("arm_a"), col("n").as("n_a"),
        col("sy").as("sy_a"), col("syy").as("syy_a"))
      .join(arms.select(col("arm").as("arm_b"), col("n").as("n_b"),
        col("sy").as("sy_b"), col("syy").as("syy_b")),
        col("arm_a") < col("arm_b"))
      .select(col("arm_a"), col("arm_b"), col("n_a"), col("n_b"),
        round(z, 6).as("z"), (abs(z) > AaZCrit).as("false_positive"))
  }

  private lazy val qAaTestSql =
    s"""WITH u AS (SELECT user_id,
           sum(CAST(value AS DECIMAL(18,6))) AS y,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) AS INT)
             AS arm
         FROM events GROUP BY user_id),
       arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n, sum(y) AS sy,
                  sum(y * y) AS syy
                FROM u GROUP BY arm HAVING count(*) >= 2),
       v AS (SELECT arm, n, sy,
               CAST(n * syy - sy * sy AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                 / CAST(n AS DOUBLE) AS vo
             FROM arms),
       pr AS (SELECT a.arm AS arm_a, b.arm AS arm_b,
                a.n AS n_a, b.n AS n_b,
                CASE WHEN a.vo + b.vo > 0 THEN
                  (CAST(a.sy AS DOUBLE) / a.n - CAST(b.sy AS DOUBLE) / b.n)
                  / sqrt(a.vo + b.vo) END AS z
              FROM v a JOIN v b ON a.arm < b.arm)
       SELECT arm_a, arm_b, n_a, n_b, round(z, 6) AS z,
         abs(z) > $AaZCrit AS false_positive
       FROM pr"""

  /** q_iv_wald: instrumental-variable (Wald / one-instrument 2SLS) LATE
    * estimator — the causal-family member the adjustment designs can't
    * replace (q_did nets out time trends, q_cuped nets out pre-period
    * variance, q_treat/q_qte read intention-to-treat effects; the Wald
    * ratio answers the EFFECT-OF-TREATMENT-ON-COMPLIERS question when
    * the randomized assignment only ENCOURAGES the behavior): the md5
    * arm is the instrument z, a qualifying purchase (value >
    * [[TwoPropValueCut]]) is the endogenous treatment x, total user
    * spend is the outcome y, and LATE = (ȳ₁−ȳ₀)/(x̄₁−x̄₀) =
    * ITT / first-stage (Angrist–Imbens–Rubin). One user aggregate →
    * 2-row arm table; every mean is one division of an exact DECIMAL /
    * integer sum and the ratio is mirrored op-for-op; a degenerate
    * first stage (identical compliance) NULLs identically in both
    * engines. */
  def qIvWald(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,6)")).as("y"),
        max(when(col("event_type") === "purchase" &&
          col("value") > TwoPropValueCut, 1L).otherwise(0L)).as("x"))
      .select(col("y"), col("x"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("z"))
    val arms = perUser.groupBy("z")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("x")).as("sx"))
    val wide = arms.filter(col("z"))
      .select(col("n").as("n1"), col("sy").as("sy1"), col("sx").as("sx1"))
      .crossJoin(arms.filter(!col("z"))
        .select(col("n").as("n0"), col("sy").as("sy0"), col("sx").as("sx0")))
    val itt = col("sy1").cast("double") / col("n1") -
      col("sy0").cast("double") / col("n0")
    val fs = col("sx1").cast("double") / col("n1") -
      col("sx0").cast("double") / col("n0")
    wide.select(col("n1"), col("n0"),
      round(col("sx1").cast("double") / col("n1"), 6).as("compl_treat"),
      round(col("sx0").cast("double") / col("n0"), 6).as("compl_control"),
      round(itt, 6).as("itt"), round(fs, 6).as("first_stage"),
      when(fs =!= 0.0, round(itt / fs, 6)).as("late"))
  }

  private lazy val qIvWaldSql =
    s"""WITH u AS (SELECT user_id,
           sum(CAST(value AS DECIMAL(18,6))) AS y,
           max(CASE WHEN event_type = 'purchase' AND value > $TwoPropValueCut
             THEN 1 ELSE 0 END) AS x,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT)
             < 8 AS z
         FROM events GROUP BY user_id),
       arms AS (SELECT z, CAST(count(*) AS BIGINT) AS n, sum(y) AS sy,
                  CAST(sum(x) AS BIGINT) AS sx
                FROM u GROUP BY z),
       w AS (SELECT a.n AS n1, a.sy AS sy1, a.sx AS sx1,
               b.n AS n0, b.sy AS sy0, b.sx AS sx0
             FROM arms a CROSS JOIN arms b WHERE a.z AND NOT b.z)
       SELECT n1, n0,
         round(CAST(sx1 AS DOUBLE) / n1, 6) AS compl_treat,
         round(CAST(sx0 AS DOUBLE) / n0, 6) AS compl_control,
         round(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0, 6) AS itt,
         round(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0, 6)
           AS first_stage,
         CASE WHEN CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0 <> 0.0
           THEN round((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
             / (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0), 6) END
           AS late
       FROM w"""

  def qDid(s: SparkSession, dir: String): DataFrame = {
    val perUserPeriod = Tables.events(s, dir)
      .select(col("user_id"),
        when(date_format(col("ts"), "yyyy-MM-dd") <= CupedSplitDay, "pre")
          .otherwise("post").as("period"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("user_id", "period").agg(sum(col("v")).as("y"))
      .select(col("period"), col("y"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("treat"))
    val cells = perUserPeriod.groupBy("treat", "period")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"))
    def cell(t: Boolean, p: String, suffix: String) =
      cells.filter(col("treat") === t && col("period") === p)
        .select(col("n").as(s"n_$suffix"), col("sy").as(s"sy_$suffix"),
          col("syy").as(s"syy_$suffix"))
    val wide = cell(true, "post", "tp").crossJoin(cell(true, "pre", "tr"))
      .crossJoin(cell(false, "post", "cp")).crossJoin(cell(false, "pre", "cr"))
    def mean(sfx: String) = col(s"sy_$sfx").cast("double") / col(s"n_$sfx")
    def se2(sfx: String) = {
      val n = col(s"n_$sfx").cast("double")
      (col(s"n_$sfx") * col(s"syy_$sfx") - col(s"sy_$sfx") * col(s"sy_$sfx"))
        .cast("double") / (n * (n - 1.0)) / n
    }
    val delta = (mean("tp") - mean("tr")) - (mean("cp") - mean("cr"))
    val se = sqrt(se2("tp") + se2("tr") + se2("cp") + se2("cr"))
    wide.select(
      round(mean("tp"), 6).as("mean_t_post"), round(mean("tr"), 6).as("mean_t_pre"),
      round(mean("cp"), 6).as("mean_c_post"), round(mean("cr"), 6).as("mean_c_pre"),
      round(delta, 6).as("did"), round(se, 6).as("se"),
      round(delta / se, 6).as("z"), (abs(delta / se) >= lit(WilsonZ)).as("significant"))
  }

  private lazy val qDidSql =
    s"""WITH pup AS (
         SELECT user_id,
           CASE WHEN strftime(ts, '%Y-%m-%d') <= '$CupedSplitDay'
             THEN 'pre' ELSE 'post' END AS period,
           sum(CAST(value AS DECIMAL(18,6))) AS y
         FROM events GROUP BY 1, 2),
       pt AS (SELECT period, y,
                CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT) < 8 AS treat
              FROM pup),
       cells AS (SELECT treat, period, CAST(count(*) AS BIGINT) AS n,
                   sum(y) AS sy, sum(y * y) AS syy
                 FROM pt GROUP BY 1, 2),
       wide AS (SELECT
           tp.n AS n_tp, tp.sy AS sy_tp, tp.syy AS syy_tp,
           tr.n AS n_tr, tr.sy AS sy_tr, tr.syy AS syy_tr,
           cp.n AS n_cp, cp.sy AS sy_cp, cp.syy AS syy_cp,
           cr.n AS n_cr, cr.sy AS sy_cr, cr.syy AS syy_cr
         FROM (SELECT * FROM cells WHERE treat AND period = 'post') tp
         CROSS JOIN (SELECT * FROM cells WHERE treat AND period = 'pre') tr
         CROSS JOIN (SELECT * FROM cells WHERE NOT treat AND period = 'post') cp
         CROSS JOIN (SELECT * FROM cells WHERE NOT treat AND period = 'pre') cr),
       e AS (SELECT
           CAST(sy_tp AS DOUBLE) / n_tp AS m_tp, CAST(sy_tr AS DOUBLE) / n_tr AS m_tr,
           CAST(sy_cp AS DOUBLE) / n_cp AS m_cp, CAST(sy_cr AS DOUBLE) / n_cr AS m_cr,
           CAST(n_tp * syy_tp - sy_tp * sy_tp AS DOUBLE)
             / (CAST(n_tp AS DOUBLE) * (CAST(n_tp AS DOUBLE) - 1.0)) / CAST(n_tp AS DOUBLE) AS v_tp,
           CAST(n_tr * syy_tr - sy_tr * sy_tr AS DOUBLE)
             / (CAST(n_tr AS DOUBLE) * (CAST(n_tr AS DOUBLE) - 1.0)) / CAST(n_tr AS DOUBLE) AS v_tr,
           CAST(n_cp * syy_cp - sy_cp * sy_cp AS DOUBLE)
             / (CAST(n_cp AS DOUBLE) * (CAST(n_cp AS DOUBLE) - 1.0)) / CAST(n_cp AS DOUBLE) AS v_cp,
           CAST(n_cr * syy_cr - sy_cr * sy_cr AS DOUBLE)
             / (CAST(n_cr AS DOUBLE) * (CAST(n_cr AS DOUBLE) - 1.0)) / CAST(n_cr AS DOUBLE) AS v_cr
         FROM wide)
       SELECT round(m_tp, 6) AS mean_t_post, round(m_tr, 6) AS mean_t_pre,
         round(m_cp, 6) AS mean_c_post, round(m_cr, 6) AS mean_c_pre,
         round((m_tp - m_tr) - (m_cp - m_cr), 6) AS did,
         round(sqrt(v_tp + v_tr + v_cp + v_cr), 6) AS se,
         round(((m_tp - m_tr) - (m_cp - m_cr)) / sqrt(v_tp + v_tr + v_cp + v_cr), 6) AS z,
         abs(((m_tp - m_tr) - (m_cp - m_cr)) / sqrt(v_tp + v_tr + v_cp + v_cr))
           >= $WilsonZ AS significant
       FROM e"""

  /** q_logrank: two-sample log-rank test — the survival-family
    * significance test beside q_kaplan_meier's descriptive curve: does
    * time-to-first-premium-purchase differ between the md5 arms? Emitted
    * PER EVENT-DAY (the q_mutual_info rule): each day's at-risk counts
    * (n1t, n2t), deaths (d1t, d2t), expected deaths e1t = dt·n1t/nt and
    * the hypergeometric variance term — every column a fixed double
    * expression over exact integers, no cross-day fp sum in the gate
    * (the spec assembles z = Σ(d1−e1)/√Σvar locally). At-risk counts
    * come from one cumulative window over the day-bounded event-time
    * table. Censoring: users with no premium purchase carry
    * t = (last observed event day + 1) and event=0 — they leave the
    * risk set after every real event time. Both the epoch and the
    * censoring horizon are DERIVED from the data (min/max event date,
    * one 1-row broadcast agg, the identical expression in the oracle
    * SQL) — never calendar literals, so a regenerated corpus with a
    * longer window can't silently push censored users out of the risk
    * set before real event times. */
  def qLogrank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = Tables.events(s, dir)
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
    val firstPrem = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "purchase" &&
          col("value") > TwoPropValueCut,
        date_format(col("ts"), "yyyy-MM-dd"))).as("first_day"))
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
        when(col("first_day").isNotNull,
          (datediff(col("first_day").cast("date"), col("d0")) + 1))
          .otherwise(datediff(col("d1"), col("d0")) + 2).cast("int").as("t"),
        col("first_day").isNotNull.as("event"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("treat"))
    val perDay = firstPrem.groupBy("t")
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("enter1"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("enter2"),
        sum(when(col("treat") && col("event"), 1L).otherwise(0L)).as("d1"),
        sum(when(!col("treat") && col("event"), 1L).otherwise(0L)).as("d2"))
    val tot = firstPrem.agg(
      sum(when(col("treat"), 1L).otherwise(0L)).as("tot1"),
      sum(when(!col("treat"), 1L).otherwise(0L)).as("tot2"))
    val wCum = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val n1 = col("tot1") - coalesce(sum(col("enter1")).over(wCum), lit(0L))
    val n2 = col("tot2") - coalesce(sum(col("enter2")).over(wCum), lit(0L))
    val base = perDay.crossJoin(broadcast(tot))
      .withColumn("n1t", n1).withColumn("n2t", n2)
      .filter(col("d1") + col("d2") > 0)
    val nt = (col("n1t") + col("n2t")).cast("double")
    val dt = (col("d1") + col("d2")).cast("double")
    val e1 = dt * col("n1t") / nt
    val varT = dt * (col("n1t").cast("double") / nt) *
      (col("n2t").cast("double") / nt) * ((nt - dt) / (nt - 1.0))
    base.select(col("t"), col("n1t"), col("n2t"), col("d1"), col("d2"),
      round(e1, 6).as("e1"), round(varT, 6).as("var_t"))
  }

  /** q_weighted_logrank: the weighted-log-rank FAMILY over q_logrank's
    * risk table — three tests in one panel (Fleming–Harrington G-rho
    * members): w=1 is the plain log-rank (late differences weigh the
    * same as early), w=n_t is Gehan–Breslow–Wilcoxon (EARLY differences
    * dominate — the test to run when a treatment's effect fades), and
    * w=√n_t is Tarone–Ware (the compromise). Z_w = Σw(d₁−E₁)/√(Σw²V).
    * Consumes the SAME risk table q_logrank emits (the oracle embeds
    * q_logrank's SQL as a subquery, so the substrate is byte-identical
    * by construction) and re-derives E₁/V from the table's EXACT integer
    * columns rather than its rounded display columns; weights are
    * integer-or-√integer (IEEE-exact); the two sums fold the t-ordered
    * bounded array per test. The log-rank member doubles as a
    * consistency anchor: its Z² is q_cox's score test at β=0. */
  def qWeightedLogrank(s: SparkSession, dir: String): DataFrame = {
    // nt > 1 filter: the variance factor (nt−dt)/(nt−1) is 0/0 at nt=1 —
    // Spark folds the NaN through + while DuckDB's NULL is SKIPPED by
    // list_sum, so the summed term sets would differ. The nt=1 row
    // carries zero information anyway (u = 0, V undefined); both engines
    // drop it before the fold.
    val rt = qLogrank(s, dir)
      .select(col("t"), col("n1t"), col("n2t"), col("d1"), col("d2"))
      .filter(col("n1t") + col("n2t") > 1)
    val nt = (col("n1t") + col("n2t")).cast("double")
    val dt = (col("d1") + col("d2")).cast("double")
    val e1 = dt * col("n1t") / nt
    val v = dt * (col("n1t").cast("double") / nt) *
      (col("n2t").cast("double") / nt) * ((nt - dt) / (nt - 1.0))
    val w = when(col("test") === "logrank", lit(1.0))
      .when(col("test") === "gehan", nt)
      .otherwise(sqrt(nt))
    val terms = rt
      .crossJoin(s.range(1).select(explode(array(lit("logrank"),
        lit("gehan"), lit("tarone_ware"))).as("test")))
      .select(col("test"), col("t"),
        (w * (col("d1").cast("double") - e1)).as("u"),
        (w * w * v).as("wv"))
    def fold(term: Column, name: String) =
      aggregate(transform(array_sort(collect_list(struct(col("t"),
        term.as("x")))), r => r.getField("x")), lit(0.0), (a, x) => a + x)
        .as(name)
    val agg = terms.groupBy("test")
      .agg(fold(col("u"), "su"), fold(col("wv"), "sv"))
    val z = col("su") / sqrt(col("sv"))
    agg.select(col("test"),
      when(col("sv") > 0, round(z, 6)).as("z"),
      when(col("sv") > 0, round(z * z, 6)).as("chi2"),
      when(col("sv") > 0, abs(z) > AaZCrit).as("significant"))
  }

  private lazy val qWeightedLogrankSql =
    s"""WITH rt AS (SELECT t, n1t, n2t, d1, d2 FROM ($qLogrankSql)
           WHERE n1t + n2t > 1),
       terms AS (SELECT tst.test, rt.t,
           CASE WHEN tst.test = 'logrank' THEN 1.0
                WHEN tst.test = 'gehan' THEN CAST(rt.n1t + rt.n2t AS DOUBLE)
                ELSE sqrt(CAST(rt.n1t + rt.n2t AS DOUBLE)) END
             * (CAST(rt.d1 AS DOUBLE)
               - CAST(rt.d1 + rt.d2 AS DOUBLE) * rt.n1t
                 / CAST(rt.n1t + rt.n2t AS DOUBLE)) AS u,
           CASE WHEN tst.test = 'logrank' THEN 1.0
                WHEN tst.test = 'gehan' THEN CAST(rt.n1t + rt.n2t AS DOUBLE)
                ELSE sqrt(CAST(rt.n1t + rt.n2t AS DOUBLE)) END
           * CASE WHEN tst.test = 'logrank' THEN 1.0
                WHEN tst.test = 'gehan' THEN CAST(rt.n1t + rt.n2t AS DOUBLE)
                ELSE sqrt(CAST(rt.n1t + rt.n2t AS DOUBLE)) END
           * (CAST(rt.d1 + rt.d2 AS DOUBLE)
             * (CAST(rt.n1t AS DOUBLE) / CAST(rt.n1t + rt.n2t AS DOUBLE))
             * (CAST(rt.n2t AS DOUBLE) / CAST(rt.n1t + rt.n2t AS DOUBLE))
             * ((CAST(rt.n1t + rt.n2t AS DOUBLE)
               - CAST(rt.d1 + rt.d2 AS DOUBLE))
               / (CAST(rt.n1t + rt.n2t AS DOUBLE) - 1.0))) AS wv
         FROM rt CROSS JOIN (SELECT unnest(['logrank', 'gehan',
           'tarone_ware']) AS test) tst),
       agg AS (SELECT test,
           list_sum(list(u ORDER BY t)) AS su,
           list_sum(list(wv ORDER BY t)) AS sv
         FROM terms GROUP BY 1)
       SELECT test,
         CASE WHEN sv > 0 THEN round(su / sqrt(sv), 6) END AS z,
         CASE WHEN sv > 0 THEN
           round((su / sqrt(sv)) * (su / sqrt(sv)), 6) END AS chi2,
         CASE WHEN sv > 0 THEN abs(su / sqrt(sv)) > $AaZCrit END
           AS significant
       FROM agg"""

  /** χ²(1df) critical value at α = 0.05 for [[qSrm]] (pinned constant,
    * the KruskalChiCrit convention). */
  val SrmChiCrit = 3.841459

  /** Max lag of [[qAcf]] — one week of daily lags, the q_ljung_box
    * horizon. */
  val AcfMaxLag = 7

  /** q_acf: the autocorrelation function at lags 1..[[AcfMaxLag]] per
    * event type — the PER-LAG diagnostic panel between 59s's single lag-1
    * coefficient and 66l's all-lags-pooled Ljung–Box statistic (the
    * portmanteau says "some lag is alive"; this says WHICH — a spike at
    * 7 is weekly seasonality, at 1 momentum). Daily totals from exact
    * decimal sums; the mean is one exact sum divided once; every
    * numerator/denominator folds the SORTED calendar-bounded day array
    * (k-bounded ordered-fold rule); lead() runs in ONE type-keyed window
    * pass for all 7 lags. NULL acf where the denominator degenerates. */
  /** The (event_type, n_days, den, num1..numK) autocovariance aggregate
    * shared by [[qAcf]] and [[qPacf]]. */
  private def acfAgg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).as("yd"))
    val m = daily.groupBy("event_type")
      .agg((sum(col("yd")).cast("double") /
        count(lit(1)).cast("double")).as("ybar"), count(lit(1)).as("n_days"))
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val led = daily.select(col("event_type"), col("day"),
      col("yd").cast("double").as("y"))
      .select(col("*") +:
        (1 to AcfMaxLag).map(k => lead(col("y"), k).over(w).as(s"y$k")): _*)
      .join(m, Seq("event_type"))
    def fold(term: Column, name: String) =
      aggregate(array_sort(collect_list(struct(col("day"), term.as("x")))),
        lit(0.0), (acc, r) => acc + r.getField("x")).as(name)
    val aggExprs =
      fold((col("y") - col("ybar")) * (col("y") - col("ybar")), "den") +:
        (1 to AcfMaxLag).map(k => fold(coalesce(
          (col("y") - col("ybar")) * (col(s"y$k") - col("ybar")), lit(0.0)),
          s"num$k"))
    led.groupBy("event_type", "n_days")
      .agg(aggExprs.head, aggExprs.tail: _*)
  }

  def qAcf(s: SparkSession, dir: String): DataFrame = {
    val agg = acfAgg(s, dir)
    agg.select(col("event_type"), col("n_days"), col("den"),
      posexplode(array((1 to AcfMaxLag).map(k => col(s"num$k")): _*))
        .as(Seq("i", "num")))
      .select(col("event_type"), (col("i") + 1).cast("int").as("lag"),
        col("n_days"),
        when(col("den") > 0.0, round(col("num") / col("den"), 6)).as("acf"))
  }

  /** The daily/led/agg CTE chain shared by qAcfSql and qPacfSql —
    * byte-identical autocovariance substrate for both oracles. */
  private lazy val acfAggCtes = {
    val numDefs = (1 to AcfMaxLag).map { k =>
      s"""list_sum(list(coalesce((y - ybar) * (y$k - ybar), 0.0)
           ORDER BY day)) AS num$k"""
    }.mkString(",\n           ")
    val leadDefs = (1 to AcfMaxLag).map { k =>
      s"lead(y, $k) OVER (PARTITION BY et ORDER BY day ASC) AS y$k"
    }.mkString(",\n           ")
    s"""daily AS (
         SELECT event_type AS et, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS yd
         FROM events GROUP BY 1, 2),
       m AS (SELECT et, CAST(sum(yd) AS DOUBLE) / count(*) AS ybar,
               CAST(count(*) AS BIGINT) AS n_days
             FROM daily GROUP BY et),
       led AS (SELECT daily.et, day, CAST(yd AS DOUBLE) AS y,
           $leadDefs
         FROM daily),
       agg AS (SELECT led.et, m.n_days,
           list_sum(list((y - ybar) * (y - ybar) ORDER BY day)) AS den,
           $numDefs
         FROM led JOIN m ON led.et = m.et
         GROUP BY led.et, m.n_days)"""
  }

  private lazy val qAcfSql = {
    val lags = (1 to AcfMaxLag).map { k =>
      s"""SELECT et AS event_type, $k AS lag, n_days,
         CASE WHEN den > 0.0 THEN round(num$k / den, 6) END AS acf
         FROM agg"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH $acfAggCtes,
       u AS ($lags)
       SELECT event_type, CAST(lag AS INT) AS lag, n_days, acf FROM u"""
  }

  /** q_pacf: partial autocorrelation function — the lag panel an ARIMA
    * modeler reads NEXT to q_acf (ACF tails off for AR processes; PACF
    * CUTS OFF at the AR order, which is how p is chosen): Durbin–Levinson
    * recursion over the same autocovariance ratios ρ₁..ρ₇ the gated ACF
    * emits — φ₁₁ = ρ₁, then per order m the reflection coefficient
    * k_m = (ρ_m − Σφ_{m−1,j}·ρ_{m−j})/v_{m−1}, φ-vector update and
    * v_m = v_{m−1}(1−k_m²); PACF(m) = φ_mm. The recursion carries a
    * φ LIST over lag steps — the same bounded fold ↔ recursive-CTE pair
    * as q_dtw, all +·/ arithmetic (no libm), list_sum-ordered inner
    * products, so the whole recursion hash-gates. The distributed work is
    * the one autocovariance aggregate (shared subtree with q_acf,
    * byte-identical oracle CTEs); the recursion is O(K²) on a
    * dimension-sized row. */
  def qPacf(s: SparkSession, dir: String): DataFrame = {
    val agg = acfAgg(s, dir)
    // den > 0 guard mirrors qAcf: a constant series (den = 0) must emit
    // NULL pacf in BOTH engines — unguarded, Spark's 0/0 is NaN while
    // DuckDB's is NULL. A NULL rho[1] makes v NULL, which forces every
    // reflection coefficient NULL regardless of list_sum NULL-skipping.
    val withRho = agg.select(col("event_type"), col("n_days"),
      array((1 to AcfMaxLag).map(k =>
        when(col("den") > 0.0, col(s"num$k") / col("den"))): _*)
        .as("rho"))
    val rho = col("rho")
    // state = (φ vector of the CURRENT order, v, out = the φ_mm DIAGONAL
    // collected so far) — PACF(m) is the diagonal across orders, NOT the
    // final AR(K) coefficient vector (Round17Spec's plain-Scala replay
    // caught exactly that confusion in the first cut)
    val zero = struct(array(element_at(rho, 1)).as("phi"),
      (lit(1.0) - element_at(rho, 1) * element_at(rho, 1)).as("v"),
      array(element_at(rho, 1)).as("out"))
    val folded = withRho.select(col("event_type"), col("n_days"),
      aggregate(sequence(lit(2), lit(AcfMaxLag)), zero, (acc, mm) => {
        val phi = acc.getField("phi")
        val v = acc.getField("v")
        val s1 = aggregate(transform(sequence(lit(1), mm - 1),
          j => element_at(phi, j) * element_at(rho, mm - j)),
          lit(0.0), (a, t) => a + t)
        val k = (element_at(rho, mm) - s1) / v
        struct(
          concat(transform(sequence(lit(1), mm - 1),
            j => element_at(phi, j) - k * element_at(phi, mm - j)),
            array(k)).as("phi"),
          (v * (lit(1.0) - k * k)).as("v"),
          concat(acc.getField("out"), array(k)).as("out"))
      }).getField("out").as("pacfs"))
    folded.select(col("event_type"), col("n_days"),
      posexplode(col("pacfs")).as(Seq("i", "p")))
      .select(col("event_type"), (col("i") + 1).cast("int").as("lag"),
        col("n_days"), round(col("p"), 6).as("pacf"))
  }

  private lazy val qPacfSql = {
    val rhoList = (1 to AcfMaxLag)
      .map(k => s"CASE WHEN den > 0.0 THEN num$k / den END").mkString(", ")
    s"""WITH RECURSIVE $acfAggCtes,
       r AS (SELECT et, n_days, [$rhoList] AS rho FROM agg),
       dl(et, n_days, rho, m, phi, v, pacfs) AS (
         SELECT et, n_days, rho, 1, [rho[1]], 1.0 - rho[1] * rho[1],
           [rho[1]]
         FROM r
         UNION ALL
         SELECT et, n_days, rho, m + 1,
           list_transform(range(1, m + 1),
             j -> phi[j] - k * phi[m + 1 - j]) || [k],
           v * (1.0 - k * k),
           pacfs || [k]
         FROM (SELECT et, n_days, rho, m, phi, v, pacfs,
                 (rho[m + 1] - list_sum(list_transform(range(1, m + 1),
                   j -> phi[j] * rho[m + 1 - j]))) / v AS k
               FROM dl WHERE m < $AcfMaxLag) t)
       SELECT et AS event_type, CAST(l.lag AS INT) AS lag, n_days,
         round(pacfs[l.lag], 6) AS pacf
       FROM dl CROSS JOIN
         (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS lag) l
       WHERE m = $AcfMaxLag"""
  }

  /** Forecast horizon of [[qArForecast]]. */
  val ArHorizon = 3

  /** q_ar_forecast: Yule–Walker AR(2) fit + [[ArHorizon]]-step forecast
    * per event type — the panel an ARIMA modeler reads AFTER q_acf/q_pacf
    * chose the order (the ACF says structure exists, the PACF says p;
    * this FITS the AR(p) and projects it): φ₁ = ρ₁(1−ρ₂)/(1−ρ₁²),
    * φ₂ = (ρ₂−ρ₁²)/(1−ρ₁²) from the SAME gated autocovariance aggregate
    * q_acf/q_pacf ride (byte-identical oracle CTEs), then the mean-
    * centered recursion x̂₁ = φ₁xₙ + φ₂xₙ₋₁, x̂ₕ = φ₁x̂ₕ₋₁ + φ₂x̂ₕ₋₂
    * unrolled for the fixed horizon — pure mirrored +·/ arithmetic, no
    * libm. The last two observations come from a 2-row-per-type ranked
    * window over the daily dimension. Degenerate guard: NULL forecasts
    * when den ≤ 0 or 1−ρ₁² = 0 (constant or perfectly lag-1-correlated
    * series), identical in both engines. Scale shape: the one
    * autocovariance scan is shared (memoizable subtree); everything
    * after runs on the type×day dimension. */
  def qArForecast(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = acfAgg(s, dir)
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).as("yd"))
    val w = Window.partitionBy("event_type").orderBy(col("day").desc)
    val lastTwo = daily.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy("event_type")
      .agg(max(when(col("rk") === 1, col("yd"))).cast("double").as("yn"),
        max(when(col("rk") === 2, col("yd"))).cast("double").as("yn1"))
    val ybar = (col("sum_yd").cast("double") / col("n_days").cast("double"))
    val withMean = daily.groupBy("event_type")
      .agg(sum(col("yd")).as("sum_yd"), count(lit(1)).as("n_days"))
      .select(col("event_type"), ybar.as("ybar"))
    val rho1 = col("num1") / col("den")
    val rho2 = col("num2") / col("den")
    val ok = col("den") > 0.0 && (lit(1.0) - rho1 * rho1) =!= 0.0
    val phi1 = (rho1 * (lit(1.0) - rho2)) / (lit(1.0) - rho1 * rho1)
    val phi2 = (rho2 - rho1 * rho1) / (lit(1.0) - rho1 * rho1)
    val base = agg.select(col("event_type"), col("n_days"),
        when(ok, phi1).as("phi1"), when(ok, phi2).as("phi2"))
      .join(lastTwo, Seq("event_type"))
      .join(withMean, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("phi1"), col("phi2"),
        (col("yn") - col("ybar")).as("xn"),
        (col("yn1") - col("ybar")).as("xn1"), col("ybar"))
    val f1 = col("phi1") * col("xn") + col("phi2") * col("xn1")
    val withF = base
      .withColumn("f1", f1)
      .withColumn("f2", col("phi1") * col("f1") + col("phi2") * col("xn"))
      .withColumn("f3", col("phi1") * col("f2") + col("phi2") * col("f1"))
    withF.select(col("event_type"), col("n_days"), col("ybar"),
        round(col("phi1"), 6).as("phi1"), round(col("phi2"), 6).as("phi2"),
        posexplode(array(col("f1"), col("f2"), col("f3"))).as(Seq("i", "f")))
      .select(col("event_type"), col("n_days"), col("phi1"), col("phi2"),
        (col("i") + 1).cast("int").as("h"),
        round(col("f") + col("ybar"), 6).as("forecast"))
  }

  private lazy val qArForecastSql =
    s"""WITH $acfAggCtes,
       lt AS (SELECT et, max(CASE WHEN rk = 1 THEN y END) AS yn,
                max(CASE WHEN rk = 2 THEN y END) AS yn1
              FROM (SELECT et, CAST(yd AS DOUBLE) AS y,
                      row_number() OVER (PARTITION BY et ORDER BY day DESC) AS rk
                    FROM daily) WHERE rk <= 2 GROUP BY et),
       mn AS (SELECT et, CAST(sum(yd) AS DOUBLE) / count(*) AS ybar
              FROM daily GROUP BY et),
       ph AS (SELECT agg.et, agg.n_days,
                CASE WHEN den > 0.0 AND 1.0 - (num1/den) * (num1/den) <> 0.0
                  THEN ((num1/den) * (1.0 - num2/den))
                    / (1.0 - (num1/den) * (num1/den)) END AS phi1,
                CASE WHEN den > 0.0 AND 1.0 - (num1/den) * (num1/den) <> 0.0
                  THEN ((num2/den) - (num1/den) * (num1/den))
                    / (1.0 - (num1/den) * (num1/den)) END AS phi2
              FROM agg),
       b AS (SELECT ph.et, ph.n_days, ph.phi1, ph.phi2,
               lt.yn - mn.ybar AS xn, lt.yn1 - mn.ybar AS xn1, mn.ybar
             FROM ph JOIN lt ON lt.et = ph.et JOIN mn ON mn.et = ph.et),
       f AS (SELECT *, phi1 * xn + phi2 * xn1 AS f1 FROM b),
       f2t AS (SELECT *, phi1 * f1 + phi2 * xn AS f2 FROM f),
       f3t AS (SELECT *, phi1 * f2 + phi2 * f1 AS f3 FROM f2t)
       SELECT et AS event_type, n_days, round(phi1, 6) AS phi1,
         round(phi2, 6) AS phi2, CAST(h.h AS INT) AS h,
         round(CASE h.h WHEN 1 THEN f1 WHEN 2 THEN f2 ELSE f3 END + ybar, 6)
           AS forecast
       FROM f3t CROSS JOIN (SELECT unnest([1, 2, 3]) AS h) h"""

  /** q_forecast_coherence: hierarchical-forecast reconciliation — the
    * question a metrics hierarchy forces once per-series forecasts exist
    * (69-family): does the SUM of the per-type AR(2) forecasts agree
    * with the AR(2) forecast of the TOTAL series? (They need not: AR is
    * not linear across aggregation, and the gap — the incoherence — is
    * what reconciliation methods distribute.) Bottom-up = the per-type
    * gated forecasts summed as exact decimals of their 6dp emissions
    * (5 types — but decimal sums stay order-free at any type count);
    * direct = the identical Yule–Walker machinery run on the summed
    * daily series (exact decimal daily totals, same guards); emits both
    * and the signed incoherence per horizon step. */
  def qForecastCoherence(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bottomUp = qArForecast(s, dir)
      .groupBy("h")
      .agg(sum(col("forecast").cast("decimal(18,6)")).cast("double")
        .as("f_bottom_up"))
    // the TOTAL series through the same machinery (one group)
    val daily = Tables.events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("day").agg(sum(col("v")).as("yd"))
    val m = daily.agg((sum(col("yd")).cast("double") /
      count(lit(1)).cast("double")).as("ybar"), count(lit(1)).as("n_days"))
    val w = Window.orderBy(col("day").asc)
    val led = daily.select(col("day"), col("yd").cast("double").as("y"))
      .select(col("*"), lead(col("y"), 1).over(w).as("y1"),
        lead(col("y"), 2).over(w).as("y2"))
      .crossJoin(broadcast(m))
    def fold(term: Column, name: String) =
      aggregate(array_sort(collect_list(struct(col("day"), term.as("x")))),
        lit(0.0), (acc, r) => acc + r.getField("x")).as(name)
    val agg = led.groupBy("n_days").agg(
      fold((col("y") - col("ybar")) * (col("y") - col("ybar")), "den"),
      fold(coalesce((col("y") - col("ybar")) * (col("y1") - col("ybar")),
        lit(0.0)), "num1"),
      fold(coalesce((col("y") - col("ybar")) * (col("y2") - col("ybar")),
        lit(0.0)), "num2"))
    val lastTwo = daily.withColumn("rk",
        row_number().over(Window.orderBy(col("day").desc)))
      .filter(col("rk") <= 2)
      .agg(max(when(col("rk") === 1, col("yd"))).cast("double").as("yn"),
        max(when(col("rk") === 2, col("yd"))).cast("double").as("yn1"))
    val ybarT = daily.agg((sum(col("yd")).cast("double") /
      count(lit(1)).cast("double")).as("ybar"))
    val rho1 = col("num1") / col("den")
    val rho2 = col("num2") / col("den")
    val ok = col("den") > 0.0 && (lit(1.0) - rho1 * rho1) =!= 0.0
    val direct = agg
      .select(when(ok, (rho1 * (lit(1.0) - rho2)) /
          (lit(1.0) - rho1 * rho1)).as("phi1"),
        when(ok, (rho2 - rho1 * rho1) / (lit(1.0) - rho1 * rho1)).as("phi2"))
      .crossJoin(lastTwo).crossJoin(ybarT)
      .select(col("phi1"), col("phi2"), col("ybar"),
        (col("yn") - col("ybar")).as("xn"), (col("yn1") - col("ybar")).as("xn1"))
      .withColumn("f1", col("phi1") * col("xn") + col("phi2") * col("xn1"))
      .withColumn("f2", col("phi1") * col("f1") + col("phi2") * col("xn"))
      .withColumn("f3", col("phi1") * col("f2") + col("phi2") * col("f1"))
      .select(posexplode(array(col("f1"), col("f2"), col("f3")))
        .as(Seq("i", "f")), col("ybar"))
      .select((col("i") + 1).cast("int").as("h"),
        round(col("f") + col("ybar"), 6).as("f_direct"))
    bottomUp.join(direct, Seq("h"))
      .select(col("h"), round(col("f_bottom_up"), 6).as("f_bottom_up"),
        col("f_direct"),
        round(col("f_bottom_up") - col("f_direct"), 6).as("incoherence"))
  }

  private lazy val qForecastCoherenceSql =
    s"""WITH bu AS (
         SELECT h, CAST(sum(CAST(forecast AS DECIMAL(18,6))) AS DOUBLE)
           AS f_bottom_up
         FROM ($qArForecastSql) GROUP BY h),
       dailyt AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS yd
         FROM events GROUP BY 1),
       mt AS (SELECT CAST(sum(yd) AS DOUBLE) / count(*) AS ybar,
               CAST(count(*) AS BIGINT) AS n_days FROM dailyt),
       ledt AS (SELECT day, CAST(yd AS DOUBLE) AS y,
           lead(CAST(yd AS DOUBLE), 1) OVER (ORDER BY day ASC) AS y1,
           lead(CAST(yd AS DOUBLE), 2) OVER (ORDER BY day ASC) AS y2
         FROM dailyt),
       aggt AS (SELECT
           list_sum(list((y - ybar) * (y - ybar) ORDER BY day)) AS den,
           list_sum(list(coalesce((y - ybar) * (y1 - ybar), 0.0)
             ORDER BY day)) AS num1,
           list_sum(list(coalesce((y - ybar) * (y2 - ybar), 0.0)
             ORDER BY day)) AS num2
         FROM ledt CROSS JOIN mt),
       ltt AS (SELECT max(CASE WHEN rk = 1 THEN y END) AS yn,
                max(CASE WHEN rk = 2 THEN y END) AS yn1
              FROM (SELECT CAST(yd AS DOUBLE) AS y,
                      row_number() OVER (ORDER BY day DESC) AS rk
                    FROM dailyt) WHERE rk <= 2),
       pht AS (SELECT
           CASE WHEN den > 0.0 AND 1.0 - (num1/den) * (num1/den) <> 0.0
             THEN ((num1/den) * (1.0 - num2/den))
               / (1.0 - (num1/den) * (num1/den)) END AS phi1,
           CASE WHEN den > 0.0 AND 1.0 - (num1/den) * (num1/den) <> 0.0
             THEN ((num2/den) - (num1/den) * (num1/den))
               / (1.0 - (num1/den) * (num1/den)) END AS phi2
         FROM aggt),
       bt AS (SELECT pht.phi1, pht.phi2, mt.ybar,
               ltt.yn - mt.ybar AS xn, ltt.yn1 - mt.ybar AS xn1
             FROM pht CROSS JOIN ltt CROSS JOIN mt),
       ft AS (SELECT *, phi1 * xn + phi2 * xn1 AS f1 FROM bt),
       f2t AS (SELECT *, phi1 * f1 + phi2 * xn AS f2 FROM ft),
       f3t AS (SELECT *, phi1 * f2 + phi2 * f1 AS f3 FROM f2t),
       dt AS (SELECT CAST(hh.h AS INT) AS h,
               round(CASE hh.h WHEN 1 THEN f1 WHEN 2 THEN f2 ELSE f3 END
                 + ybar, 6) AS f_direct
             FROM f3t CROSS JOIN (SELECT unnest([1, 2, 3]) AS h) hh)
       SELECT bu.h, round(bu.f_bottom_up, 6) AS f_bottom_up, dt.f_direct,
         round(bu.f_bottom_up - dt.f_direct, 6) AS incoherence
       FROM bu JOIN dt ON dt.h = bu.h"""

  /** q_cooks_distance: OLS influence diagnostics for the per-type daily
    * revenue trend — WHICH days drive the fitted line (q_regr fits it;
    * q_anomaly z-scores raw totals; Cook's D asks the regression-native
    * question "how much does the fit MOVE if this day is deleted"):
    * slope/intercept from the exact-moment normal equations, residual
    * eᵢ, leverage hᵢ = 1/n + (xᵢ−x̄)²/Sxx, s² = SSE/(n−2) via an exact
    * decimal-able residual pass, Dᵢ = eᵢ²·hᵢ/(p·s²·(1−hᵢ)²) with p = 2,
    * flagged at the 4/n rule of thumb. Everything is mirrored +·/
    * algebra off ONE day×type aggregate joined back to the day rows —
    * the leverage identity needs no matrix anywhere. */
  def qCooksDistance(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).as("yd"))
    val d0 = daily.groupBy("event_type").agg(min(col("day")).as("d0"))
    // moments accumulate as EXACT DECIMALS (x is a small day index, y an
    // exact decimal daily total), cast to double ONCE after the aggregate
    // — the SumAuditSpec order-independence discipline for gated sums
    val pts = daily.join(d0, Seq("event_type"))
      .select(col("event_type"), col("day"),
        datediff(col("day"), col("d0")).cast("decimal(10,0)").as("xd"),
        col("yd").cast("decimal(18,6)").as("ydc"))
      .select(col("event_type"), col("day"), col("xd"), col("ydc"),
        col("xd").cast("double").as("x"), col("ydc").cast("double").as("y"))
    val m = pts.groupBy("event_type").agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("xd")).cast("double").as("sx"),
      sum(col("ydc")).cast("double").as("sy"),
      sum(col("xd") * col("xd")).cast("double").as("sxx2"),
      sum(col("xd") * col("ydc")).cast("double").as("sxy"))
      .select(col("event_type"), col("n"),
        (col("sx") / col("n")).as("xbar"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx2") - col("sx") * col("sx"))).as("b"),
        (col("sxx2") - col("sx") * col("sx") / col("n")).as("sxx"),
        (col("sy") / col("n")).as("ybar_"))
      .select(col("event_type"), col("n"), col("xbar"), col("b"), col("sxx"),
        (col("ybar_") - col("b") * col("xbar")).as("a"))
    val joined = pts.join(m, Seq("event_type"))
      .select(col("event_type"), col("day"), col("x"), col("n"),
        (col("y") - (col("a") + col("b") * col("x"))).as("e"),
        (lit(1.0) / col("n") +
          (col("x") - col("xbar")) * (col("x") - col("xbar")) / col("sxx"))
          .as("h"))
    // s² = SSE/(n−2): SSE from the SAME residuals, one more aggregate —
    // e is a deterministic double per row, summed as a day-ordered fold
    // (calendar-bounded, the k-bounded ordered-fold rule)
    val sse = joined.groupBy("event_type")
      .agg(aggregate(transform(array_sort(collect_list(struct(col("day"),
        (col("e") * col("e")).as("t")))), r => r.getField("t")),
        lit(0.0), (acc, t) => acc + t).as("sse"))
    joined.join(sse, Seq("event_type"))
      .filter(col("n") > 2.0 && col("h") < 1.0)
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        round(col("e"), 6).as("residual"), round(col("h"), 6).as("leverage"),
        round(col("e") * col("e") * col("h") /
          (lit(2.0) * (col("sse") / (col("n") - 2.0)) *
            (lit(1.0) - col("h")) * (lit(1.0) - col("h"))), 6).as("cooks_d"),
        (col("e") * col("e") * col("h") /
          (lit(2.0) * (col("sse") / (col("n") - 2.0)) *
            (lit(1.0) - col("h")) * (lit(1.0) - col("h"))) >
          lit(4.0) / col("n")).as("influential"))
  }

  private lazy val qCooksDistanceSql =
    s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS yd
         FROM events GROUP BY 1, 2),
       m0 AS (SELECT event_type, min(day) AS d0 FROM daily GROUP BY 1),
       pts AS (SELECT d.event_type, d.day,
                 CAST(CAST(d.day - m0.d0 AS INT) AS DECIMAL(10,0)) AS xd,
                 CAST(d.yd AS DECIMAL(18,6)) AS ydc,
                 CAST(CAST(d.day - m0.d0 AS INT) AS DOUBLE) AS x,
                 CAST(d.yd AS DOUBLE) AS y
               FROM daily d JOIN m0 ON m0.event_type = d.event_type),
       m AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(xd) AS DOUBLE) AS sx, CAST(sum(ydc) AS DOUBLE) AS sy,
               CAST(sum(xd * xd) AS DOUBLE) AS sxx2,
               CAST(sum(xd * ydc) AS DOUBLE) AS sxy
             FROM pts GROUP BY 1),
       c AS (SELECT event_type, n, sx / n AS xbar,
               (n * sxy - sx * sy) / (n * sxx2 - sx * sx) AS b,
               sxx2 - sx * sx / n AS sxx,
               sy / n - (n * sxy - sx * sy) / (n * sxx2 - sx * sx) * (sx / n)
                 AS a
             FROM m),
       j AS (SELECT p.event_type, p.day, p.x, c.n,
               p.y - (c.a + c.b * p.x) AS e,
               1.0 / c.n + (p.x - c.xbar) * (p.x - c.xbar) / c.sxx AS h
             FROM pts p JOIN c ON c.event_type = p.event_type),
       s AS (SELECT event_type, list_sum(list(e * e ORDER BY day)) AS sse
             FROM j GROUP BY 1)
       SELECT j.event_type, strftime(j.day, '%Y-%m-%d') AS day,
         round(j.e, 6) AS residual, round(j.h, 6) AS leverage,
         round(j.e * j.e * j.h / (2.0 * (s.sse / (j.n - 2.0))
           * (1.0 - j.h) * (1.0 - j.h)), 6) AS cooks_d,
         j.e * j.e * j.h / (2.0 * (s.sse / (j.n - 2.0))
           * (1.0 - j.h) * (1.0 - j.h)) > 4.0 / j.n AS influential
       FROM j JOIN s ON s.event_type = j.event_type
       WHERE j.n > 2.0 AND j.h < 1.0"""

  /** q_qte: quantile treatment effects — WHERE in the outcome
    * distribution the A/B arms differ (61x's two-proportion z and 61n's
    * CUPED read means; a lift concentrated in heavy users moves p90 and
    * nothing else, which a mean hides): per-user total event value under
    * the established md5 arm split, exact interpolated per-arm quantiles
    * at the deciles, and the per-decile treatment−control gap. One user
    * aggregate; the quantile state is per-ARM (two groups — the exact
    * path is safe; the GK swap documented at q_percentiles_approx applies
    * verbatim if arms ever stop being two). */
  def qQte(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("v"))
      .select(col("v"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("treat"))
    val qs = (1 to 9).map(_ / 10.0)
    val byArm = perUser.groupBy("treat")
      .agg(expr(s"percentile(v, array(${qs.mkString(", ")}))").as("q"),
        count(lit(1)).as("n"))
    val t = byArm.filter(col("treat"))
      .select(col("q").as("q_t"), col("n").as("n_t"))
    val c = byArm.filter(!col("treat"))
      .select(col("q").as("q_c"), col("n").as("n_c"))
    t.crossJoin(c)
      .select(posexplode(zip_with(col("q_t"), col("q_c"),
        (a, b) => struct(a.as("qt"), b.as("qc")))).as(Seq("i", "p")),
        col("n_t"), col("n_c"))
      .select((((col("i") + 1) * 10)).cast("int").as("pct"),
        col("n_t"), col("n_c"),
        round(col("p.qt"), 4).as("q_treat"),
        round(col("p.qc"), 4).as("q_control"),
        round(col("p.qt") - col("p.qc"), 4).as("qte"))
  }

  private lazy val qQteSql = {
    val qs = (1 to 9).map(_ / 10.0)
    s"""WITH u AS (SELECT user_id,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT) < 8
             AS treat
         FROM events GROUP BY user_id),
       arm AS (SELECT treat,
           quantile_cont(v, [${qs.mkString(", ")}]) AS q,
           CAST(count(*) AS BIGINT) AS n
         FROM u GROUP BY treat),
       t AS (SELECT q AS q_t, n AS n_t FROM arm WHERE treat),
       c AS (SELECT q AS q_c, n AS n_c FROM arm WHERE NOT treat),
       g AS (SELECT unnest(range(1, 10)) AS i FROM (SELECT 1))
       SELECT CAST(i * 10 AS INT) AS pct, n_t, n_c,
         round(q_t[i], 4) AS q_treat,
         round(q_c[i], 4) AS q_control,
         round(q_t[i] - q_c[i], 4) AS qte
       FROM g CROSS JOIN t CROSS JOIN c"""
  }

  /** q_srm: sample-ratio-mismatch gate — the A/B hygiene check every
    * experimentation platform runs BEFORE reading any effect metric
    * (61x/61n/68h/68o analyze the arms; this asks whether the SPLIT
    * itself is broken — a biased assignment invalidates them all):
    * χ²(1df) of observed arm sizes against the designed 50/50 under the
    * q_two_prop md5 assignment. One user aggregate, exact integers;
    * the statistic is (n_a−n_b)²/(n_a+n_b) — the 2-cell equal-split
    * simplification, one division. */
  def qSrm(s: SparkSession, dir: String): DataFrame = {
    val arms = Tables.events(s, dir)
      .select(col("user_id")).distinct()
      .select((conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
        .cast("int") < 8).as("treat"))
      .groupBy()
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("n_b"))
    arms.select(col("n_a"), col("n_b"),
      round((col("n_a") - col("n_b")).cast("double") *
        (col("n_a") - col("n_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double"), 6).as("chi2"),
      ((col("n_a") - col("n_b")).cast("double") *
        (col("n_a") - col("n_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double") > SrmChiCrit).as("mismatch"))
  }

  private lazy val qSrmSql =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       arms AS (SELECT
           CAST(sum(CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT) < 8
             THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT) < 8
             THEN 0 ELSE 1 END) AS BIGINT) AS n_b
         FROM u)
       SELECT n_a, n_b,
         round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
           / CAST(n_a + n_b AS DOUBLE), 6) AS chi2,
         CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
           / CAST(n_a + n_b AS DOUBLE) > $SrmChiCrit AS mismatch
       FROM arms"""

  val CoxNewtonIters = 12

  /** Cox time-to-event risk table — the SAME population, censoring rule,
    * md5 treatment arm and derived epoch as q_logrank (62e is the score
    * test of this model at β = 0; this fits the model): per distinct
    * event time t, deaths and at-risk counts by arm. Distributed build
    * (one user aggregate + a calendar-bounded prefix window); the
    * collect is over the distinct-event-time relation — the
    * bounded-state rule. */
  private def coxRiskTable(s: SparkSession, dir: String)
      : Seq[(Int, Long, Long, Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val bounds = Tables.events(s, dir)
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
    val lt = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "purchase" &&
          col("value") > TwoPropValueCut,
        date_format(col("ts"), "yyyy-MM-dd"))).as("first_day"))
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
        when(col("first_day").isNotNull,
          (datediff(col("first_day").cast("date"), col("d0")) + 1))
          .otherwise(datediff(col("d1"), col("d0")) + 2).cast("int").as("t"),
        col("first_day").isNotNull.as("event"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("treat"))
    val perDay = lt.groupBy("t")
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("enter1"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("enter0"),
        sum(when(col("treat") && col("event"), 1L).otherwise(0L)).as("d1"),
        sum(when(!col("treat") && col("event"), 1L).otherwise(0L)).as("d0e"))
    val tot = lt.agg(
      sum(when(col("treat"), 1L).otherwise(0L)).as("tot1"),
      sum(when(!col("treat"), 1L).otherwise(0L)).as("tot0"))
    val wCum = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    perDay.crossJoin(broadcast(tot))
      .withColumn("n1", col("tot1") -
        coalesce(sum(col("enter1")).over(wCum), lit(0L)))
      .withColumn("n0", col("tot0") -
        coalesce(sum(col("enter0")).over(wCum), lit(0L)))
      .filter(col("d1") + col("d0e") > 0)
      .select("t", "d1", "d0e", "n1", "n0")
      .collect()
      .map(r => (r.getAs[Int]("t"), r.getAs[Long]("d1"), r.getAs[Long]("d0e"),
        r.getAs[Long]("n1"), r.getAs[Long]("n0")))
      .sortBy(_._1).toSeq
  }

  /** Newton fit of the one-covariate Cox model with Breslow ties over a
    * risk table — (beta, score-at-beta, information-at-beta,
    * score-at-zero). Sums run in ascending-t order every iteration. */
  def coxNewton(rows: Seq[(Int, Long, Long, Long, Long)])
      : (Double, Double, Double, Double) = {
    def scoreInfo(beta: Double): (Double, Double) = {
      var u = 0.0; var inf = 0.0
      rows.foreach { case (_, d1, d0e, n1, n0) =>
        val d = (d1 + d0e).toDouble
        val w1 = n1.toDouble * math.exp(beta)
        val den = n0.toDouble + w1
        u += d1.toDouble - d * w1 / den
        inf += d * (n0.toDouble * w1) / (den * den)
      }
      (u, inf)
    }
    val u0 = scoreInfo(0.0)._1
    var beta = 0.0
    for (_ <- 1 to CoxNewtonIters) {
      val (u, inf) = scoreInfo(beta)
      if (inf > 0.0) beta += u / inf
    }
    val (uF, iF) = scoreInfo(beta)
    (beta, uF, iF, u0)
  }

  /** q_cox: Cox proportional-hazards fit — the EFFECT-SIZE member
    * completing the survival family (60m Kaplan–Meier describes, 65r
    * Nelson–Aalen accumulates, 62e log-rank tests; Cox says HOW MUCH the
    * arm shifts the hazard: 62e is exactly this model's score test at
    * β = 0, an identity the audit gates). One-covariate Newton over the
    * calendar-bounded risk table (Breslow ties) — the corpus-scale work
    * is the same one aggregate + prefix window as q_logrank; the
    * iteration is bounded-state driver arithmetic. Rows-only (exp(β) is
    * libm-seamed — the established exp/pow ban keeps it off hash-gated
    * surfaces); q_cox_audit carries the certificate. */
  def qCox(s: SparkSession, dir: String): DataFrame = {
    val rows = coxRiskTable(s, dir)
    val (beta, _, inf, u0) = coxNewton(rows)
    val se = 1.0 / math.sqrt(inf)
    import s.implicits._
    Seq((round6(beta), round6(math.exp(beta)), round6(se),
      round6(beta / se), round6(u0), rows.length.toLong))
      .toDF("beta", "hazard_ratio", "se", "z", "score_at_zero", "n_times")
  }

  private def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** q_cox_audit: Cox-fit certificate. SQL-derivable anchors the oracle
    * recomputes through the identical censoring construction (q_logrank's
    * oracle CTEs): n_users, n_events, n_events_treat. Gated booleans:
    *  - `converged_ok`: |U(β̂)| below 1e-6·(1 + I(β̂)) — Newton actually
    *    found the root;
    *  - `info_pos_ok` / `finite_ok`: positive information, finite β/se;
    *  - `logrank_anchor_ok`: U(0) re-derived as O₁ − E₁ in a DIFFERENT
    *    summation order (total observed minus total expected) agrees
    *    with the per-time score sum to 1e-9 — the 62e score-test
    *    identity, checked numerically. */
  def qCoxAudit(s: SparkSession, dir: String): DataFrame = {
    val rows = coxRiskTable(s, dir)
    val (beta, uF, iF, u0) = coxNewton(rows)
    val convergedOk = iF > 0.0 && math.abs(uF) < 1e-6 * (1.0 + iF)
    val finiteOk = !beta.isNaN && !beta.isInfinite && iF > 0.0
    val o1 = rows.map(_._2).sum.toDouble
    val e1 = rows.map { case (_, d1, d0e, n1, n0) =>
      (d1 + d0e).toDouble * n1.toDouble / (n1 + n0).toDouble
    }.sum
    val anchorOk = math.abs(u0 - (o1 - e1)) < 1e-9
    val nEvents = rows.map(r => r._2 + r._3).sum
    val nEventsTreat = rows.map(_._2).sum
    val nUsers = Tables.events(s, dir).select("user_id").distinct().count()
    import s.implicits._
    Seq((nUsers, nEvents, nEventsTreat,
      convergedOk, iF > 0.0, finiteOk, anchorOk))
      .toDF("n_users", "n_events", "n_events_treat",
        "converged_ok", "info_pos_ok", "finite_ok", "logrank_anchor_ok")
  }

  private lazy val qCoxAuditSql =
    s"""WITH fp AS (
         SELECT user_id,
           min(CASE WHEN event_type = 'purchase' AND value > $TwoPropValueCut
             THEN strftime(ts, '%Y-%m-%d') END) AS first_day
         FROM events GROUP BY user_id)
       SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CASE WHEN first_day IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_events,
         CAST(sum(CASE WHEN first_day IS NOT NULL AND
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT) < 8
           THEN 1 ELSE 0 END) AS BIGINT) AS n_events_treat,
         TRUE AS converged_ok, TRUE AS info_pos_ok,
         TRUE AS finite_ok, TRUE AS logrank_anchor_ok
       FROM fp"""

  private lazy val qLogrankSql =
    s"""WITH fp AS (
         SELECT user_id,
           min(CASE WHEN event_type = 'purchase' AND value > $TwoPropValueCut
             THEN strftime(ts, '%Y-%m-%d') END) AS first_day
         FROM events GROUP BY user_id),
       bounds AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
                  FROM events),
       lt AS (SELECT
           CASE WHEN first_day IS NOT NULL
             THEN CAST(date_diff('day', d0, CAST(first_day AS DATE)) + 1 AS INT)
             ELSE CAST(date_diff('day', d0, d1) + 2 AS INT) END AS t,
           first_day IS NOT NULL AS event,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT) < 8 AS treat
         FROM fp CROSS JOIN bounds),
       pd AS (SELECT t,
                CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS enter1,
                CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS enter2,
                CAST(sum(CASE WHEN treat AND event THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                CAST(sum(CASE WHEN NOT treat AND event THEN 1 ELSE 0 END) AS BIGINT) AS d2
              FROM lt GROUP BY t),
       tt AS (SELECT CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS tot1,
                CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS tot2
              FROM lt),
       ar AS (SELECT t, d1, d2,
                tot1 - CAST(coalesce(sum(enter1) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1t,
                tot2 - CAST(coalesce(sum(enter2) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n2t
              FROM pd CROSS JOIN tt)
       SELECT t, n1t, n2t, d1, d2,
         round(CAST(d1 + d2 AS DOUBLE) * n1t / (n1t + n2t), 6) AS e1,
         round(CAST(d1 + d2 AS DOUBLE) * (CAST(n1t AS DOUBLE) / (n1t + n2t))
           * (CAST(n2t AS DOUBLE) / (n1t + n2t))
           * ((CAST(n1t + n2t AS DOUBLE) - (d1 + d2)) / (CAST(n1t + n2t AS DOUBLE) - 1.0)), 6)
           AS var_t
       FROM ar WHERE d1 + d2 > 0"""

  /** SLO target (error-free share), burn-rate alert threshold ×1000, and
    * the two window lengths in days. Error budget = 1 − SLO = 1/4;
    * burn > 1.1 ⇔ err_share > 1.1/4 ⇔ err·4000 > 1100·n — every alert
    * comparison stays in exact integers. */
  val SloTarget = 0.75
  val SloBurnThresholdX1000 = 1100
  val SloShortDays = 1
  val SloLongDays = 7

  /** q_slo_burn: multi-window error-budget burn-rate alerting — the SRE
    * alerting rule (Google SRE workbook) an ops-analytics engine ships:
    * burn = error_share / (1 − SLO), and a page fires only when BOTH the
    * short window (fast signal) and the long window (sustained signal)
    * burn above threshold — single-window alerts either flap or lag.
    * Daily (n, err) are exact integer aggregates; the trailing windows
    * are ROWS frames over the calendar-bounded day table; the alert
    * comparisons are cross-multiplied integers (never a rounded double);
    * only the reported burn ratios divide, once each. */
  def qSloBurn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        (col("event_type") === "error").cast("long").as("is_err"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_day"), sum(col("is_err")).as("err_day"))
    val wS = Window.orderBy("day").rowsBetween(-(SloShortDays - 1), 0)
    val wL = Window.orderBy("day").rowsBetween(-(SloLongDays - 1), 0)
    val budgetInv = math.round(1.0 / (1.0 - SloTarget)) // 4, exact by choice of SLO
    def burn(err: Column, n: Column) =
      round(err.cast("double") * budgetInv / n, 6)
    def hot(err: Column, n: Column) =
      err * (budgetInv * 1000) > n * SloBurnThresholdX1000
    daily
      .withColumn("n_s", sum(col("n_day")).over(wS))
      .withColumn("e_s", sum(col("err_day")).over(wS))
      .withColumn("n_l", sum(col("n_day")).over(wL))
      .withColumn("e_l", sum(col("err_day")).over(wL))
      .select(col("day"), col("n_s"), col("e_s"), col("n_l"), col("e_l"),
        burn(col("e_s"), col("n_s")).as("burn_short"),
        burn(col("e_l"), col("n_l")).as("burn_long"),
        (hot(col("e_s"), col("n_s")) && hot(col("e_l"), col("n_l"))).as("page"))
  }

  private lazy val qSloBurnSql = {
    val budgetInv = math.round(1.0 / (1.0 - SloTarget))
    s"""WITH daily AS (
         SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_day,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err_day
         FROM events GROUP BY 1),
       w AS (SELECT day,
               CAST(sum(n_day) OVER (ORDER BY day ROWS ${SloShortDays - 1} PRECEDING) AS BIGINT) AS n_s,
               CAST(sum(err_day) OVER (ORDER BY day ROWS ${SloShortDays - 1} PRECEDING) AS BIGINT) AS e_s,
               CAST(sum(n_day) OVER (ORDER BY day ROWS ${SloLongDays - 1} PRECEDING) AS BIGINT) AS n_l,
               CAST(sum(err_day) OVER (ORDER BY day ROWS ${SloLongDays - 1} PRECEDING) AS BIGINT) AS e_l
             FROM daily)
       SELECT day, n_s, e_s, n_l, e_l,
         round(CAST(e_s AS DOUBLE) * $budgetInv / n_s, 6) AS burn_short,
         round(CAST(e_l AS DOUBLE) * $budgetInv / n_l, 6) AS burn_long,
         (e_s * ${budgetInv * 1000} > n_s * $SloBurnThresholdX1000 AND
          e_l * ${budgetInv * 1000} > n_l * $SloBurnThresholdX1000) AS page
       FROM w"""
  }

  /** Early-journey length for Shapley channel attribution. */
  val ShapEarlyK = 5

  /** The four attribution channels and their mask bits. */
  val ShapChannels: Seq[(String, Int)] =
    Seq("click" -> 1, "view" -> 2, "signup" -> 4, "error" -> 8)

  /** q_shapley_attrib: EXACT Shapley-value channel attribution — the
    * coalition-game upgrade of q_attribution's first-touch heuristic
    * (first-touch gives the whole credit to one channel; Shapley splits
    * it by each channel's average marginal contribution over every
    * coalition order). Channels = which of the four non-purchase event
    * types appear in the user's first-K events; conversion = the premium
    * purchase of q_two_prop. The whole game is computed on the BOUNDED
    * 2⁴-subset lattice: users reduce to a 16-row (mask, conv) table (one
    * per-user aggregate, bit_or of channel bits); coalition value
    * v(S) ∝ conv mass of masks ⊆ S via a 16×16 containment join; the
    * 32 (channel, S, S∪i) marginal terms and their factorial weights
    * s!(3−s)! are INLINED literal rows computed once in Scala and
    * identical in the SQL twin, so Shapley×4! is an exact integer
    * combination of counts — one division at the end. Spec pins the
    * efficiency axiom Σφᵢ = v(full) − v(∅). (Set-scoped attribution, not
    * a causal claim — the scaladoc'd limitation of every Shapley
    * attribution.) */
  def qShapleyAttrib(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val nCh = ShapChannels.size
    def factorial(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
    def popcount(x: Int): Int = Integer.bitCount(x)
    val denom = factorial(nCh) // 4! = 24
    // (channel, S-without-i, S-with-i, weight) — 4 × 8 literal rows
    val contrib = (for {
      (ch, bit) <- ShapChannels
      sub <- 0 until (1 << nCh) if (sub & bit) == 0
    } yield (ch, sub, sub | bit, factorial(popcount(sub)) *
        factorial(nCh - 1 - popcount(sub)))).toDF("channel", "s0", "s1", "wgt")
    val ev = Tables.events(s, dir)
    val wU = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val chanBit = ShapChannels.foldLeft(lit(0)) { case (acc, (ch, bit)) =>
      when(col("event_type") === ch, lit(bit)).otherwise(acc) }
    val perUser = ev
      .withColumn("rn", row_number().over(wU))
      .filter(col("rn") <= ShapEarlyK)
      .select(col("user_id"), chanBit.as("b"))
      .groupBy("user_id").agg(expr("bit_or(b)").as("mask"))
    val conv = ev.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > TwoPropValueCut, 1L).otherwise(0L)).as("converted"))
    val masks = perUser.join(conv, Seq("user_id"))
      .groupBy("mask").agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
    val lattice = (0 until (1 << nCh)).toDF("sset")
    val cmass = broadcast(lattice)
      .join(masks, (col("mask").bitwiseAND(col("sset")) === col("mask")), "left")
      .groupBy("sset").agg(coalesce(sum(col("c")), lit(0L)).as("cm"))
    val nTot = perUser.agg(count(lit(1)).as("n_users"))
    broadcast(contrib)
      .join(cmass.select(col("sset").as("s0"), col("cm").as("cm0")), Seq("s0"))
      .join(cmass.select(col("sset").as("s1"), col("cm").as("cm1")), Seq("s1"))
      .groupBy("channel")
      .agg(sum(col("wgt") * (col("cm1") - col("cm0"))).as("shap_scaled"))
      .crossJoin(broadcast(nTot))
      .select(col("channel"), col("shap_scaled"),
        round(col("shap_scaled").cast("double") / (lit(denom) * col("n_users")), 6)
          .as("shapley"))
      .orderBy("channel")
  }

  private lazy val qShapleyAttribSql = {
    val nCh = ShapChannels.size
    def factorial(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
    val denom = factorial(nCh)
    val contribRows = (for {
      (ch, bit) <- ShapChannels
      sub <- 0 until (1 << nCh) if (sub & bit) == 0
    } yield s"('$ch', $sub, ${sub | bit}, " +
        s"${factorial(Integer.bitCount(sub)) * factorial(nCh - 1 - Integer.bitCount(sub))})")
      .mkString(", ")
    val chanCase = ShapChannels.map { case (ch, bit) =>
      s"WHEN event_type = '$ch' THEN $bit" }.mkString(" ")
    s"""WITH ranked AS (
         SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         FROM events),
       pu AS (SELECT user_id,
                bit_or(CASE $chanCase ELSE 0 END) AS mask
              FROM ranked WHERE rn <= $ShapEarlyK GROUP BY user_id),
       cv AS (SELECT user_id,
                max(CASE WHEN event_type = 'purchase' AND value > $TwoPropValueCut
                  THEN 1 ELSE 0 END) AS converted
              FROM events GROUP BY user_id),
       masks AS (SELECT mask, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(converted) AS BIGINT) AS c
                 FROM pu JOIN cv USING (user_id) GROUP BY mask),
       lattice AS (SELECT CAST(range AS INT) AS sset FROM range(0, ${1 << nCh})),
       cmass AS (SELECT sset, CAST(coalesce(sum(c), 0) AS BIGINT) AS cm
                 FROM lattice LEFT JOIN masks ON (mask & sset) = mask
                 GROUP BY sset),
       contrib(channel, s0, s1, wgt) AS (VALUES $contribRows),
       nt AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM pu)
       SELECT channel, CAST(sum(wgt * (c1.cm - c0.cm)) AS BIGINT) AS shap_scaled,
         round(CAST(sum(wgt * (c1.cm - c0.cm)) AS DOUBLE) / ($denom * n_users), 6)
           AS shapley
       FROM contrib
       JOIN cmass c0 ON c0.sset = contrib.s0
       JOIN cmass c1 ON c1.sset = contrib.s1
       CROSS JOIN nt
       GROUP BY channel, n_users
       ORDER BY channel"""
  }

  /** z for 95% two-sided intervals, inlined identically in both engines. */
  val WilsonZ = 1.959963985

  /** q_two_prop: two-proportion z-test with Wilson score intervals — the
    * binary-outcome member of the experimentation family (q_ab_test is
    * the continuous-metric Welch test; conversion metrics are binomial
    * and their textbook Wald CI collapses near 0/1, which Wilson does
    * not). Unit = USER (not event — events within a user are correlated):
    * success = the user ever purchased; arms = the same md5-nibble split
    * as q_cuped. Per-arm (n, k) are exact integers from one scan +
    * per-user aggregate; the pooled z and each Wilson bound are single
    * fixed double expressions; the z constant is an inlined literal. */
  /** Success = a HIGH-VALUE purchase (value > 95): every user in the
    * corpus purchases SOMETHING, so "any purchase" is degenerate (p̂=1 on
    * both arms, zero pooled variance); the premium-purchase event sits
    * mid-range and discriminates. */
  val TwoPropValueCut = 95.0

  /** TOST equivalence margin (absolute proportion points) and the
    * one-sided z at α=0.05 (z₀.₉₅). */
  val TostMargin = 0.05
  val TostZ = 1.644854

  /** q_tost: two-one-sided-tests EQUIVALENCE check over the q_two_prop
    * A/B arms — the test q_two_prop can't express: failing to reject
    * "different" is NOT evidence of "same"; a no-harm launch gate needs
    * the TOST form (Schuirmann), which rejects non-equivalence only when
    * BOTH one-sided tests clear the ±[[TostMargin]] margin:
    * z_lower = (p̂_a−p̂_b+δ)/se > z₀.₉₅ AND z_upper = (p̂_a−p̂_b−δ)/se
    * < −z₀.₉₅, with the standard unpooled se. Same deterministic
    * md5-hash arm assignment and exact integer (n, k) inputs as
    * q_two_prop; a degenerate se (both arms all-success or all-failure)
    * yields NULL via nullif in both engines. */
  def qTost(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(max((col("event_type") === "purchase" &&
        col("value") > TwoPropValueCut).cast("int")).as("success"))
      .select(col("user_id"), col("success"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("treat"))
    val arms = perUser.groupBy("treat")
      .agg(count(lit(1)).as("n"), sum(col("success")).as("k"))
    val wide = arms.filter(col("treat")).select(col("n").as("n_a"), col("k").as("k_a"))
      .crossJoin(arms.filter(!col("treat")).select(col("n").as("n_b"), col("k").as("k_b")))
    val pa = col("k_a").cast("double") / col("n_a")
    val pb = col("k_b").cast("double") / col("n_b")
    val se = sqrt(nullif(pa * (lit(1.0) - pa) / col("n_a") +
      pb * (lit(1.0) - pb) / col("n_b"), lit(0.0)))
    val zLo = (pa - pb + TostMargin) / se
    val zHi = (pa - pb - TostMargin) / se
    wide.select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      round(pa - pb, 6).as("diff"),
      round(zLo, 6).as("z_lower"), round(zHi, 6).as("z_upper"),
      (zLo > TostZ && zHi < -TostZ).as("equivalent"))
  }

  private lazy val qTostSql =
    s"""WITH pu AS (
         SELECT user_id,
           max(CASE WHEN event_type = 'purchase' AND value > $TwoPropValueCut
             THEN 1 ELSE 0 END) AS success,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS BIGINT)
             < 8 AS treat
         FROM events GROUP BY user_id),
       arms AS (SELECT treat, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(success) AS BIGINT) AS k
                FROM pu GROUP BY 1),
       w AS (SELECT a.n AS n_a, a.k AS k_a, b.n AS n_b, b.k AS k_b
             FROM (SELECT n, k FROM arms WHERE treat) a
             CROSS JOIN (SELECT n, k FROM arms WHERE NOT treat) b),
       z AS (SELECT n_a, k_a, n_b, k_b,
               CAST(k_a AS DOUBLE) / n_a AS pa,
               CAST(k_b AS DOUBLE) / n_b AS pb,
               sqrt(nullif((CAST(k_a AS DOUBLE) / n_a)
                   * (1.0 - CAST(k_a AS DOUBLE) / n_a) / n_a
                 + (CAST(k_b AS DOUBLE) / n_b)
                   * (1.0 - CAST(k_b AS DOUBLE) / n_b) / n_b, 0.0)) AS se
             FROM w)
       SELECT n_a, k_a, n_b, k_b, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
         round(pa - pb, 6) AS diff,
         round((pa - pb + $TostMargin) / se, 6) AS z_lower,
         round((pa - pb - $TostMargin) / se, 6) AS z_upper,
         (pa - pb + $TostMargin) / se > $TostZ
           AND (pa - pb - $TostMargin) / se < -$TostZ AS equivalent
       FROM z"""

  def qTwoProp(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(max((col("event_type") === "purchase" &&
        col("value") > TwoPropValueCut).cast("int")).as("success"))
      .select(col("user_id"), col("success"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("treat"))
    val arms = perUser.groupBy("treat")
      .agg(count(lit(1)).as("n"), sum(col("success")).as("k"))
    val byArm = arms.select(col("treat"), col("n"), col("k"))
    val wide = byArm.filter(col("treat")).select(col("n").as("n_a"), col("k").as("k_a"))
      .crossJoin(byArm.filter(!col("treat")).select(col("n").as("n_b"), col("k").as("k_b")))
    val pa = col("k_a").cast("double") / col("n_a")
    val pb = col("k_b").cast("double") / col("n_b")
    val pPool = (col("k_a") + col("k_b")).cast("double") / (col("n_a") + col("n_b"))
    val z = (pa - pb) / sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    // degenerate guard, IDENTICAL in the oracle (the qAbTest rule): all
    // successes or none → zero pooled variance → NULL z in both engines
    val degenerate = pPool === 0.0 || pPool === 1.0
    def wilson(p: Column, n: Column): (Column, Column) = {
      val z2 = lit(WilsonZ * WilsonZ)
      val center = (p + z2 / (lit(2.0) * n)) / (lit(1.0) + z2 / n)
      val half = lit(WilsonZ) * sqrt(p * (lit(1.0) - p) / n +
        z2 / (lit(4.0) * n * n)) / (lit(1.0) + z2 / n)
      (center - half, center + half)
    }
    val (loA, hiA) = wilson(pa, col("n_a").cast("double"))
    val (loB, hiB) = wilson(pb, col("n_b").cast("double"))
    wide.select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      round(loA, 6).as("wilson_lo_a"), round(hiA, 6).as("wilson_hi_a"),
      round(loB, 6).as("wilson_lo_b"), round(hiB, 6).as("wilson_hi_b"),
      when(degenerate, lit(null)).otherwise(round(z, 6)).as("z"),
      when(degenerate, lit(null)).otherwise(abs(z) >= lit(WilsonZ)).as("significant"))
  }

  private lazy val qTwoPropSql = {
    val z2 = s"($WilsonZ * $WilsonZ)"
    def wilsonLo(p: String, n: String) =
      s"(($p + $z2 / (2.0 * $n)) / (1.0 + $z2 / $n)) - " +
        s"$WilsonZ * sqrt($p * (1.0 - $p) / $n + $z2 / (4.0 * $n * $n)) / (1.0 + $z2 / $n)"
    def wilsonHi(p: String, n: String) =
      s"(($p + $z2 / (2.0 * $n)) / (1.0 + $z2 / $n)) + " +
        s"$WilsonZ * sqrt($p * (1.0 - $p) / $n + $z2 / (4.0 * $n * $n)) / (1.0 + $z2 / $n)"
    s"""WITH pu AS (
         SELECT user_id,
           max(CASE WHEN event_type = 'purchase' AND value > $TwoPropValueCut
             THEN 1 ELSE 0 END) AS success
         FROM events GROUP BY user_id),
       pt AS (SELECT success,
                CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT) < 8 AS treat
              FROM pu),
       arms AS (SELECT treat, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(success) AS BIGINT) AS k
                FROM pt GROUP BY treat),
       wide AS (SELECT a.n AS n_a, a.k AS k_a, b.n AS n_b, b.k AS k_b
                FROM (SELECT n, k FROM arms WHERE treat) a
                CROSS JOIN (SELECT n, k FROM arms WHERE NOT treat) b),
       e AS (SELECT n_a, k_a, n_b, k_b,
               CAST(k_a AS DOUBLE) / n_a AS pa, CAST(k_b AS DOUBLE) / n_b AS pb,
               CAST(k_a + k_b AS DOUBLE) / (n_a + n_b) AS pp,
               CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd
             FROM wide),
       zc AS (SELECT *,
                CASE WHEN pp = 0.0 OR pp = 1.0 THEN NULL
                     ELSE (pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b))
                END AS z
              FROM e)
       SELECT n_a, k_a, n_b, k_b,
         round(pa, 6) AS p_a, round(pb, 6) AS p_b,
         round(${wilsonLo("pa", "nad")}, 6) AS wilson_lo_a,
         round(${wilsonHi("pa", "nad")}, 6) AS wilson_hi_a,
         round(${wilsonLo("pb", "nbd")}, 6) AS wilson_lo_b,
         round(${wilsonHi("pb", "nbd")}, 6) AS wilson_hi_b,
         round(z, 6) AS z, abs(z) >= $WilsonZ AS significant
       FROM zc"""
  }

  /** Pre/post boundary day for the CUPED covariate window. */
  val CupedSplitDay = "2024-01-15"

  /** Pre-period value-mass bin width for [[qCemAtt]]'s coarsening (exact
    * decimal floor division — no libm log binning on the gated path). */
  val CemXBinWidth = 50

  /** q_cem_att: coarsened exact matching (Iacus, King & Porro 2012) —
    * the DETERMINISTIC member of the causal family (propensity scores
    * need a fitted model; CEM needs only binning, which is why it
    * hash-gates): per user, pre-period covariates (value mass binned at
    * [[CemXBinWidth]], event count capped at 10) define the stratum;
    * strata holding BOTH arms match, controls are weighted nT_s/nC_s,
    * and ATT = Σ_s nT_s·(ȳT_s − ȳC_s) / Σ_s nT_s over the post-period
    * outcome — reported next to the naive unadjusted difference the
    * matching corrects. Reuses the CUPED pre/post substrate and the md5
    * arm split. Per-stratum sums are exact decimals; the stratum grid is
    * BOUNDED (bins × count-cap), so the cross-stratum double sums run as
    * stratum-ordered folds (the k-bounded ordered-fold rule). */
  def qCemAtt(s: SparkSession, dir: String): DataFrame = {
    val zero = lit(0).cast("decimal(18,6)")
    val perUser = Tables.events(s, dir)
      .select(col("user_id"),
        (date_format(col("ts"), "yyyy-MM-dd") <= CupedSplitDay).as("pre"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("pre"), col("v"))), zero).as("x"),
        coalesce(sum(when(!col("pre"), col("v"))), zero).as("y"),
        sum(when(col("pre"), 1L).otherwise(0L)).as("cnt"))
      .select(col("x"), col("y"),
        floor(col("x") / lit(CemXBinWidth)).cast("long").as("xbin"),
        least(col("cnt"), lit(10L)).as("cbin"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("treat"))
    val strata = perUser.groupBy("xbin", "cbin")
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("nt"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("nc"),
        coalesce(sum(when(col("treat"), col("y"))), zero).as("syt"),
        coalesce(sum(when(!col("treat"), col("y"))), zero).as("syc"))
      .filter(col("nt") > 0 && col("nc") > 0)
    def fold(term: Column, name: String) =
      aggregate(transform(array_sort(collect_list(struct(col("xbin"),
        col("cbin"), term.as("t")))), r => r.getField("t")),
        lit(0.0), (a, t) => a + t).as(name)
    val naive = perUser.groupBy("treat")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
      .groupBy()
      .agg(max(when(col("treat"), col("sy").cast("double") / col("n"))).as("mt"),
        max(when(!col("treat"), col("sy").cast("double") / col("n"))).as("mc"))
      .select((col("mt") - col("mc")).as("naive_diff"))
    strata.groupBy()
      .agg(count(lit(1)).as("n_strata"),
        sum(col("nt")).as("n_treated"), sum(col("nc")).as("n_control"),
        fold(col("nt").cast("double") *
          (col("syt").cast("double") / col("nt").cast("double") -
            col("syc").cast("double") / col("nc").cast("double")), "att_num"))
      .crossJoin(naive)
      .select(col("n_strata"), col("n_treated"), col("n_control"),
        round(col("att_num") / col("n_treated").cast("double"), 6).as("att"),
        round(col("naive_diff"), 6).as("naive_diff"))
  }

  private lazy val qCemAttSql =
    s"""WITH pu AS (
         SELECT user_id,
           coalesce(sum(CASE WHEN strftime(ts, '%Y-%m-%d') <= '$CupedSplitDay'
             THEN CAST(value AS DECIMAL(18,6)) END), CAST(0 AS DECIMAL(18,6))) AS x,
           coalesce(sum(CASE WHEN strftime(ts, '%Y-%m-%d') > '$CupedSplitDay'
             THEN CAST(value AS DECIMAL(18,6)) END), CAST(0 AS DECIMAL(18,6))) AS y,
           CAST(sum(CASE WHEN strftime(ts, '%Y-%m-%d') <= '$CupedSplitDay'
             THEN 1 ELSE 0 END) AS BIGINT) AS cnt
         FROM events GROUP BY user_id),
       pt AS (SELECT x, y,
                CAST(floor(x / $CemXBinWidth) AS BIGINT) AS xbin,
                least(cnt, 10) AS cbin,
                CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT) < 8 AS treat
              FROM pu),
       st AS (SELECT xbin, cbin,
                CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                coalesce(sum(CASE WHEN treat THEN y END),
                  CAST(0 AS DECIMAL(18,6))) AS syt,
                coalesce(sum(CASE WHEN NOT treat THEN y END),
                  CAST(0 AS DECIMAL(18,6))) AS syc
              FROM pt GROUP BY 1, 2
              HAVING sum(CASE WHEN treat THEN 1 ELSE 0 END) > 0
                AND sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) > 0),
       nv AS (SELECT max(CASE WHEN treat THEN mt END)
                  - max(CASE WHEN NOT treat THEN mt END) AS naive_diff
              FROM (SELECT treat, CAST(sum(y) AS DOUBLE) / count(*) AS mt
                    FROM pt GROUP BY treat)),
       ag AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
                CAST(sum(nt) AS BIGINT) AS n_treated,
                CAST(sum(nc) AS BIGINT) AS n_control,
                list_sum(list(CAST(nt AS DOUBLE) *
                  (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
                    - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))
                  ORDER BY xbin, cbin)) AS att_num
              FROM st)
       SELECT n_strata, n_treated, n_control,
         round(att_num / CAST(n_treated AS DOUBLE), 6) AS att,
         round(naive_diff, 6) AS naive_diff
       FROM ag CROSS JOIN nv"""

  /** q_cuped: CUPED variance-reduced A/B readout — the industry-standard
    * pre-experiment covariate adjustment (Deng et al. 2013): per user,
    * X = pre-period value mass, Y = post-period value mass; the adjusted
    * metric Y − θ(X − X̄) with θ = cov(X,Y)/var(X) keeps the same
    * expectation but sheds the between-user variance X explains. Arms are
    * a deterministic md5-nibble split of user_id (the content-keyed
    * device of q_dp_counts — replayable, so the gate can hash it). The
    * plan: ONE fact scan → per-user conditional DECIMAL sums → one
    * bounded moment aggregate per arm plus one pooled (θ is fit pooled,
    * standard practice); var(Y−θX) = var_Y − 2θ·cov + θ²·var_X is
    * computed ALGEBRAICALLY from the exact moments — never a second
    * per-user pass with a double θ in it (that sum would be
    * partition-order-sensitive; the moment identity keeps every input to
    * the final fp expression exact). Cross-multiplied sums-of-squares,
    * one division each, round 6. */
  def qCuped(s: SparkSession, dir: String): DataFrame = {
    val zero = lit(0).cast("decimal(18,6)")
    val perUser = Tables.events(s, dir)
      .select(col("user_id"),
        (date_format(col("ts"), "yyyy-MM-dd") <= CupedSplitDay).as("pre"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("pre"), col("v"))), zero).as("x"),
        coalesce(sum(when(!col("pre"), col("v"))), zero).as("y"))
      .select(col("user_id"), col("x"), col("y"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("treat"))
    val pooled = perUser.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val arms = perUser.groupBy("treat").agg(count(lit(1)).as("n_a"),
      sum(col("x")).as("sx_a"), sum(col("y")).as("sy_a"),
      sum(col("x") * col("y")).as("sxy_a"),
      sum(col("x") * col("x")).as("sxx_a"),
      sum(col("y") * col("y")).as("syy_a"))
    val theta = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val nd = col("n_a").cast("double")
    val meanY = col("sy_a").cast("double") / nd
    val meanXAll = col("sx").cast("double") / col("n")
    val meanXArm = col("sx_a").cast("double") / nd
    val varY = (col("n_a") * col("syy_a") - col("sy_a") * col("sy_a")).cast("double") /
      (nd * (nd - 1.0))
    val varX = (col("n_a") * col("sxx_a") - col("sx_a") * col("sx_a")).cast("double") /
      (nd * (nd - 1.0))
    val covXY = (col("n_a") * col("sxy_a") - col("sx_a") * col("sy_a")).cast("double") /
      (nd * (nd - 1.0))
    arms.crossJoin(broadcast(pooled))
      .withColumn("theta", theta)
      .select(col("treat"), col("n_a").as("n_users"),
        round(meanY, 6).as("mean_y"),
        round(meanY - col("theta") * (meanXArm - meanXAll), 6).as("mean_y_adj"),
        round(varY, 6).as("var_y"),
        round(varY - lit(2.0) * col("theta") * covXY +
          col("theta") * col("theta") * varX, 6).as("var_y_adj"),
        round(lit(1.0) - (varY - lit(2.0) * col("theta") * covXY +
          col("theta") * col("theta") * varX) / varY, 6).as("var_reduction"),
        round(col("theta"), 6).as("theta"))
  }

  private lazy val qCupedSql =
    s"""WITH pu AS (
         SELECT user_id,
           coalesce(sum(CASE WHEN strftime(ts, '%Y-%m-%d') <= '$CupedSplitDay'
             THEN CAST(value AS DECIMAL(18,6)) END), CAST(0 AS DECIMAL(18,6))) AS x,
           coalesce(sum(CASE WHEN strftime(ts, '%Y-%m-%d') > '$CupedSplitDay'
             THEN CAST(value AS DECIMAL(18,6)) END), CAST(0 AS DECIMAL(18,6))) AS y
         FROM events GROUP BY user_id),
       pt AS (SELECT x, y,
                CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT) < 8 AS treat
              FROM pu),
       pooled AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
                    sum(x * y) AS sxy, sum(x * x) AS sxx FROM pt),
       arms AS (SELECT treat, CAST(count(*) AS BIGINT) AS n_a,
                  sum(x) AS sx_a, sum(y) AS sy_a, sum(x * y) AS sxy_a,
                  sum(x * x) AS sxx_a, sum(y * y) AS syy_a
                FROM pt GROUP BY treat),
       e AS (SELECT treat, n_a,
               CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
               CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_y,
               CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_x_arm,
               CAST(sx AS DOUBLE) / n AS mean_x_all,
               CAST(n_a * syy_a - sy_a * sy_a AS DOUBLE) /
                 (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS var_y,
               CAST(n_a * sxx_a - sx_a * sx_a AS DOUBLE) /
                 (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS var_x,
               CAST(n_a * sxy_a - sx_a * sy_a AS DOUBLE) /
                 (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS cov_xy
             FROM arms CROSS JOIN pooled)
       SELECT treat, n_a AS n_users,
         round(mean_y, 6) AS mean_y,
         round(mean_y - theta * (mean_x_arm - mean_x_all), 6) AS mean_y_adj,
         round(var_y, 6) AS var_y,
         round(var_y - 2.0 * theta * cov_xy + theta * theta * var_x, 6) AS var_y_adj,
         round(1.0 - (var_y - 2.0 * theta * cov_xy + theta * theta * var_x) / var_y, 6)
           AS var_reduction,
         round(theta, 6) AS theta
       FROM e"""

  /** CUSUM drift flag threshold, as a multiple of the mean daily total:
    * flag when CUSUM > 0.5·mean (calibrated so the synthetic corpus
    * trips it on 42 of 150 type-days — discriminating both ways). */
  val CusumK2 = 2 // flag ⇔ 2·CUSUM_scaled > S  (i.e. CUSUM > S/(2N) · N = mean/2)

  /** q_cusum: CUSUM change-point detection over daily value totals per
    * event type — the standard drift monitor (Page 1954) beside the
    * z-score outlier gate (q_anomaly): CUSUM_t = Σ≤t(x−μ) − min_i≤t
    * Σ≤i(x−μ), which accumulates sustained upward drift that no single
    * day's z-score trips. EXACT everywhere: daily totals in DECIMAL, the
    * mean subtraction cross-multiplied away (P_t = N·cumsum_t − t·S, so
    * scaled CUSUM = N·CUSUM stays an exact decimal), the flag compared in
    * the scaled integer domain (2·cusum > S ⇔ CUSUM > mean/2), and only
    * the reported value divides back to daily units. Two window passes
    * over day-count-bounded groups (cumsum, running min) — the q_anomaly
    * scale posture. */
  def qCusum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("tot"))
    val st = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("tot")).as("s"))
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(st, Seq("event_type"))
      .withColumn("t", row_number().over(wOrd))
      .withColumn("csum", sum(col("tot")).over(wRun))
      .withColumn("pref", col("n") * col("csum") - col("t") * col("s"))
      .withColumn("cusum", col("pref") - min(col("pref")).over(wRun))
      .select(col("event_type"), col("day"), col("tot").cast("double").as("tot"),
        round(col("cusum").cast("double") / col("n"), 6).as("cusum"),
        (col("cusum") * CusumK2 > col("s")).as("drifting"))
  }

  private lazy val qCusumSql =
    s"""WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS tot
         FROM events GROUP BY 1, 2),
       st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(tot) AS s
              FROM daily GROUP BY 1),
       idx AS (
         SELECT d.event_type, d.day, d.tot, st.n, st.s,
           row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS t,
           sum(d.tot) OVER (PARTITION BY d.event_type ORDER BY d.day
             ROWS UNBOUNDED PRECEDING) AS csum
         FROM daily d JOIN st ON st.event_type = d.event_type),
       p AS (SELECT *, n*csum - t*s AS pref FROM idx),
       c AS (SELECT *, pref - min(pref) OVER (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS cusum FROM p)
       SELECT event_type, day, CAST(tot AS DOUBLE) AS tot,
         round(CAST(cusum AS DOUBLE) / n, 6) AS cusum,
         cusum * $CusumK2 > s AS drifting
       FROM c"""

  /** Poisson-bootstrap resample count. */
  val BootstrapB = 20

  /** q_bootstrap: Poisson bootstrap of the mean event value — THE
    * at-scale resampling scheme (each row draws its multiplicity w ~
    * Poisson(1) independently, so no pass needs the global n and
    * resamples stream in one scan; the classic multinomial bootstrap
    * cannot be distributed this way). Multiplicities come from the
    * content-keyed 52-bit md5 uniform (the q_dp_counts determinism move)
    * through the fixed Poisson(1) inverse-CDF thresholds, so the whole
    * resample set is a pure function of the data: per resample b, the
    * weighted sum stays exact DECIMAL, and only the final mean divides.
    * The B-fold fan-out is a bounded constant multiplier (B=20), map-side
    * only. Downstream reads the B means as the CI sample. */
  def qBootstrap(s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(concat(col("event_id").cast("string"), lit(":"),
      col("b").cast("string"))), 1, 13), 16, 10)
      .cast("long").cast("double") / lit(4503599627370496.0) // 2^52
    // Poisson(1) inverse CDF: cumulative e^-1 * (1, 2, 2.5, 2.666..., 2.708...)
    val w = when(col("u") < 0.3678794411714423, 0L)
      .when(col("u") < 0.7357588823428846, 1L)
      .when(col("u") < 0.9196986029286058, 2L)
      .when(col("u") < 0.9810118431238462, 3L)
      .when(col("u") < 0.9963401531726563, 4L)
      .otherwise(5L)
    // spread BEFORE the B-fold explode: the single-row-group scan would
    // otherwise fuse explode + B md5 evaluations per row into one task
    // (measured 2.2 s single-core → 0.8 s; guide §2.5 unsplittable-input
    // fix). The exchange moves the PRE-explode rows — 1/B of the fan-out.
    Tables.spread(Tables.events(s, dir).select(col("event_id"), col("value")),
        dir, "events", col("event_id"))
      .select(col("event_id"), col("value").cast("decimal(18,6)").as("v"),
        explode(array((0 until BootstrapB).map(lit): _*)).as("b"))
      .select(col("b"), col("v"), u.as("u"))
      .select(col("b"), col("v"), w.as("w"))
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"), sum(col("v") * col("w")).as("wsum"))
      .select(col("b"), col("n_eff"),
        round(col("wsum").cast("double") / col("n_eff"), 6).as("mean"))
  }

  private lazy val qBootstrapSql =
    s"""WITH e AS (
         SELECT event_id, CAST(value AS DECIMAL(18,6)) AS v, b
         FROM events CROSS JOIN (SELECT unnest([${(0 until BootstrapB).mkString(", ")}]) AS b)),
       g AS (SELECT b, v,
               CAST(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':' ||
                 CAST(b AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE)
                 / 4503599627370496 AS u
             FROM e),
       wts AS (SELECT b, v,
                 CASE WHEN u < 0.3678794411714423 THEN 0
                      WHEN u < 0.7357588823428846 THEN 1
                      WHEN u < 0.9196986029286058 THEN 2
                      WHEN u < 0.9810118431238462 THEN 3
                      WHEN u < 0.9963401531726563 THEN 4
                      ELSE 5 END AS w
               FROM g)
       SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
         round(CAST(sum(v * w) AS DOUBLE) / sum(w), 6) AS mean
       FROM wts GROUP BY b"""

  /** q_jackknife: delete-a-GROUP jackknife over languages for the mean
    * document length — the resampling companion to q_bootstrap for
    * CLUSTERED data (rows within a language correlate, so row-level
    * resampling understates variance; deleting whole groups is the
    * standard fix). Per language: the leave-that-group-out mean and the
    * jackknife pseudo-value g·θ̂ − (g−1)·θ̂₍ᵢ₎, every numerator and
    * denominator an exact integer until the per-row division (the
    * variance combination across groups is left to the reader — the
    * per-cell rule). Two bounded aggregates + one broadcast; nothing
    * fact-sized moves. */
  def qJackknife(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("lang"), col("n_chars").cast("long").as("x"))
    val per = docs.groupBy("lang").agg(count(lit(1)).as("n_i"), sum(col("x")).as("sx_i"))
    val tot = per.agg(sum(col("n_i")).as("n"), sum(col("sx_i")).as("sx"),
      count(lit(1)).as("g"))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_i"), col("sx_i"),
        round((col("sx") - col("sx_i")).cast("double") / (col("n") - col("n_i")), 6)
          .as("loo_mean"),
        round(col("g") * (col("sx").cast("double") / col("n")) -
          (col("g") - 1) * ((col("sx") - col("sx_i")).cast("double") /
            (col("n") - col("n_i"))), 6).as("pseudo_value"))
  }

  private lazy val qJackknifeSql =
    """WITH per AS (
         SELECT lang, CAST(count(*) AS BIGINT) AS n_i,
           CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sx_i
         FROM documents GROUP BY lang),
       tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(sum(sx_i) AS BIGINT) AS sx,
                 CAST(count(*) AS BIGINT) AS g FROM per)
       SELECT lang, n_i, sx_i,
         round(CAST(sx - sx_i AS DOUBLE) / (n - n_i), 6) AS loo_mean,
         round(g * (CAST(sx AS DOUBLE) / n) -
           (g - 1) * (CAST(sx - sx_i AS DOUBLE) / (n - n_i)), 6) AS pseudo_value
       FROM per CROSS JOIN tot"""

  /** Order statistics used by the Hill estimator. */
  val HillK = 50

  /** q_hill: Hill tail-index terms of the document-length distribution —
    * the heavy-tail diagnostic that says whether length outliers are
    * log-normal noise or a genuine power law (decides truncation policy
    * for packing/batching): for the top-k order statistics, the per-rank
    * term ln(x_(i)/x_(k)); the Hill estimate is the mean of the k−1
    * terms, left to the reader (a cross-row fp sum is order-sensitive —
    * per-rank terms are each a fixed double over exact integers, the
    * q_mutual_info rule). Global top-k is a distributed TakeOrdered with
    * doc_id tie-break; everything after runs on k = 50 rows. */
  def qHill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("x"))
      .orderBy(col("x").desc, col("doc_id").asc)
      .limit(HillK)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("x").desc, col("doc_id").asc)))
    val xk = ranked.filter(col("rank") === HillK)
      .select(col("x").as("x_k"))
    ranked.crossJoin(broadcast(xk))
      .filter(col("rank") < HillK)
      .select(col("rank"), col("x"),
        round(log(col("x").cast("double") / col("x_k")), 6).as("hill_term"))
  }

  private lazy val qHillSql =
    s"""WITH r AS (
         SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
           row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rank
         FROM documents),
       top AS (SELECT rank, x FROM r WHERE rank <= $HillK),
       xk AS (SELECT x AS x_k FROM top WHERE rank = $HillK)
       SELECT CAST(rank AS INT) AS rank, x,
         round(ln(CAST(x AS DOUBLE) / x_k), 6) AS hill_term
       FROM top CROSS JOIN xk WHERE rank < $HillK"""

  /** q_gini: exact Gini coefficient of the document-length distribution
    * per language — the inequality summary that says how skewed each
    * slice's length mass is (feeds packing/truncation policy beside
    * q_hill's tail diagnosis). Formula over sorted values:
    * G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σ x) / (n·Σ x), every term an exact integer
    * until the single final division. The per-group rank comes from ONE
    * distributed global ranking over (lang, x, doc_id) — groups are
    * contiguous after the range sort, so per-group position = global rn
    * minus the group's min(rn), recovered with a language-bounded
    * broadcast join. No single-task window anywhere; rank products sum
    * in DECIMAL(38,0) (HUGEINT in the oracle) because Σ i·x overflows a
    * long at 10⁹-row groups. Tie order cannot change the result: equal
    * x values contribute identical i·x sums under any permutation. */
  /** q_theil: Theil T inequality of the doc-length distribution per
    * language, WITH the between-group decomposition term — the
    * decomposable member of the inequality family (q_gini/q_lorenz rank
    * the whole distribution but a Gini does not split into
    * within + between; Theil does exactly: T_total = Σ_g s_g·T_g +
    * Σ_g between_term_g with s_g the group's length share — the
    * "how much inequality is BETWEEN languages vs inside them"
    * question a mixing planner asks). Identity used: T_g =
    * (Σ x·ln x)/(n_g·μ_g) − ln μ_g, so only ONE order-sensitive sum
    * exists per group — and it is made order-IMMUNE by the fixed-point
    * discipline: each x·ln(x) term is rounded half-up at 1e-6 and
    * summed as exact DECIMAL(38,0), so any partitioning yields the
    * identical total (the q_kmeans decimal-trainer pattern).
    * between_term_g = (X_g/X)·ln((X_g/X)/(n_g/n)) needs only the
    * exact global totals, broadcast as one row. Zero-length docs are
    * excluded (x·ln x undefined); n ≤ 0 groups never emit. */
  def qTheil(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("lang"), col("n_chars").cast("long").as("x"))
      .filter(col("x") > 0)
      .select(col("lang"), col("x"),
        floor(col("x").cast("double") * log(col("x").cast("double")) *
          lit(1e6) + lit(0.5)).cast("decimal(38,0)").as("t"))
    val g = terms.groupBy("lang").agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("decimal(38,0)").as("sx"),
      sum(col("t")).as("st"))
    val tot = g.agg(sum(col("n")).as("nt"), sum(col("sx")).as("sxt"))
    val mu = col("sx").cast("double") / col("n").cast("double")
    val share = col("sx").cast("double") / col("sxt").cast("double")
    val within = (col("st").cast("double") / lit(1e6)) /
      (col("n").cast("double") * mu) - log(mu)
    val between = share *
      log(share / (col("n").cast("double") / col("nt").cast("double")))
    g.crossJoin(broadcast(tot))
      .select(col("lang"), col("n").as("n_docs"),
        col("sx").cast("long").as("total_chars"),
        round(within, 6).as("theil_within"),
        round(between, 6).as("between_term"))
  }

  private lazy val qTheilSql =
    s"""WITH b AS (SELECT lang, CAST(n_chars AS BIGINT) AS x FROM documents
             WHERE n_chars > 0),
       t AS (SELECT lang, x,
               CAST(floor(CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE)) * 1e6 + 0.5)
                 AS DECIMAL(38,0)) AS t
             FROM b),
       g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS DECIMAL(38,0)) AS sx, sum(t) AS st
             FROM t GROUP BY lang),
       tt AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                CAST(sum(sx) AS DECIMAL(38,0)) AS sxt FROM g)
       SELECT lang, n AS n_docs, CAST(sx AS BIGINT) AS total_chars,
         round((CAST(st AS DOUBLE) / 1e6)
             / (CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
           - ln(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS theil_within,
         round((CAST(sx AS DOUBLE) / CAST(sxt AS DOUBLE))
           * ln((CAST(sx AS DOUBLE) / CAST(sxt AS DOUBLE))
               / (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))), 6) AS between_term
       FROM g, tt"""

  /** q_herfindahl: Herfindahl–Hirschman market-concentration panel per
    * part brand — the MARKET-STRUCTURE member beside the inequality
    * family (q_gini/q_lorenz/q_theil measure dispersion over a
    * population; HHI measures how concentrated a MARKET is among its
    * suppliers, the antitrust screen): per brand, supplier revenue
    * shares sᵢ from exact-decimal extendedprice sums, HHI = Σsᵢ²,
    * the normalized (HHI−1/n)/(1−1/n), the effective supplier count
    * 1/HHI, and the top-supplier share. One fact scan → (brand ×
    * supplier) aggregate (dimension-bounded), shares are divisions of
    * exactly-equal decimals-cast-double, Σsᵢ² and max share fold over
    * supplier-ordered bounded arrays (the repo-wide ordered-double-sum
    * discipline). */
  def qHerfindahl(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("l_suppkey").as("supp"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
    val tot = rev.groupBy("brand")
      .agg(sum(col("rev")).cast("decimal(18,2)").as("tot"),
        count(lit(1)).as("n_sup"))
    val sh = rev.join(tot, Seq("brand"))
      .select(col("brand"), col("supp"), col("n_sup"),
        (col("rev").cast("double") / col("tot").cast("double")).as("sh"))
    val hhi = sh.groupBy("brand", "n_sup")
      .agg(aggregate(transform(array_sort(collect_list(struct(col("supp"),
          (col("sh") * col("sh")).as("s2")))), r => r.getField("s2")),
        lit(0.0), (a, t) => a + t).as("hhi"),
        max(col("sh")).as("top_share"))
    val nD = col("n_sup").cast("double")
    hhi.select(col("brand"), col("n_sup"), round(col("hhi"), 6).as("hhi"),
      // n_sup = 1 would divide by zero with engine-divergent IEEE/NULL
      // semantics; a one-supplier market has no defined normalized HHI
      when(col("n_sup") > 1,
        round((col("hhi") - lit(1.0) / nD) / (lit(1.0) - lit(1.0) / nD), 6))
        .as("hhi_norm"),
      round(lit(1.0) / col("hhi"), 6).as("eff_n"),
      round(col("top_share"), 6).as("top_share"))
  }

  private lazy val qHerfindahlSql =
    """WITH rev AS (SELECT p_brand AS brand, l_suppkey AS supp,
           sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2),
       tot AS (SELECT brand, CAST(sum(rev) AS DECIMAL(18,2)) AS tot,
           CAST(count(*) AS BIGINT) AS n_sup
         FROM rev GROUP BY 1),
       sh AS (SELECT r.brand, r.supp, t.n_sup,
           CAST(r.rev AS DOUBLE) / CAST(t.tot AS DOUBLE) AS sh
         FROM rev r JOIN tot t ON t.brand = r.brand),
       h AS (SELECT brand, n_sup,
           list_sum(list(sh * sh ORDER BY supp)) AS hhi,
           max(sh) AS top_share
         FROM sh GROUP BY 1, 2)
       SELECT brand, n_sup, round(hhi, 6) AS hhi,
         CASE WHEN n_sup > 1 THEN
           round((hhi - 1.0 / n_sup) / (1.0 - 1.0 / n_sup), 6) END
           AS hhi_norm,
         round(1.0 / hhi, 6) AS eff_n,
         round(top_share, 6) AS top_share
       FROM h"""

  def qGini(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars").cast("long").as("x"))
    val ranked = Ranks.globalRowNumber(
      base, col("lang").asc, col("x").asc, col("doc_id").asc)
    val offsets = ranked.groupBy("lang").agg(min(col("rn")).as("rn0"))
    ranked.join(broadcast(offsets), Seq("lang"))
      .select(col("lang"), col("x"),
        (col("rn") - col("rn0") + 1L).cast("decimal(38,0)").as("i"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        // the auxiliary products (n+1)·Σx and n·Σx hit 10²² at the same
        // 10⁹-row groups that force Σ i·x into DECIMAL — a long multiply
        // would wrap silently (non-ANSI), so they stay DECIMAL too
        sum(col("x")).cast("decimal(38,0)").as("sxd"),
        sum(col("i") * col("x")).as("six"))
      .select(col("lang"), col("n"), col("sxd").cast("long").as("sx"),
        round((lit(2) * col("six") - (col("n") + 1) * col("sxd")).cast("double") /
          (col("n").cast("decimal(38,0)") * col("sxd")).cast("double"), 6).as("gini"))
  }

  private lazy val qGiniSql =
    """WITH r AS (
         SELECT lang, CAST(n_chars AS BIGINT) AS x,
           row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS i
         FROM documents)
       SELECT lang, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         round(CAST(2*sum(i*x) - (count(*)+1)*sum(x) AS DOUBLE)
           / CAST(count(*)*sum(x) AS DOUBLE), 6) AS gini
       FROM r GROUP BY lang"""

  /** q_lorenz: Lorenz-curve decile points of the document-length
    * distribution — the curve behind q_gini's single number (which
    * deciles hold the length mass; the packing/batching planner reads
    * this to size buckets). Ranks come from the distributed global
    * ranking; the decile cut reuses the SQL-exact ntile helper
    * (Ranks.ntileOf, pinned against the builtin by q_ntile); per-decile
    * mass stays exact integers, and the cumulative share runs over the
    * 10-row decile table — bounded, never the relation. */
  def qLorenz(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("x"))
    val tot = base.agg(count(lit(1)).as("n_total"), sum(col("x")).as("sx"))
    val ranked = Ranks.globalRowNumber(base, col("x").asc, col("doc_id").asc)
    val wCum = Window.orderBy(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.crossJoin(broadcast(tot))
      .select(Ranks.ntileOf(col("rn"), col("n_total"), 10).as("decile"),
        col("x"), col("sx"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("mass"), max(col("sx")).as("sx"))
      .withColumn("cum_mass", sum(col("mass")).over(wCum))
      .select(col("decile"), col("n"), col("mass"),
        round(col("mass").cast("double") / col("sx"), 6).as("share"),
        round(col("cum_mass").cast("double") / col("sx"), 6).as("cum_share"))
  }

  private lazy val qLorenzSql =
    """WITH r AS (
         SELECT CAST(n_chars AS BIGINT) AS x,
           ntile(10) OVER (ORDER BY n_chars ASC, doc_id ASC) AS decile
         FROM documents),
       t AS (SELECT CAST(sum(x) AS BIGINT) AS sx FROM r),
       d AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS mass
             FROM r GROUP BY decile)
       SELECT CAST(decile AS INT) AS decile, n, mass,
         round(CAST(mass AS DOUBLE) / sx, 6) AS share,
         round(CAST(sum(mass) OVER (ORDER BY decile ASC
           ROWS UNBOUNDED PRECEDING) AS DOUBLE) / sx, 6) AS cum_share
       FROM d CROSS JOIN t"""

  /** q_kendall: Kendall τ-b between daily event VOLUME and daily event
    * COUNT per event type — the rank-correlation companion to
    * q_spearman that is exact under ties (τ-b's tie correction) and
    * needs no rank assignment at all: concordant/discordant/tied pair
    * counts over the per-day aggregate, which is bounded by the
    * calendar (types × days), so the O(days²) self-join is a constant,
    * never fact-table-shaped. Volume sums are DECIMAL-exact, so every
    * pair classification is an exact comparison; τ-b's one sqrt runs
    * over exact integer products (IEEE-correctly-rounded, identical in
    * both engines). */
  def qKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).as("x"), count(lit(1)).as("y"))
    val d1 = daily.select(col("event_type"), col("day").as("day1"),
      col("x").as("x1"), col("y").as("y1"))
    val d2 = daily.select(col("event_type"), col("day").as("day2"),
      col("x").as("x2"), col("y").as("y2"))
    val conc = (col("x1") < col("x2") && col("y1") < col("y2")) ||
      (col("x1") > col("x2") && col("y1") > col("y2"))
    val disc = (col("x1") < col("x2") && col("y1") > col("y2")) ||
      (col("x1") > col("x2") && col("y1") < col("y2"))
    val pairs = d1.join(d2, Seq("event_type")).filter(col("day1") < col("day2"))
      .groupBy("event_type")
      .agg(sum(when(conc, 1L).otherwise(0L)).as("nc"),
        sum(when(disc, 1L).otherwise(0L)).as("nd"),
        sum(when(col("x1") === col("x2"), 1L).otherwise(0L)).as("ntx"),
        sum(when(col("y1") === col("y2"), 1L).otherwise(0L)).as("nty"))
    val n0 = col("n_days") * (col("n_days") - 1) / 2
    daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      .join(pairs, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("nc"), col("nd"),
        col("ntx"), col("nty"),
        round((col("nc") - col("nd")).cast("double") /
          sqrt(((n0 - col("ntx")) * (n0 - col("nty"))).cast("double")), 6)
          .as("tau_b"))
  }

  private lazy val qKendallSql =
    """WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS x, CAST(count(*) AS BIGINT) AS y
         FROM events GROUP BY 1, 2),
       st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
       p AS (
         SELECT a.event_type,
           CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y)
             THEN 1 ELSE 0 END) AS BIGINT) AS nc,
           CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y)
             THEN 1 ELSE 0 END) AS BIGINT) AS nd,
           CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS ntx,
           CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS nty
         FROM daily a JOIN daily b
           ON b.event_type = a.event_type AND a.day < b.day
         GROUP BY a.event_type)
       SELECT p.event_type, st.n_days, p.nc, p.nd, p.ntx, p.nty,
         round(CAST(p.nc - p.nd AS DOUBLE) /
           sqrt(CAST((st.n_days*(st.n_days-1)//2 - p.ntx)
             * (st.n_days*(st.n_days-1)//2 - p.nty) AS DOUBLE)), 6) AS tau_b
       FROM p JOIN st ON st.event_type = p.event_type"""

  /** q_dispersion: index of dispersion (Fano factor, sample
    * variance/mean) of the daily event-count series per event type —
    * the burstiness gate (Poisson arrivals ⇒ 1; >1 = clumped traffic
    * that skews per-day partitions). Sample variance and mean stay in
    * cross-multiplied exact integers until one final division, and the
    * overdispersion flag itself is an EXACT integer comparison
    * (n·Σc² − (Σc)² > (n−1)·Σc) — no fp anywhere in the decision.
    * Squared counts sum in DECIMAL(38,0) (HUGEINT oracle-side):
    * (10⁹/day)² overflows a long. One day-granularity aggregate. */
  def qDispersion(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).cast("decimal(38,0)").as("c"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
      .filter(col("n_days") > 1)
      .select(col("event_type"), col("n_days"), col("sc").cast("long").as("n_events"),
        round((col("n_days") * col("scc") - col("sc") * col("sc")).cast("double") /
          ((col("n_days") - 1) * col("sc")).cast("double"), 6).as("fano"),
        (col("n_days") * col("scc") - col("sc") * col("sc") >
          (col("n_days") - 1) * col("sc")).as("overdispersed"))
  }

  private lazy val qDispersionSql =
    """WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS c
         FROM events GROUP BY 1, 2),
       m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               sum(c) AS sc, sum(c*c) AS scc
             FROM daily GROUP BY 1)
       SELECT event_type, n_days, CAST(sc AS BIGINT) AS n_events,
         round(CAST(n_days*scc - sc*sc AS DOUBLE)
           / CAST((n_days-1)*sc AS DOUBLE), 6) AS fano,
         n_days*scc - sc*sc > (n_days-1)*sc AS overdispersed
       FROM m WHERE n_days > 1"""

  /** q_kaplan_meier: Kaplan–Meier survival-curve terms over user
    * activity lifetimes (days between first and last event; every user
    * is fully observed in the window, so the estimator reduces to its
    * uncensored form but keeps the standard (deaths, at-risk) table a
    * churn analysis consumes). Per distinct lifetime t: d_t (users
    * ending at t), r_t (users surviving ≥ t, via N minus an exclusive
    * prefix sum), the hazard d/r and the survival FACTOR (r−d)/r —
    * per-row factors, never the cross-row product (fp products are
    * order-fragile; the reader multiplies, the q_mutual_info rule).
    * Lifetimes aggregate to distinct-day granularity first, so the
    * prefix window runs over a calendar-bounded table, never the fact
    * table (the q_ks_test bound). */
  def qKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lifetimes = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id")
      .agg(datediff(max(col("day")), min(col("day"))).as("t"))
    val deaths = lifetimes.groupBy("t").agg(count(lit(1)).as("d"))
    val tot = deaths.agg(sum(col("d")).as("n_users"))
    val wCum = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    deaths.crossJoin(broadcast(tot))
      .withColumn("ended_before", coalesce(sum(col("d")).over(wCum), lit(0L)))
      .select(col("t").as("t_days"), col("d").as("n_deaths"),
        (col("n_users") - col("ended_before")).as("n_at_risk"))
      .select(col("t_days"), col("n_deaths"), col("n_at_risk"),
        round(col("n_deaths").cast("double") / col("n_at_risk"), 6).as("hazard"),
        round((col("n_at_risk") - col("n_deaths")).cast("double") /
          col("n_at_risk"), 6).as("surv_factor"))
  }

  private lazy val qKaplanMeierSql =
    """WITH lt AS (
         SELECT user_id, date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS t
         FROM events GROUP BY user_id),
       d AS (SELECT t, CAST(count(*) AS BIGINT) AS d FROM lt GROUP BY t),
       tot AS (SELECT CAST(sum(d) AS BIGINT) AS n_users FROM d),
       r AS (
         SELECT t, d, n_users - coalesce(CAST(sum(d) OVER (ORDER BY t ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n_at_risk
         FROM d CROSS JOIN tot)
       SELECT t AS t_days, d AS n_deaths, n_at_risk,
         round(CAST(d AS DOUBLE) / n_at_risk, 6) AS hazard,
         round(CAST(n_at_risk - d AS DOUBLE) / n_at_risk, 6) AS surv_factor
       FROM r"""

  /** q_competing_risks: the Aalen–Johansen cumulative-incidence estimator
    * — the survival member KM/Nelson–Aalen cannot express (they treat all
    * exits as ONE event; competing risks ask "which WAY did the user
    * exit, and how does each cause's cumulative probability grow":
    * 1 − KM overstates every cause-specific risk, the classic error
    * CIF fixes): users exit by the CAUSE of their last event (lexical
    * max on (ts, event_type) — deterministic in both engines), and
    * CIF_k(t) = Σ_{s ≤ t} Ŝ(s−)·d_k(s)/n(s) over the same day-bounded
    * risk table the KM family rides. Ŝ(s−) is the all-cause KM product,
    * computed as a day-ordered fold (calendar-bounded, the qHolt
    * sequential-recursion rule — no libm exp/ln product trick); the
    * per-cause accumulation is a day-ordered running window sum (the
    * q_rbo sequential-cumsum convention). ΣCIF_k(∞) = 1 − Ŝ(∞) by
    * construction — the identity the spec asserts. */
  def qCompetingRisks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lt = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(datediff(to_date(max(col("ts"))), to_date(min(col("ts")))).as("t"),
        max(struct(col("ts"), col("event_type"))).getField("event_type")
          .as("cause"))
    val dk = lt.groupBy("t", "cause").agg(count(lit(1)).as("d_k"))
    val d = dk.groupBy("t").agg(sum(col("d_k")).as("d"))
    val tot = d.agg(sum(col("d")).as("n_users"))
    val wCum = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = d.crossJoin(broadcast(tot))
      .withColumn("ended_before", coalesce(sum(col("d")).over(wCum), lit(0L)))
      .select(col("t"), col("d"), (col("n_users") - col("ended_before")).as("n"))
    // Ŝ(t−): sequential product over the day-bounded risk rows
    val outType = "array<struct<t:int,s_before:double>>"
    val acc0 = struct(lit(1.0).as("s"), array().cast(outType).as("out"))
    val sBefore = risk
      .agg(array_sort(collect_list(struct(col("t").cast("int").as("t"),
        col("d").cast("double").as("dd"), col("n").cast("double").as("nn"))))
        .as("arr"))
      .select(aggregate(col("arr"), acc0, (acc, x) => struct(
        (acc.getField("s") *
          (lit(1.0) - x.getField("dd") / x.getField("nn"))).as("s"),
        concat(acc.getField("out"), array(struct(x.getField("t").as("t"),
          acc.getField("s").as("s_before")))).as("out")))
        .getField("out").as("out"))
      .select(explode(col("out")).as("r"))
      .select(col("r.t").as("t"), col("r.s_before").as("s_before"))
    val terms = dk.select(col("t").cast("int").as("t"), col("cause"), col("d_k"))
      .join(risk.select(col("t").cast("int").as("t"), col("n")), Seq("t"))
      .join(sBefore, Seq("t"))
      .select(col("t"), col("cause"), col("d_k"), col("n"),
        (col("s_before") * col("d_k").cast("double") / col("n").cast("double"))
          .as("term"))
    val wCif = Window.partitionBy("cause").orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    terms
      .select(col("cause"), col("t").as("t_days"), col("d_k").as("n_exits"),
        col("n").as("n_at_risk"),
        round(sum(col("term")).over(wCif), 6).as("cif"))
  }

  private lazy val qCompetingRisksSql =
    """WITH lt0 AS (
         SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_type DESC) AS rk
         FROM events),
       ltc AS (SELECT user_id, event_type AS cause FROM lt0 WHERE rk = 1),
       ltt AS (
         SELECT user_id,
           date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS t
         FROM events GROUP BY user_id),
       lt AS (SELECT ltt.user_id, ltt.t, ltc.cause
              FROM ltt JOIN ltc USING (user_id)),
       dk AS (SELECT t, cause, CAST(count(*) AS BIGINT) AS d_k
              FROM lt GROUP BY 1, 2),
       d AS (SELECT t, CAST(sum(d_k) AS BIGINT) AS d FROM dk GROUP BY t),
       tot AS (SELECT CAST(sum(d) AS BIGINT) AS n_users FROM d),
       risk AS (
         SELECT CAST(t AS INT) AS t, d,
           n_users - coalesce(CAST(sum(d) OVER (ORDER BY t ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
             AS n,
           row_number() OVER (ORDER BY t ASC) AS rn
         FROM d CROSS JOIN tot),
       sb AS (
         WITH RECURSIVE walk(rn, s, s_before) AS (
           -- the anchor's s_before is CAST: a bare 1.0 literal would type
           -- the column DECIMAL(2,1) and silently round every step
           SELECT 1, 1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)),
             CAST(1.0 AS DOUBLE)
           FROM risk WHERE rn = 1
           UNION ALL
           SELECT r.rn, w.s * (1.0 - CAST(r.d AS DOUBLE) / CAST(r.n AS DOUBLE)),
             w.s
           FROM walk w JOIN risk r ON r.rn = w.rn + 1)
         SELECT risk.t, walk.s_before FROM walk JOIN risk ON risk.rn = walk.rn),
       terms AS (
         SELECT CAST(dk.t AS INT) AS t, dk.cause, dk.d_k, risk.n,
           sb.s_before * CAST(dk.d_k AS DOUBLE) / CAST(risk.n AS DOUBLE) AS term
         FROM dk JOIN risk ON risk.t = CAST(dk.t AS INT)
         JOIN sb ON sb.t = CAST(dk.t AS INT))
       SELECT cause, t AS t_days, d_k AS n_exits, n AS n_at_risk,
         round(sum(term) OVER (PARTITION BY cause ORDER BY t ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cif
       FROM terms"""

  /** RMST horizon (days) — the full driver calendar. */
  val RmstTau = 30

  /** q_rmst: restricted mean survival time — the ONE-NUMBER summary the
    * KM curve family reduces to when arms must be compared without a
    * proportional-hazards assumption (the estimand regulators ask for
    * when Cox's assumption fails): RMST(τ) = ∫₀^τ Ŝ(t)dt = Σ over
    * inter-event intervals of Ŝ(t−)·Δt plus the tail to τ, computed from
    * the SAME day-bounded risk table as q_kaplan_meier with the same
    * sequential product fold (and the same CAST-the-anchor discipline in
    * the oracle). Emits RMST at τ = [[RmstTau]] per md5 ARM beside the
    * arm's Ŝ(τ) — the A/B readout; the whole computation is
    * calendar-bounded after one user aggregate. */
  def qRmst(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lt = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(datediff(to_date(max(col("ts"))), to_date(min(col("ts")))).as("t"))
      .select(col("t"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("treat"))
    val d = lt.groupBy("treat", "t").agg(count(lit(1)).as("d"))
    val tot = d.groupBy("treat").agg(sum(col("d")).as("n_users"))
    val wCum = Window.partitionBy("treat").orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = d.join(tot, Seq("treat"))
      .withColumn("ended_before", coalesce(sum(col("d")).over(wCum), lit(0L)))
      .select(col("treat"), col("t").cast("int").as("t"), col("d"),
        (col("n_users") - col("ended_before")).as("n"))
    // fold per arm: running S, running RMST mass, previous t
    val acc0 = struct(lit(1.0).as("s"), lit(0.0).as("m"), lit(0).as("pt"))
    val folded = risk.groupBy("treat")
      .agg(array_sort(collect_list(struct(col("t"),
        col("d").cast("double").as("dd"), col("n").cast("double").as("nn"))))
        .as("arr"))
      .select(col("treat"), aggregate(col("arr"), acc0, (acc, x) => {
        val tCap = least(x.getField("t"), lit(RmstTau))
        struct(
          (acc.getField("s") *
            (lit(1.0) - x.getField("dd") / x.getField("nn"))).as("s"),
          (acc.getField("m") + acc.getField("s") *
            (tCap - least(acc.getField("pt"), lit(RmstTau))).cast("double"))
            .as("m"),
          x.getField("t").as("pt"))
      }).as("f"))
      .select(col("treat"),
        (col("f.m") + col("f.s") *
          greatest(lit(RmstTau) - col("f.pt"), lit(0)).cast("double"))
          .as("rmst"),
        col("f.s").as("s_tail"))
    folded.select(col("treat"), lit(RmstTau).as("tau_days"),
      round(col("rmst"), 6).as("rmst"), round(col("s_tail"), 6).as("s_tau"))
  }

  private lazy val qRmstSql =
    s"""WITH lt AS (
         SELECT date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS t,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT) < 8 AS treat
         FROM events GROUP BY user_id),
       d AS (SELECT treat, CAST(t AS INT) AS t, CAST(count(*) AS BIGINT) AS d
             FROM lt GROUP BY 1, 2),
       tot AS (SELECT treat, CAST(sum(d) AS BIGINT) AS n_users FROM d GROUP BY 1),
       risk AS (
         SELECT d.treat, d.t, d.d,
           tot.n_users - coalesce(CAST(sum(d.d) OVER (PARTITION BY d.treat
             ORDER BY d.t ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
             AS n,
           row_number() OVER (PARTITION BY d.treat ORDER BY d.t ASC) AS rn
         FROM d JOIN tot ON tot.treat = d.treat),
       mx AS (SELECT treat, max(rn) AS mrn FROM risk GROUP BY 1),
       walk AS (
         WITH RECURSIVE w(treat, rn, s, m, pt) AS (
           SELECT treat, 1,
             1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)),
             -- anchors CAST: bare literals would type the walk columns
             -- DECIMAL and silently round every step (the q_competing_risks
             -- trap)
             CAST(1.0 AS DOUBLE) *
               CAST(least(t, $RmstTau) - least(0, $RmstTau) AS DOUBLE),
             t
           FROM risk WHERE rn = 1
           UNION ALL
           SELECT r.treat, r.rn,
             w.s * (1.0 - CAST(r.d AS DOUBLE) / CAST(r.n AS DOUBLE)),
             w.m + w.s *
               CAST(least(r.t, $RmstTau) - least(w.pt, $RmstTau) AS DOUBLE),
             r.t
           FROM w JOIN risk r ON r.treat = w.treat AND r.rn = w.rn + 1)
         SELECT * FROM w)
       SELECT walk.treat, $RmstTau AS tau_days,
         round(walk.m + walk.s *
           CAST(greatest($RmstTau - walk.pt, 0) AS DOUBLE), 6) AS rmst,
         round(walk.s, 6) AS s_tau
       FROM walk JOIN mx ON mx.treat = walk.treat AND walk.rn = mx.mrn"""

  /** Holt smoothing constants — DYADIC on purpose (0.5, 0.25, 0.75 are
    * exact binary fractions, so the only fp error in the recursion is
    * the adds/multiplies themselves, identical in both engines). */
  val HoltAlpha = 0.5
  val HoltBeta = 0.25

  /** q_holt: Holt double-exponential smoothing (level + trend) of the
    * daily value totals per event type — the forecasting primitive one
    * step up from q_ewma (which tracks level only and lags any trend).
    * The recursion l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} is inherently sequential, so it
    * runs as an ordered fold over each type's COLLECTED daily series —
    * bounded by the calendar, the q_ks_test granularity rule, never the
    * fact table — via the aggregate HOF (whole-stage codegen, no UDF).
    * The oracle replays the identical recursion as a recursive CTE;
    * inputs are exact-decimal daily sums cast once to double, constants
    * are dyadic, operation order is matched term by term, and rounding
    * happens on emission only — so both engines walk the same IEEE
    * sequence. */
  def qHolt(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).cast("double").as("y"))
    val outType = "array<struct<day:string,l:double,b:double>>"
    val acc0 = struct(lit(0.0).as("l"), lit(0.0).as("b"), lit(true).as("first"),
      array().cast(outType).as("out"))
    val folded = daily.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("arr"))
      .select(col("event_type"), aggregate(col("arr"), acc0, (acc, x) => {
        val l = acc.getField("l"); val b = acc.getField("b")
        val y = x.getField("y")
        val nl = when(acc.getField("first"), y)
          .otherwise(lit(HoltAlpha) * y + lit(1 - HoltAlpha) * (l + b))
        val nb = when(acc.getField("first"), lit(0.0))
          .otherwise(lit(HoltBeta) * (nl - l) + lit(1 - HoltBeta) * b)
        struct(nl.as("l"), nb.as("b"), lit(false).as("first"),
          concat(acc.getField("out"),
            array(struct(x.getField("day").as("day"), nl.as("l"), nb.as("b"))))
            .as("out"))
      }).getField("out").as("out"))
    folded.select(col("event_type"), explode(col("out")).as("h"))
      .select(col("event_type"), col("h.day").as("day"),
        (floor(col("h.l") * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("level"),
        (floor(col("h.b") * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("trend"))
  }

  private lazy val qHoltSql =
    s"""WITH RECURSIVE daily AS (
         SELECT event_type AS et, strftime(ts, '%Y-%m-%d') AS day,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
         FROM events GROUP BY 1, 2),
       idx AS (SELECT et, day, y,
                 row_number() OVER (PARTITION BY et ORDER BY day) AS i
               FROM daily),
       h(et, i, day, l, b) AS (
         SELECT et, i, day, y, CAST(0.0 AS DOUBLE) FROM idx WHERE i = 1
         UNION ALL
         SELECT d.et, d.i, d.day,
           $HoltAlpha*d.y + ${1 - HoltAlpha}*(h.l + h.b),
           $HoltBeta*(($HoltAlpha*d.y + ${1 - HoltAlpha}*(h.l + h.b)) - h.l)
             + ${1 - HoltBeta}*h.b
         FROM h JOIN idx d ON d.et = h.et AND d.i = h.i + 1)
       SELECT et AS event_type, day,
         floor(l * 1000000.0 + 0.5) / 1000000.0 AS level,
         floor(b * 1000000.0 + 0.5) / 1000000.0 AS trend
       FROM h"""

  /** Holt–Winters seasonal constant — dyadic like [[HoltAlpha]]/
    * [[HoltBeta]] so the recursion's only fp error is the adds/multiplies
    * themselves, identical in both engines. */
  val HwGamma = 0.25
  /** Holt–Winters season length: day-of-week. */
  val HwPeriod = 7

  /** q_holt_winters: additive triple-exponential (Holt–Winters)
    * smoothing of the daily value totals per event type — the SEASONAL
    * member completing the smoothing family (q_ewma tracks level,
    * q_holt level+trend, this adds the day-of-week component q_seasonal
    * models statically):
    *   l_t = α(y_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    *   s_t = γ(y_t − l_t) + (1−γ)s_{t−m}
    * with the COLD-START init (l_1 = y_1, b_1 = 0, s ≡ 0 until one full
    * period has passed — the seasonal factors learn through γ), which
    * keeps the replayed recursion uniform in both engines. The state
    * carries the last ≤m seasonal values as a rotating array (head =
    * s_{t−m}); the fold runs over each type's SORTED collected daily
    * series — calendar-bounded, the q_ks_test granularity rule, never
    * the fact table. The oracle replays the identical recursion as a
    * recursive CTE carrying the same rotating list; inputs are
    * exact-decimal daily sums cast once to double, constants dyadic,
    * operation order matched term by term, rounding on emission only. */
  def qHoltWinters(s: SparkSession, dir: String): DataFrame =
    hwFolded(s, dir)
      .select(col("event_type"), col("h.day").as("day"),
        (floor(col("h.l") * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("level"),
        (floor(col("h.b") * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("trend"),
        (floor(col("h.sn") * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("seasonal"))

  /** The Holt–Winters recursion, one row per (event_type, day) with the
    * full state struct `h` = (day, l, b, sn, fit, y): fit is the
    * ONE-STEP-AHEAD forecast made BEFORE seeing y_t (l+b+s_{t−m} from
    * the previous state, NULL on each type's first day) — shared by the
    * smoothing surface and the forecast-accuracy scoreboard. */
  private def hwFolded(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).cast("double").as("y"))
    val outType =
      "array<struct<day:string,l:double,b:double,sn:double,fit:double,y:double>>"
    val acc0 = struct(lit(0.0).as("l"), lit(0.0).as("b"), lit(true).as("first"),
      array().cast("array<double>").as("s"), array().cast(outType).as("out"))
    val folded = daily.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("arr"))
      .select(col("event_type"), aggregate(col("arr"), acc0, (acc, x) => {
        val l = acc.getField("l"); val b = acc.getField("b")
        val sArr = acc.getField("s"); val y = x.getField("y")
        val sPrev = when(size(sArr) >= HwPeriod, element_at(sArr, 1))
          .otherwise(lit(0.0))
        val fit = when(acc.getField("first"), lit(null).cast("double"))
          .otherwise(l + b + sPrev)
        val nl = when(acc.getField("first"), y)
          .otherwise(lit(HoltAlpha) * (y - sPrev) + lit(1 - HoltAlpha) * (l + b))
        val nb = when(acc.getField("first"), lit(0.0))
          .otherwise(lit(HoltBeta) * (nl - l) + lit(1 - HoltBeta) * b)
        val ns = lit(HwGamma) * (y - nl) + lit(1 - HwGamma) * sPrev
        val kept = when(size(sArr) >= HwPeriod,
          slice(sArr, 2, HwPeriod - 1)).otherwise(sArr)
        struct(nl.as("l"), nb.as("b"), lit(false).as("first"),
          concat(kept, array(ns)).as("s"),
          concat(acc.getField("out"),
            array(struct(x.getField("day").as("day"), nl.as("l"),
              nb.as("b"), ns.as("sn"), fit.as("fit"), y.as("y")))).as("out"))
      }).getField("out").as("out"))
    folded.select(col("event_type"), explode(col("out")).as("h"))
  }

  /** q_hw_eval: Holt–Winters forecast-accuracy scoreboard — the
    * M-competition question q_forecast_eval's naive baselines set up:
    * does the MODEL actually beat them? Per event type: MAE/RMSE of the
    * one-step-ahead HW forecast (the fit column of the shared recursion,
    * made strictly before each observation) and the MASE-style ratio
    * against the naive-1 forecast over the SAME evaluation days.
    * Forecast errors are doubles, so every sum folds the SORTED
    * calendar-bounded day array (the k-bounded ordered-fold rule); the
    * oracle replays the identical recursion and folds. */
  def qHwEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy(col("h.day").asc)
    val rows = hwFolded(s, dir)
      .withColumn("y_prev", lag(col("h.y"), 1).over(w))
      .filter(col("h.fit").isNotNull && col("y_prev").isNotNull)
      .select(col("event_type"), col("h.day").as("day"),
        abs(col("h.y") - col("h.fit")).as("e_hw"),
        ((col("h.y") - col("h.fit")) * (col("h.y") - col("h.fit"))).as("e2_hw"),
        abs(col("h.y") - col("y_prev")).as("e_n1"))
    def fold(c: String) =
      aggregate(array_sort(collect_list(struct(col("day"), col(c).as("x")))),
        lit(0.0), (acc, r) => acc + r.getField("x")).as(c + "_sum")
    rows.groupBy("event_type")
      .agg(count(lit(1)).as("n_eval"), fold("e_hw"), fold("e2_hw"), fold("e_n1"))
      .select(col("event_type"), col("n_eval"),
        round(col("e_hw_sum") / col("n_eval").cast("double"), 6).as("mae_hw"),
        round(sqrt(col("e2_hw_sum") / col("n_eval").cast("double")), 6)
          .as("rmse_hw"),
        round(col("e_n1_sum") / col("n_eval").cast("double"), 6).as("mae_naive"),
        round(col("e_hw_sum") / col("e_n1_sum"), 6).as("mase_vs_naive"),
        (col("e_hw_sum") < col("e_n1_sum")).as("beats_naive"))
  }

  private lazy val qHwEvalSql = {
    val a = HoltAlpha; val b = HoltBeta; val g = HwGamma; val m = HwPeriod
    val sPrev = s"(CASE WHEN len(h.s) >= $m THEN h.s[1] ELSE 0.0 END)"
    val nl = s"($a*(d.y - $sPrev) + ${1 - a}*(h.l + h.b))"
    s"""WITH RECURSIVE daily AS (
         SELECT event_type AS et, strftime(ts, '%Y-%m-%d') AS day,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
         FROM events GROUP BY 1, 2),
       idx AS (SELECT et, day, y,
                 row_number() OVER (PARTITION BY et ORDER BY day) AS i
               FROM daily),
       h(et, i, day, l, b, sn, s, fit, y) AS (
         SELECT et, i, day, y, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
           [CAST(0.0 AS DOUBLE)], CAST(NULL AS DOUBLE), y FROM idx WHERE i = 1
         UNION ALL
         SELECT d.et, d.i, d.day,
           $nl,
           $b*($nl - h.l) + ${1 - b}*h.b,
           $g*(d.y - $nl) + ${1 - g}*$sPrev,
           (CASE WHEN len(h.s) >= $m THEN h.s[2:] ELSE h.s END)
             || [$g*(d.y - $nl) + ${1 - g}*$sPrev],
           h.l + h.b + $sPrev,
           d.y
         FROM h JOIN idx d ON d.et = h.et AND d.i = h.i + 1),
       rows_ AS (SELECT et, day,
           abs(y - fit) AS e_hw,
           (y - fit) * (y - fit) AS e2_hw,
           abs(y - y_prev) AS e_n1
         FROM (SELECT h.*, lag(y) OVER (PARTITION BY et ORDER BY day) AS y_prev
               FROM h)
         WHERE fit IS NOT NULL AND y_prev IS NOT NULL)
       SELECT et AS event_type, CAST(count(*) AS BIGINT) AS n_eval,
         round(list_sum(list(e_hw ORDER BY day)) / count(*), 6) AS mae_hw,
         round(sqrt(list_sum(list(e2_hw ORDER BY day)) / count(*)), 6) AS rmse_hw,
         round(list_sum(list(e_n1 ORDER BY day)) / count(*), 6) AS mae_naive,
         round(list_sum(list(e_hw ORDER BY day))
           / list_sum(list(e_n1 ORDER BY day)), 6) AS mase_vs_naive,
         list_sum(list(e_hw ORDER BY day)) < list_sum(list(e_n1 ORDER BY day))
           AS beats_naive
       FROM rows_ GROUP BY et"""
  }

  private lazy val qHoltWintersSql = {
    val a = HoltAlpha; val b = HoltBeta; val g = HwGamma; val m = HwPeriod
    // the recursive step needs sPrev/nl inline-expanded (recursive CTEs
    // can't name intermediates); text mirrors the Spark expression order
    val sPrev = s"(CASE WHEN len(h.s) >= $m THEN h.s[1] ELSE 0.0 END)"
    val nl = s"($a*(d.y - $sPrev) + ${1 - a}*(h.l + h.b))"
    s"""WITH RECURSIVE daily AS (
         SELECT event_type AS et, strftime(ts, '%Y-%m-%d') AS day,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
         FROM events GROUP BY 1, 2),
       idx AS (SELECT et, day, y,
                 row_number() OVER (PARTITION BY et ORDER BY day) AS i
               FROM daily),
       h(et, i, day, l, b, sn, s) AS (
         SELECT et, i, day, y, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
           [CAST(0.0 AS DOUBLE)] FROM idx WHERE i = 1
         UNION ALL
         SELECT d.et, d.i, d.day,
           $nl,
           $b*($nl - h.l) + ${1 - b}*h.b,
           $g*(d.y - $nl) + ${1 - g}*$sPrev,
           (CASE WHEN len(h.s) >= $m THEN h.s[2:] ELSE h.s END)
             || [$g*(d.y - $nl) + ${1 - g}*$sPrev]
         FROM h JOIN idx d ON d.et = h.et AND d.i = h.i + 1)
       SELECT et AS event_type, day,
         floor(l * 1000000.0 + 0.5) / 1000000.0 AS level,
         floor(b * 1000000.0 + 0.5) / 1000000.0 AS trend,
         floor(sn * 1000000.0 + 0.5) / 1000000.0 AS seasonal
       FROM h"""
  }

  /** Residual-over-weekday-mean multiple above which a day is flagged
    * (|resid| > 1/10 of the weekday mean — calibrated so the flag
    * discriminates at both test SFs: 84/150 days at sf0.01, 4/150 at
    * sf0.1; daily means concentrate as √n, so the fraction that trips
    * shrinks with scale — honest true negatives, never constant). */
  val SeasonalFlagFrac = 10

  /** q_seasonal: day-of-week seasonal baseline + residuals for the daily
    * value totals per event type — the deseasonalized twin of q_anomaly
    * (whose global z-score flags every Saturday if weekends run hot):
    * each day is compared to ITS WEEKDAY's mean. The comparison stays in
    * cross-multiplied exact decimals (y·n_w vs Σ_w), the flag is the
    * exact-integer test |y·n_w − Σ_w|·10 > Σ_w (residual above 10% of
    * the weekday mean), and only the reported residual divides. Weekday
    * numbering normalized to 0=Sunday in both engines. One
    * calendar-bounded aggregate + one 7-row-per-type join. */
  def qSeasonal(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).as("y"))
      .withColumn("weekday", (dayofweek(to_date(col("day"))) - 1).cast("int"))
    val byW = daily.groupBy("event_type", "weekday")
      .agg(count(lit(1)).as("n_w"), sum(col("y")).as("sum_w"))
    val resid = col("y") * col("n_w") - col("sum_w")
    daily.join(byW, Seq("event_type", "weekday"))
      .select(col("event_type"), col("day"), col("weekday"),
        round(resid.cast("double") / col("n_w"), 6).as("residual"),
        (abs(resid) * SeasonalFlagFrac > col("sum_w")).as("anomalous"))
  }

  private lazy val qSeasonalSql =
    s"""WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS y
         FROM events GROUP BY 1, 2),
       wd AS (SELECT event_type, day, y,
                CAST(dayofweek(CAST(day AS DATE)) AS INT) AS weekday
              FROM daily),
       byw AS (SELECT event_type, weekday, CAST(count(*) AS BIGINT) AS n_w,
                 sum(y) AS sum_w
               FROM wd GROUP BY 1, 2)
       SELECT wd.event_type, wd.day, wd.weekday,
         round(CAST(wd.y * n_w - sum_w AS DOUBLE) / n_w, 6) AS residual,
         abs(wd.y * n_w - sum_w) * $SeasonalFlagFrac > sum_w AS anomalous
       FROM wd JOIN byw ON byw.event_type = wd.event_type
         AND byw.weekday = wd.weekday"""

  /** q_changepoint: binary-segmentation changepoint LOCALIZATION per
    * event type — the companion to q_cusum's drift DETECTION: the split
    * day maximizing the centered-prefix statistic |S_t − (t/n)·S_n|,
    * i.e. the first cut binary segmentation would make. Cross-multiplied
    * into exact decimals (stat = |n·S_t − t·S_n|, the same `pref` the
    * CUSUM pass builds), argmax by exact-decimal equality join with a
    * min-day tie-break — no fp comparison anywhere before the final
    * display cast. Windows run at day granularity per type (bounded by
    * the calendar, never the fact table). */
  def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("tot"))
    val st = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("tot")).as("s"))
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily.join(st, Seq("event_type"))
      .withColumn("t", row_number().over(wOrd))
      .withColumn("csum", sum(col("tot")).over(wRun))
      .withColumn("stat", abs(col("n") * col("csum") - col("t") * col("s")))
    val best = scored.groupBy("event_type").agg(max(col("stat")).as("ms"))
    scored.join(best, Seq("event_type"))
      .filter(col("stat") === col("ms"))
      .groupBy("event_type")
      .agg(first(col("n")).as("n_days"), min(col("day")).as("cp_day"),
        first(col("ms")).as("ms"))
      .select(col("event_type"), col("n_days"), col("cp_day"),
        round(col("ms").cast("double") / (col("n_days") * col("n_days")), 6)
          .as("cp_stat"))
  }

  private lazy val qChangepointSql =
    """WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS tot
         FROM events GROUP BY 1, 2),
       st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(tot) AS s
              FROM daily GROUP BY 1),
       idx AS (
         SELECT d.event_type, d.day, st.n, st.s,
           row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS t,
           sum(d.tot) OVER (PARTITION BY d.event_type ORDER BY d.day
             ROWS UNBOUNDED PRECEDING) AS csum
         FROM daily d JOIN st ON st.event_type = d.event_type),
       p AS (SELECT event_type, day, n, abs(n*csum - t*s) AS stat FROM idx),
       m AS (SELECT event_type, max(stat) AS ms FROM p GROUP BY event_type)
       SELECT p.event_type, any_value(p.n) AS n_days, min(p.day) AS cp_day,
         round(CAST(any_value(m.ms) AS DOUBLE) / (any_value(p.n) * any_value(p.n)), 6) AS cp_stat
       FROM p JOIN m ON m.event_type = p.event_type AND p.stat = m.ms
       GROUP BY p.event_type"""

  /** Minimum segment length for a level-2 split in [[qBinseg]] (two days
    * on each side of the candidate split). */
  val BinsegMinSeg = 4

  /** q_binseg: MULTI-changepoint detection by binary segmentation (Scott
    * & Knott 1974; the standard first answer to "q_changepoint found one
    * shift — were there more?"): level 1 is exactly q_changepoint's
    * scaled-CUSUM argmax; the series is then split there and the SAME
    * statistic re-run INSIDE each half with segment-local sums —
    * stat(t) = |len·(csum_t − c_left) − (t − a + 1)·S_seg| — emitting up
    * to three changepoints (levels 1 / 2L / 2R), halves shorter than
    * [[BinsegMinSeg]] skipped. Everything stays exact DECIMAL/integer up
    * to the one normalized readout division (the q_changepoint
    * discipline); ties break to the earliest day. Depth 2 is the honest
    * relational form: each level is one window pass + one argmax join,
    * and deeper trees repeat the same two operators on the emitted
    * segment table — the iteration is by LEVEL (log-depth), never by
    * changepoint, which is what makes binary segmentation the scalable
    * member of the changepoint family at 100 TB. */
  def qBinseg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("tot"))
    val st = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("tot")).as("s"))
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily.join(st, Seq("event_type"))
      .withColumn("t", row_number().over(wOrd))
      .withColumn("csum", sum(col("tot")).over(wRun))
      .localCheckpoint(true)
    val stat1 = scored
      .withColumn("stat", abs(col("n") * col("csum") - col("t") * col("s")))
    val best1 = stat1.join(
        stat1.groupBy("event_type").agg(max(col("stat")).as("ms")),
        Seq("event_type"))
      .filter(col("stat") === col("ms"))
      .groupBy("event_type")
      .agg(min(col("t")).as("cp1"), first(col("n")).as("n_days"),
        first(col("s")).as("s_all"), first(col("ms")).as("ms1"))
    val cp1Sum = best1.select(col("event_type"), col("cp1"))
      .join(scored.select(col("event_type"), col("t"), col("csum")),
        Seq("event_type"))
      .filter(col("t") === col("cp1"))
      .select(col("event_type"), col("csum").as("c1"))
    val l1 = best1.join(cp1Sum, Seq("event_type"))
      .localCheckpoint(true)
    // level 2: the same statistic with segment-local bounds
    val seg2 = scored.join(l1, Seq("event_type"))
      .select(col("event_type"), col("day"), col("t"), col("csum"),
        when(col("t") <= col("cp1"), lit("2L")).otherwise(lit("2R")).as("lvl"),
        when(col("t") <= col("cp1"), lit(1L)).otherwise(col("cp1") + 1)
          .as("a"),
        when(col("t") <= col("cp1"), col("cp1")).otherwise(col("n_days"))
          .as("b"),
        when(col("t") <= col("cp1"), lit(java.math.BigDecimal.ZERO)
          .cast("decimal(38,6)")).otherwise(col("c1").cast("decimal(38,6)"))
          .as("cl"),
        when(col("t") <= col("cp1"), col("c1").cast("decimal(38,6)"))
          .otherwise((col("s_all") - col("c1")).cast("decimal(38,6)"))
          .as("sseg"))
      .filter(col("b") - col("a") + 1 >= BinsegMinSeg && col("t") < col("b"))
      .withColumn("stat", abs((col("b") - col("a") + 1) *
        (col("csum") - col("cl")) - (col("t") - col("a") + 1) * col("sseg")))
    val best2 = seg2.join(
        seg2.groupBy("event_type", "lvl").agg(max(col("stat")).as("ms")),
        Seq("event_type", "lvl"))
      .filter(col("stat") === col("ms"))
      .groupBy("event_type", "lvl")
      .agg(min(col("day")).as("cp_day"),
        first(col("b") - col("a") + 1).as("seg_len"), first(col("ms")).as("ms2"))
      .select(col("event_type"), col("lvl").as("level"), col("cp_day"),
        col("seg_len").cast("long").as("seg_len"),
        round(col("ms2").cast("double") / (col("seg_len") * col("seg_len")), 6)
          .as("cp_stat"))
    val lvl1Out = l1.join(
        scored.select(col("event_type"), col("t"), col("day")),
        Seq("event_type"))
      .filter(col("t") === col("cp1"))
      .select(col("event_type"), lit("1").as("level"), col("day").as("cp_day"),
        col("n_days").cast("long").as("seg_len"),
        round(col("ms1").cast("double") / (col("n_days") * col("n_days")), 6)
          .as("cp_stat"))
    lvl1Out.unionByName(best2)
  }

  private lazy val qBinsegSql =
    s"""WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS tot
         FROM events GROUP BY 1, 2),
       st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(tot) AS s
              FROM daily GROUP BY 1),
       idx AS (
         SELECT d.event_type, d.day, st.n, st.s,
           row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS t,
           sum(d.tot) OVER (PARTITION BY d.event_type ORDER BY d.day
             ROWS UNBOUNDED PRECEDING) AS csum
         FROM daily d JOIN st ON st.event_type = d.event_type),
       p1 AS (SELECT event_type, day, t, n, s, csum,
                abs(n*csum - t*s) AS stat FROM idx),
       m1 AS (SELECT event_type, max(stat) AS ms FROM p1 GROUP BY 1),
       b1 AS (SELECT p1.event_type, min(p1.t) AS cp1,
                any_value(p1.n) AS n_days, any_value(p1.s) AS s_all,
                any_value(m1.ms) AS ms1
              FROM p1 JOIN m1 ON m1.event_type = p1.event_type
                AND p1.stat = m1.ms
              GROUP BY 1),
       l1 AS (SELECT b1.*, i.csum AS c1
              FROM b1 JOIN idx i ON i.event_type = b1.event_type
                AND i.t = b1.cp1),
       s2 AS (SELECT i.event_type, i.day, i.t, i.csum,
                CASE WHEN i.t <= l1.cp1 THEN '2L' ELSE '2R' END AS lvl,
                CASE WHEN i.t <= l1.cp1 THEN 1 ELSE l1.cp1 + 1 END AS a,
                CASE WHEN i.t <= l1.cp1 THEN l1.cp1 ELSE l1.n_days END AS b,
                CASE WHEN i.t <= l1.cp1
                  THEN CAST(0 AS DECIMAL(38,6))
                  ELSE CAST(l1.c1 AS DECIMAL(38,6)) END AS cl,
                CASE WHEN i.t <= l1.cp1
                  THEN CAST(l1.c1 AS DECIMAL(38,6))
                  ELSE CAST(l1.s_all - l1.c1 AS DECIMAL(38,6)) END AS sseg
              FROM idx i JOIN l1 ON l1.event_type = i.event_type),
       p2 AS (SELECT event_type, day, lvl, a, b,
                abs((b - a + 1) * (csum - cl) - (t - a + 1) * sseg) AS stat
              FROM s2 WHERE b - a + 1 >= $BinsegMinSeg AND t < b),
       m2 AS (SELECT event_type, lvl, max(stat) AS ms
              FROM p2 GROUP BY 1, 2),
       b2 AS (SELECT p2.event_type, p2.lvl AS level, min(p2.day) AS cp_day,
                CAST(any_value(p2.b - p2.a + 1) AS BIGINT) AS seg_len,
                round(CAST(any_value(m2.ms) AS DOUBLE)
                  / (any_value(p2.b - p2.a + 1) * any_value(p2.b - p2.a + 1)),
                  6) AS cp_stat
              FROM p2 JOIN m2 ON m2.event_type = p2.event_type
                AND m2.lvl = p2.lvl AND p2.stat = m2.ms
              GROUP BY 1, 2),
       o1 AS (SELECT l1.event_type, '1' AS level, i.day AS cp_day,
                CAST(l1.n_days AS BIGINT) AS seg_len,
                round(CAST(l1.ms1 AS DOUBLE) / (l1.n_days * l1.n_days), 6)
                  AS cp_stat
              FROM l1 JOIN idx i ON i.event_type = l1.event_type
                AND i.t = l1.cp1)
       SELECT * FROM o1 UNION ALL SELECT * FROM b2"""

  /** q_pettitt: Pettitt's nonparametric change-point test per event type
    * — the RANK-based member of the change-point family (q_changepoint's
    * CUSUM statistic reacts to mean shifts in VALUE units; Pettitt is
    * its distribution-free twin, immune to heavy tails and monotone
    * rescalings). U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i−x_j) collapses to
    * U_t = S2_t − t(N+1) with DOUBLED midranks (r2 = 2·cum_before+d+1,
    * ties contribute sgn 0 exactly as midranks do), so every
    * intermediate is an exact INTEGER and U_N ≡ 0 is a built-in
    * self-check of the rank algebra. K = max|U_t| (earliest day on
    * ties), with the standard approximation p ≈ 2·exp(−6K²/(N³+N²)) —
    * the ONLY fp step, derived from two exact integers identically in
    * both engines. Day-bounded series (≤ calendar days per type) after
    * one fact-table aggregate — the same scale shape as q_changepoint. */
  def qPettitt(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("tot"))
    val wVal = Window.partitionBy("event_type").orderBy("tot")
    val wTie = Window.partitionBy("event_type", "tot")
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = count(lit(1)).over(Window.partitionBy("event_type"))
    val ranked = daily
      .withColumn("r2", lit(2L) * rank().over(wVal) +
        count(lit(1)).over(wTie) - 1L)
      .withColumn("n", n)
      .withColumn("t", row_number().over(wOrd))
      .withColumn("u", sum(col("r2")).over(wRun) - col("t") * (col("n") + 1L))
    val best = ranked.groupBy("event_type")
      .agg(max(abs(col("u"))).as("k_stat"))
    // Clamped at 1: the asymptotic 2·exp(…) form exceeds 1 for small K
    // and the column claims to be a probability (r16 ADVICE).
    val p = least(lit(1.0),
      lit(2.0) * exp(lit(-6.0) * col("k_stat") * col("k_stat") /
        (col("n_days").cast("double") * col("n_days") * col("n_days") +
          col("n_days").cast("double") * col("n_days"))))
    ranked.join(best, Seq("event_type"))
      .filter(abs(col("u")) === col("k_stat"))
      .groupBy("event_type")
      .agg(first(col("n")).as("n_days"), min(col("day")).as("cp_day"),
        first(col("k_stat")).as("k_stat"))
      .select(col("event_type"), col("n_days"), col("cp_day"), col("k_stat"),
        round(p, 6).as("p_approx"), (p < 0.05).as("significant"))
  }

  private lazy val qPettittSql =
    """WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS tot
         FROM events GROUP BY 1, 2),
       rk AS (
         SELECT event_type, day,
           2 * rank() OVER (PARTITION BY event_type ORDER BY tot)
             + count(*) OVER (PARTITION BY event_type, tot) - 1 AS r2,
           count(*) OVER (PARTITION BY event_type) AS n,
           row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
         FROM daily),
       u AS (
         SELECT event_type, day, n,
           sum(r2) OVER (PARTITION BY event_type ORDER BY day
             ROWS UNBOUNDED PRECEDING) - t * (n + 1) AS u
         FROM rk),
       k AS (SELECT event_type, CAST(max(abs(u)) AS BIGINT) AS k_stat
             FROM u GROUP BY 1)
       SELECT u.event_type, CAST(any_value(u.n) AS BIGINT) AS n_days,
         min(u.day) AS cp_day, any_value(k.k_stat) AS k_stat,
         round(least(1.0,
           2.0 * exp(-6.0 * any_value(k.k_stat) * any_value(k.k_stat) /
           (CAST(any_value(u.n) AS DOUBLE) * any_value(u.n) * any_value(u.n)
             + CAST(any_value(u.n) AS DOUBLE) * any_value(u.n)))), 6)
           AS p_approx,
         2.0 * exp(-6.0 * any_value(k.k_stat) * any_value(k.k_stat) /
           (CAST(any_value(u.n) AS DOUBLE) * any_value(u.n) * any_value(u.n)
             + CAST(any_value(u.n) AS DOUBLE) * any_value(u.n))) < 0.05
           AS significant
       FROM u JOIN k ON k.event_type = u.event_type
         AND abs(u.u) = k.k_stat
       GROUP BY u.event_type"""

  /** F(1, ~26) α=0.05 critical value for [[qGranger]]'s fixed 30-day
    * calendar (df₂ = n−3 ≈ 26 ⇒ 4.225; 4.24 is the conservative pin). */
  val GrangerCrit005 = 4.24

  /** q_granger: pairwise lag-1 Granger-causality screen over the daily
    * event-count series — "do yesterday's counts of type A improve the
    * prediction of today's counts of type B beyond B's own yesterday?"
    * For one lag the F-test of the restricted-vs-full OLS is EXACTLY the
    * partial-correlation test of corr(y_t, x_{t−1} · y_{t−1}):
    * F = r²_p·(n−3)/(1−r²_p) — so the whole screen reduces to three
    * plain correlations per directed pair, each assembled from exact
    * DECIMAL moment sums of INTEGER daily counts (the q_corr_matrix
    * discipline: nΣuv−ΣuΣv and the variance products stay exact until
    * ONE final double division each). Directed k²−k pairs × ≤30 aligned
    * days — dimension-bounded after one fact aggregate. Degenerate
    * series (zero variance, |r|≥1 after alignment) yield NULL via
    * nullif in both engines rather than ±∞. */
  def qGranger(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      .withColumn("prev", lag(col("cnt"), 1).over(wOrd))
      .filter(col("prev").isNotNull)
    val a = daily.select(col("event_type").as("cause"), col("day"),
      col("prev").as("x1"))
    val b = daily.select(col("event_type").as("effect"), col("day"),
      col("cnt").as("y"), col("prev").as("y1"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val m = a.join(b, Seq("day")).filter(col("cause") =!= col("effect"))
      .groupBy("cause", "effect")
      .agg(count(lit(1)).as("n"),
        sum(d38(col("y"))).as("sy"), sum(d38(col("x1"))).as("sx"),
        sum(d38(col("y1"))).as("sy1"),
        sum(d38(col("y")) * col("y")).as("syy"),
        sum(d38(col("x1")) * col("x1")).as("sxx"),
        sum(d38(col("y1")) * col("y1")).as("sy1y1"),
        sum(d38(col("y")) * col("x1")).as("syx"),
        sum(d38(col("y")) * col("y1")).as("syy1"),
        sum(d38(col("x1")) * col("y1")).as("sxy1"))
    def r(suv: Column, su: Column, sv: Column, suu: Column, svv: Column) = {
      val num = (col("n") * suv - su * sv).cast("double")
      val den = (col("n") * suu - su * su).cast("double") *
        (col("n") * svv - sv * sv).cast("double")
      num / sqrt(nullif(den, lit(0.0)))
    }
    val staged = m
      .withColumn("r_yx", r(col("syx"), col("sy"), col("sx"), col("syy"), col("sxx")))
      .withColumn("r_yy1", r(col("syy1"), col("sy"), col("sy1"), col("syy"), col("sy1y1")))
      .withColumn("r_xy1", r(col("sxy1"), col("sx"), col("sy1"), col("sxx"), col("sy1y1")))
      .withColumn("rp", (col("r_yx") - col("r_yy1") * col("r_xy1")) /
        sqrt(nullif((lit(1.0) - col("r_yy1") * col("r_yy1")) *
          (lit(1.0) - col("r_xy1") * col("r_xy1")), lit(0.0))))
      .withColumn("f", col("rp") * col("rp") * (col("n") - 3) /
        nullif(lit(1.0) - col("rp") * col("rp"), lit(0.0)))
    staged.select(col("cause"), col("effect"), col("n"),
      round(col("rp"), 6).as("r_partial"), round(col("f"), 6).as("f_stat"),
      (col("f") > GrangerCrit005).as("significant"))
  }

  private lazy val qGrangerSql =
    s"""WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1, 2),
       lagd AS (
         SELECT event_type, day, cnt,
           lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS prev
         FROM daily),
       f AS (SELECT * FROM lagd WHERE prev IS NOT NULL),
       m AS (
         SELECT a.event_type AS cause, b.event_type AS effect,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(b.cnt AS HUGEINT)) AS sy,
           sum(CAST(a.prev AS HUGEINT)) AS sx,
           sum(CAST(b.prev AS HUGEINT)) AS sy1,
           sum(CAST(b.cnt AS HUGEINT) * b.cnt) AS syy,
           sum(CAST(a.prev AS HUGEINT) * a.prev) AS sxx,
           sum(CAST(b.prev AS HUGEINT) * b.prev) AS sy1y1,
           sum(CAST(b.cnt AS HUGEINT) * a.prev) AS syx,
           sum(CAST(b.cnt AS HUGEINT) * b.prev) AS syy1,
           sum(CAST(a.prev AS HUGEINT) * b.prev) AS sxy1
         FROM f a JOIN f b ON a.day = b.day
           AND a.event_type <> b.event_type
         GROUP BY 1, 2),
       rr AS (
         SELECT cause, effect, n,
           CAST(n*syx - sx*sy AS DOUBLE)
             / sqrt(nullif(CAST(n*syy - sy*sy AS DOUBLE)
                 * CAST(n*sxx - sx*sx AS DOUBLE), 0.0)) AS r_yx,
           CAST(n*syy1 - sy*sy1 AS DOUBLE)
             / sqrt(nullif(CAST(n*syy - sy*sy AS DOUBLE)
                 * CAST(n*sy1y1 - sy1*sy1 AS DOUBLE), 0.0)) AS r_yy1,
           CAST(n*sxy1 - sx*sy1 AS DOUBLE)
             / sqrt(nullif(CAST(n*sxx - sx*sx AS DOUBLE)
                 * CAST(n*sy1y1 - sy1*sy1 AS DOUBLE), 0.0)) AS r_xy1
         FROM m),
       pp AS (
         SELECT cause, effect, n,
           (r_yx - r_yy1 * r_xy1)
             / sqrt(nullif((1.0 - r_yy1 * r_yy1) * (1.0 - r_xy1 * r_xy1),
                 0.0)) AS rp
         FROM rr),
       ff AS (
         SELECT cause, effect, n, rp,
           rp * rp * (n - 3) / nullif(1.0 - rp * rp, 0.0) AS f
         FROM pp)
       SELECT cause, effect, n, round(rp, 6) AS r_partial,
         round(f, 6) AS f_stat, f > $GrangerCrit005 AS significant
       FROM ff"""

  /** z₀.₉₇₅ + z₀.₈₀ — the 5%-significance / 80%-power constant of the
    * two-proportion sample-size identity (1.959964 + 0.841621). */
  val MdeZ = 2.801585

  /** q_mde: minimum detectable effect per event type — the experiment-
    * design counterpart of q_two_prop/q_ab_test (those test a lift
    * AFTER the fact; this reports the smallest lift an A/B split of the
    * CURRENT traffic could detect at α=0.05 / 80% power): with n users
    * per arm (half the type's distinct users) and baseline conversion p
    * (share of users with ≥2 events of the type),
    * MDE_abs = z·√(2p(1−p)/n). Both inputs are exact integer counts
    * from one distinct-user aggregate — the divisions and the √ are
    * the only fp steps, identical in both engines; p = 0/1 degeneracy
    * yields NULL relative MDE via nullif. */
  def qMde(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("n_ev"))
    val m = perUser.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("n_ev") >= 2, 1L).otherwise(0L)).as("n_conv"))
    val p = col("n_conv").cast("double") / col("n_users")
    val nArm = col("n_users").cast("double") / 2
    val mdeAbs = lit(MdeZ) * sqrt(lit(2.0) * p * (lit(1.0) - p) / nArm)
    m.select(col("event_type"), col("n_users"), col("n_conv"),
      round(p, 6).as("p_base"), round(mdeAbs, 6).as("mde_abs"),
      round(mdeAbs / nullif(p, lit(0.0)), 6).as("mde_rel"))
  }

  private lazy val qMdeSql =
    s"""WITH pu AS (SELECT event_type, user_id, count(*) AS n_ev
         FROM events GROUP BY 1, 2),
       m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN n_ev >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_conv
             FROM pu GROUP BY 1)
       SELECT event_type, n_users, n_conv,
         round(CAST(n_conv AS DOUBLE) / n_users, 6) AS p_base,
         round($MdeZ * sqrt(2.0 * (CAST(n_conv AS DOUBLE) / n_users)
           * (1.0 - CAST(n_conv AS DOUBLE) / n_users)
           / (CAST(n_users AS DOUBLE) / 2)), 6) AS mde_abs,
         round($MdeZ * sqrt(2.0 * (CAST(n_conv AS DOUBLE) / n_users)
           * (1.0 - CAST(n_conv AS DOUBLE) / n_users)
           / (CAST(n_users AS DOUBLE) / 2))
           / nullif(CAST(n_conv AS DOUBLE) / n_users, 0.0), 6) AS mde_rel
       FROM m"""

  /** q_benford: first-significant-digit distribution audit (Benford's
    * law — the classic fabricated-data / unit-mixing smell test for a
    * measure column): per digit 1–9, the observed count, observed and
    * expected shares, and the χ² contribution. The digit is extracted
    * arithmetically — floor(v / 10^⌊log10 v⌋) — never via string
    * formatting, which is NOT engine-portable for doubles; log10/floor
    * over identical doubles are. Digits are densified against 1..9 so a
    * zero-count digit still reports. One narrow pass + one 9-row
    * aggregate. */
  def qBenford(s: SparkSession, dir: String): DataFrame = {
    // clamp into 1..9: Java guarantees log10(10^n)==n but C libm does not,
    // so an exact power of ten may floor to the previous exponent in ONE
    // engine, yielding digit 10 — which the densify join would silently
    // drop while the row still counts in n_total, diverging the gate
    val counts = Tables.events(s, dir)
      .filter(col("value") > 0)
      .select(least(greatest(
          floor(col("value") / pow(lit(10.0), floor(log10(col("value"))))), lit(1)), lit(9))
        .cast("int").as("d"))
      .groupBy("d").agg(count(lit(1)).as("n"))
    val digits = s.range(1, 10).select(col("id").cast("int").as("d"))
    val tot = counts.agg(sum(col("n")).as("n_total"))
    val p = log(lit(1.0) + lit(1.0) / col("d")) / log(lit(10.0))
    // (n − Np)² spelled as a product, not pow(x, 2): libm pow is not
    // guaranteed bit-identical across engines, multiplication is
    val e = col("n") - col("n_total") * p
    digits.join(counts, Seq("d"), "left").na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .select(col("d"), col("n"),
        round(col("n").cast("double") / col("n_total"), 6).as("observed"),
        round(p, 6).as("expected"),
        round(e * e / (col("n_total") * p), 6).as("chi_term"))
  }

  private lazy val qBenfordSql =
    """WITH c AS (
         SELECT CAST(least(greatest(floor(value / power(10, floor(log10(value)))), 1), 9) AS INT) AS d,
           CAST(count(*) AS BIGINT) AS n
         FROM events WHERE value > 0 GROUP BY 1),
       digits AS (SELECT CAST(range AS INT) AS d FROM range(1, 10)),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
       dense AS (SELECT digits.d, coalesce(c.n, 0) AS n FROM digits LEFT JOIN c USING (d))
       SELECT d, n,
         round(CAST(n AS DOUBLE) / n_total, 6) AS observed,
         round(ln(1.0 + 1.0 / d) / ln(10.0), 6) AS expected,
         round((n - n_total * (ln(1.0 + 1.0 / d) / ln(10.0)))
             * (n - n_total * (ln(1.0 + 1.0 / d) / ln(10.0)))
           / (n_total * (ln(1.0 + 1.0 / d) / ln(10.0))), 6) AS chi_term
       FROM dense CROSS JOIN tot"""

  /** q_autocorr: lag-1 autocorrelation of the daily value totals per
    * event type — the serial-dependence diagnostic beside CUSUM (drift)
    * and the z-gate (outliers): r₁ = Σ(xₜ−x̄)(xₜ₊₁−x̄) / Σ(xₜ−x̄)².
    * The mean subtraction is cross-multiplied away (dₜ = N·xₜ − S kept
    * in an explicitly re-cast DECIMAL(18,6) so products stay inside
    * DECIMAL(38,12) in BOTH engines), numerator and denominator are
    * exact-decimal sums, and only the final ratio divides in double. */
  def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("tot"))
    val st = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("tot")).as("s"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily.join(st, Seq("event_type"))
      .withColumn("d", (col("n") * col("tot") - col("s")).cast("decimal(18,6)"))
      .withColumn("d_next", lead(col("d"), 1).over(w))
      .groupBy("event_type")
      .agg(first(col("n")).as("n_days"),
        sum(col("d") * col("d_next")).as("num"),
        sum(col("d") * col("d")).as("den"))
      .filter(col("den") =!= lit(0).cast("decimal(38,12)"))
      .select(col("event_type"), col("n_days"),
        round(col("num").cast("double") / col("den").cast("double"), 6).as("r1"))
  }

  private lazy val qAutocorrSql =
    """WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS tot
         FROM events GROUP BY 1, 2),
       st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(tot) AS s
              FROM daily GROUP BY 1),
       d AS (SELECT daily.event_type, daily.day,
               CAST(st.n * daily.tot - st.s AS DECIMAL(18,6)) AS d, st.n
             FROM daily JOIN st ON st.event_type = daily.event_type),
       l AS (SELECT event_type, n, CAST(d AS DECIMAL(19,6)) AS d,
               CAST(lead(d, 1) OVER (PARTITION BY event_type ORDER BY day)
                 AS DECIMAL(19,6)) AS d_next
             FROM d),
       a AS (SELECT event_type, any_value(n) AS n_days,
               sum(d * d_next) AS num, sum(d * d) AS den
             FROM l GROUP BY event_type)
       SELECT event_type, n_days,
         round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r1
       FROM a WHERE den <> 0"""

  /** q_dw: Durbin–Watson serial-correlation test of the DETRENDED daily
    * value totals per event type — the residual-whiteness member of the
    * serial-dependence family that q_autocorr (raw lag-1) and
    * q_ljung_box (multi-lag, raw) do not cover: a strong calendar trend
    * masquerades as autocorrelation in both, while DW asks the question
    * a forecaster actually needs answered — "after fitting the linear
    * trend, are the RESIDUALS still serially dependent?" (the classic
    * regression-diagnostics companion to 52c's OLS). d = Σ(e_t−e_{t−1})²
    * / Σe_t² ∈ [0,4], <2 positive autocorrelation. Trend moments (n, Σt,
    * Σy, Σt², Σty) are exact integer/DECIMAL sums cast to double once;
    * slope/intercept are identical double expressions of exactly-equal
    * inputs; both order-sensitive residual sums fold over a day-SORTED
    * array in BOTH engines (first difference enters as an exact-0.0
    * first term via coalesce — IEEE-identical), the SumAuditSpec
    * discipline. n < 3 or zero residual variance → NULL. One scan, one
    * day-window pass, calendar-bounded state. */
  def qDw(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("tot"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val idx = daily.select(col("event_type"), col("day"), col("tot"),
      row_number().over(w).cast("long").as("t"))
    val m = idx.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum(col("t")).as("st"),
      sum(col("tot")).as("sy"), sum(col("t") * col("t")).as("stt"),
      sum(col("tot") * col("t").cast("decimal(10,0)")).as("sty"))
    val nD = col("n").cast("double")
    val b = (nD * col("sty").cast("double") -
        col("st").cast("double") * col("sy").cast("double")) /
      (nD * col("stt").cast("double") -
        col("st").cast("double") * col("st").cast("double"))
    val m2 = m.select(col("event_type"), col("n"), b.as("b"),
      ((col("sy").cast("double") - b * col("st").cast("double")) / nD).as("a"))
    val resid = idx.join(m2, Seq("event_type"))
      .select(col("event_type"), col("day"), col("n"),
        (col("tot").cast("double") - col("a") -
          col("b") * col("t").cast("double")).as("e"))
      .withColumn("ep", lag(col("e"), 1).over(w))
    def fold(term: Column, name: String) =
      aggregate(array_sort(collect_list(struct(col("day"), term.as("x")))),
        lit(0.0), (acc, r) => acc + r.getField("x")).as(name)
    val agg = resid.groupBy("event_type").agg(
      max(col("n")).as("n_days"),
      fold(col("e") * col("e"), "den"),
      fold(coalesce((col("e") - col("ep")) * (col("e") - col("ep")),
        lit(0.0)), "num"))
    val ok = col("n_days") >= 3 && col("den") > 0
    agg.select(col("event_type"), col("n_days"),
      when(ok, round(col("num") / col("den"), 6)).as("dw"),
      when(ok, col("num") / col("den") < 2.0).as("positive_autocorr"))
  }

  private lazy val qDwSql =
    """WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS tot
         FROM events GROUP BY 1, 2),
       idx AS (SELECT event_type, day, tot,
                 CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                   AS BIGINT) AS t
               FROM daily),
       m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(t) AS BIGINT) AS st, sum(tot) AS sy,
               CAST(sum(t * t) AS BIGINT) AS stt,
               sum(tot * CAST(t AS DECIMAL(10,0))) AS sty
             FROM idx GROUP BY 1),
       ab AS (SELECT event_type, n,
                (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b,
                (CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                      - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)))
                    * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) AS a
              FROM m),
       r AS (SELECT i.event_type, i.day, ab.n,
               CAST(i.tot AS DOUBLE) - ab.a - ab.b * CAST(i.t AS DOUBLE) AS e
             FROM idx i JOIN ab ON ab.event_type = i.event_type),
       r2 AS (SELECT event_type, day, n, e,
                lag(e) OVER (PARTITION BY event_type ORDER BY day) AS ep
              FROM r),
       agg AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
                 list_sum(list(e * e ORDER BY day)) AS den,
                 list_sum(list(coalesce((e - ep) * (e - ep),
                   CAST(0 AS DOUBLE)) ORDER BY day)) AS num
               FROM r2 GROUP BY 1)
       SELECT event_type, n_days,
         CASE WHEN n_days >= 3 AND den > 0 THEN round(num / den, 6) END AS dw,
         CASE WHEN n_days >= 3 AND den > 0 THEN num / den < 2.0 END
           AS positive_autocorr
       FROM agg"""

  /** q_spearman: Spearman rank correlation between the quality score and
    * Flesch readability — the robust (monotone-invariant) alternative to
    * 52b's Pearson matrix. Average ranks with tie handling, computed
    * DISTRIBUTED: Ranks.globalRowNumber (range-partitioned parallel
    * sort, never a one-task global window) + a per-value groupBy, where
    * average rank = (min rn + max rn)/2 ≡ rank() + (ties−1)/2. Ranks are
    * DECIMAL(19,1) (halves exact, and 19+19 respects DuckDB's 38-width
    * multiply rule), moment sums are exact decimals, and the final ρ
    * combination runs in double over quantities that are all exactly
    * representable at this scale (integers/halves ≪ 2⁵³) — at 10⁹+ rows
    * the combination would switch to the decimal cross-multiplied form. */
  def qSpearman(s: SparkSession, dir: String): DataFrame = {
    def avgRanks(df: DataFrame, v: String, out: String): DataFrame = {
      val rn = graft.functions.Ranks.globalRowNumber(
        df.select(col("doc_id"), col(v)), col(v), col("doc_id"))
      // avg rank = (min rn + max rn)/2 per VALUE, attached via one
      // value-partitioned window instead of the r20 groupBy + join-back
      // (which evaluated the ranking chain twice and shuffled three
      // times; guide §2.4 — share one exchange). Value groups are tie
      // classes — bounded by the corpus' tie structure, never a
      // single-partition window.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(v)
      rn.select(col("doc_id"),
        ((min(col("rn")).over(w) + max(col("rn")).over(w))
          .cast("decimal(19,1)") / 2).cast("decimal(19,1)").as(out))
    }
    // ONE fused pass (quality + flesch are projections of the same doc
    // row — TextAnalysis.qualityFleschDocs) instead of two scoring
    // chains joined on doc_id, then ONE eager materialization: both rank
    // branches and their rank-join backs reference the scored relation,
    // and without truncation each reference would replay the scoring
    // (guide §2.4 fusion + §3.3 materialise-shared-intermediate).
    // Doc-sized (doc_id + two doubles), so the checkpoint is tiny at
    // any scale.
    val joined = TextAnalysis.qualityFleschDocs(s, dir).localCheckpoint(true)
    val ra = avgRanks(joined.select(col("doc_id"), col("quality")), "quality", "ra")
    val rb = avgRanks(joined.select(col("doc_id"), col("flesch")), "flesch", "rb")
    ra.join(rb, Seq("doc_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("ra")).cast("double").as("sa"), sum(col("rb")).cast("double").as("sb"),
        sum(col("ra") * col("ra")).cast("double").as("saa"),
        sum(col("rb") * col("rb")).cast("double").as("sbb"),
        sum(col("ra") * col("rb")).cast("double").as("sab"))
      .select(col("n"),
        round((col("n") * col("sab") - col("sa") * col("sb")) /
          (sqrt(col("n") * col("saa") - col("sa") * col("sa")) *
            sqrt(col("n") * col("sbb") - col("sb") * col("sb"))), 6).as("rho"))
  }

  private lazy val qSpearmanSql =
    s"""WITH q AS (${TextAnalysis.qQualitySql}),
       f AS ($qReadabilitySql),
       j AS (SELECT q.doc_id, q.quality, f.flesch FROM q JOIN f ON f.doc_id = q.doc_id),
       ra AS (SELECT doc_id,
                CAST(CAST(rank() OVER (ORDER BY quality) AS DECIMAL(19,1))
                  + CAST(count(*) OVER (PARTITION BY quality) - 1 AS DECIMAL(19,1)) / 2
                  AS DECIMAL(19,1)) AS ra
              FROM j),
       rb AS (SELECT doc_id,
                CAST(CAST(rank() OVER (ORDER BY flesch) AS DECIMAL(19,1))
                  + CAST(count(*) OVER (PARTITION BY flesch) - 1 AS DECIMAL(19,1)) / 2
                  AS DECIMAL(19,1)) AS rb
              FROM j),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(ra) AS DOUBLE) AS sa, CAST(sum(rb) AS DOUBLE) AS sb,
               CAST(sum(ra * ra) AS DOUBLE) AS saa,
               CAST(sum(rb * rb) AS DOUBLE) AS sbb,
               CAST(sum(ra * rb) AS DOUBLE) AS sab
             FROM ra JOIN rb USING (doc_id))
       SELECT n, round((n * sab - sa * sb) /
         (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb)), 6) AS rho
       FROM m"""

  /** F-flag threshold for q_anova: F(2, ∞) 95th percentile ≈ 3.00 — a
    * fixed literal (like q_ab_test's 1.96) written identically in both
    * engines; with df₂ in the tens of thousands the asymptote is exact
    * to 3 decimals. */
  val AnovaFCrit = 3.0

  /** q_anova: one-way ANOVA of l_quantity across the l_returnflag groups
    * — the k-group parametric location test beside q_ab_test's two-group
    * Welch t (and the parametric twin of q_kruskal's rank version). All
    * moments are exact decimals (q carries 2 dp), combined in double only
    * at the closed form: SSB = Σⱼsⱼ²/nⱼ − S²/N, SSW = Σss − Σⱼsⱼ²/nⱼ,
    * F = (SSB/(k−1))/(SSW/(N−k)), η² = SSB/SST. The one
    * order-sensitive double sum (Σⱼ sⱼ²/nⱼ, k=3 terms) folds over a
    * SORTED group array so both engines walk identical IEEE additions
    * (the q_ndcg/annAudit discipline); everything else is exact-decimal
    * aggregation. One scan, one k-row shuffle — the group count, not the
    * fact table, bounds the second stage at any SF. Honest true negative
    * on this corpus (one generating distribution per flag; Round10bSpec
    * proves F trips on a shifted fixture). */
  def qAnova(s: SparkSession, dir: String): DataFrame =
    anovaOf(Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("g"), col("l_quantity").as("x")))

  /** One-way ANOVA core over a (g, x) relation (x carries ≤2 decimal
    * digits) — see [[qAnova]]. */
  def anovaOf(vals: DataFrame): DataFrame = {
    val d = col("x").cast("decimal(18,2)")
    val g = vals
      .groupBy("g")
      .agg(count(lit(1)).as("nj"),
        sum(d).as("s"),
        sum(d * d).as("ss"))
      .select(col("g"), col("nj"), col("s"), col("ss"),
        (col("s").cast("double") * col("s").cast("double") /
          col("nj").cast("double")).as("term"))
    val m = g.agg(
      count(lit(1)).as("k"),
      sum(col("nj")).as("n"),
      sum(col("s")).cast("double").as("stot"),
      sum(col("ss")).cast("double").as("sstot"),
      aggregate(array_sort(collect_list(struct(col("g"), col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("sb"))
    val nn = col("n").cast("double")
    val cf = col("stot") * col("stot") / nn
    val ssb = col("sb") - cf
    val sst = col("sstot") - cf
    val ssw = sst - ssb
    val f = (ssb / (col("k") - 1).cast("double")) /
      (ssw / (nn - col("k").cast("double")))
    m.select(col("k"), col("n"),
      round(ssb, 4).as("ss_between"), round(ssw, 4).as("ss_within"),
      round(f, 6).as("f"), round(ssb / sst, 6).as("eta_sq"),
      (f > AnovaFCrit).as("significant"))
  }

  /** q_bartlett: Bartlett's variance-homogeneity test over the
    * l_returnflag groups of l_quantity — the PARAMETRIC member of the
    * variance-check pair (q_levene/Brown–Forsythe is the robust one;
    * Bartlett is the classical likelihood-ratio form, more powerful
    * under normality and the textbook pre-check before q_anova's pooled
    * denominator). T = [(N−k)·ln(s_p²) − Σ(n_j−1)·ln(s_j²)] / C with
    * C = 1 + (Σ 1/(n_j−1) − 1/(N−k)) / (3(k−1)), s_p² the pooled
    * variance. Group moments are exact DECIMAL sums cast to double
    * once; the three order-sensitive k-term double sums each fold over
    * a SORTED group array (the anovaOf discipline) so both engines walk
    * identical IEEE additions. Significance vs χ²(k−1) from the shared
    * critical table — out-of-table df → NULL, never a silent false.
    * Degenerate guard (r13 advice): a zero-variance group makes ln(s_j²)
    * undefined — Spark's log() returns null but DuckDB's ln() RAISES, an
    * asymmetric gate error. Both engines therefore compute ln over a
    * guarded argument (v>0 ? v : 1 — identical to v on every valid path)
    * and gate the final stat/significant on min group variance > 0 AND
    * min group size > 1 (r14 advice: nj=1 makes v NULL in Spark but NaN
    * in DuckDB, where min() orders NaN greatest — v is pinned to a
    * 0-sentinel for singletons so both locks fail identically), emitting
    * NULL beyond it (the q_runs_test degeneracy discipline).
    * One scan + one k-row shuffle, k bounds everything downstream. */
  def qBartlett(s: SparkSession, dir: String): DataFrame =
    bartlettOf(Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("g"), col("l_quantity").as("x")))

  /** Bartlett core over a (g, x) relation — see [[qBartlett]]. */
  def bartlettOf(vals: DataFrame): DataFrame = {
    val d = col("x").cast("decimal(18,2)")
    val g = vals.groupBy("g")
      .agg(count(lit(1)).as("nj"), sum(d).as("s"), sum(d * d).as("ss"))
      .select(col("g"), col("nj"),
        // Singleton guard (r14 advice): nj=1 makes v = x/0 — NULL in
        // Spark but NaN in DuckDB (and DuckDB orders NaN greatest, so a
        // bare minv>0 gate would PASS there while Spark's NULL-skipping
        // min ignores it). Pin v to a non-positive sentinel so minv ≤ 0
        // fails the gate identically in both engines; the min(nj)>1
        // clause below is the belt-and-braces second lock.
        when(col("nj") > 1,
          (col("ss").cast("double") -
            col("s").cast("double") * col("s").cast("double") /
              col("nj").cast("double")) /
            (col("nj") - 1).cast("double")).otherwise(lit(0.0)).as("v"))
    def fold(term: Column, name: String) =
      aggregate(array_sort(collect_list(struct(col("g"), term.as("t")))),
        lit(0.0), (acc, x) => acc + x.getField("t")).as(name)
    val m = g.agg(
      count(lit(1)).as("k"), sum(col("nj")).as("n"),
      min(col("v")).as("minv"), min(col("nj")).as("minn"),
      fold((col("nj") - 1).cast("double") * col("v"), "sw"),
      fold((col("nj") - 1).cast("double") *
        log(when(col("v") > 0, col("v")).otherwise(lit(1.0))), "sl"),
      // the 1/(nj−1) term needs its own singleton guard: under ANSI
      // mode 1/0 THROWS in Spark (DuckDB yields inf) — the gate below
      // nulls the output either way, but the fold must not error
      fold(when(col("nj") > 1,
        lit(1.0) / (col("nj") - 1).cast("double")).otherwise(lit(0.0)), "si"))
    val nk = (col("n") - col("k")).cast("double")
    val t = nk * log(col("sw") / nk) - col("sl")
    val c = lit(1.0) +
      (col("si") - lit(1.0) / nk) / (lit(3.0) * (col("k") - 1).cast("double"))
    val crit = RobustStats.KruskalChiCrit
      .foldLeft(lit(null).cast("double")) { case (acc, (df, cv)) =>
        when(col("k") - 1 === df, cv).otherwise(acc)
      }
    m.select(col("k"), col("n"),
      when(col("minv") > 0 && col("minn") > 1, round(t / c, 6)).as("stat"),
      when(col("minv") > 0 && col("minn") > 1, t / c > crit).as("significant"))
  }

  private lazy val qBartlettSql =
    s"""WITH g AS (
         SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS nj,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS s,
           sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS ss
         FROM lineitem GROUP BY 1),
       gv AS (SELECT g, nj,
                CASE WHEN nj > 1 THEN
                  (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                     / CAST(nj AS DOUBLE)) / CAST(nj - 1 AS DOUBLE)
                ELSE 0 END AS v
              FROM g),
       m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(nj) AS BIGINT) AS n,
               min(v) AS minv, min(nj) AS minn,
               list_sum(list(CAST(nj - 1 AS DOUBLE) * v ORDER BY g)) AS sw,
               list_sum(list(CAST(nj - 1 AS DOUBLE)
                 * ln(CASE WHEN v > 0 THEN v ELSE 1 END) ORDER BY g)) AS sl,
               list_sum(list(CASE WHEN nj > 1 THEN
                 CAST(1 AS DOUBLE) / CAST(nj - 1 AS DOUBLE) ELSE 0 END ORDER BY g)) AS si
             FROM gv)
       SELECT k, n,
         CASE WHEN minv > 0 AND minn > 1 THEN
           round((CAST(n - k AS DOUBLE) * ln(sw / CAST(n - k AS DOUBLE)) - sl)
             / (1 + (si - CAST(1 AS DOUBLE) / CAST(n - k AS DOUBLE))
                / (3 * CAST(k - 1 AS DOUBLE))), 6) END AS stat,
         CASE WHEN minv > 0 AND minn > 1 THEN
           (CAST(n - k AS DOUBLE) * ln(sw / CAST(n - k AS DOUBLE)) - sl)
             / (1 + (si - CAST(1 AS DOUBLE) / CAST(n - k AS DOUBLE))
                / (3 * CAST(k - 1 AS DOUBLE)))
             > ${RobustStats.KruskalChiCrit(2)} END AS significant
       FROM m"""

  /** Studentized-range 95th-percentile critical values q(0.95; k, ∞) —
    * the df₂→∞ row, exact to 3 decimals once df₂ is in the tens of
    * thousands (the AnovaFCrit argument). Keyed by GROUP COUNT k; the
    * k=3 entry is the one the corpus-gated query and its oracle share.
    * Out-of-table k → NULL significance, never a silent false (the
    * r11 KruskalChiCrit discipline). */
  val TukeyQCrit: Map[Int, Double] = Map(
    2 -> 2.771808, 3 -> 3.314493, 4 -> 3.633162, 5 -> 3.857700,
    6 -> 4.030099, 7 -> 4.169550, 8 -> 4.286203, 9 -> 4.386955,
    10 -> 4.474413)

  /** q_tukey: Tukey–Kramer HSD post-hoc after q_anova — WHICH pairs of
    * l_returnflag groups differ, once the omnibus F says "some do"
    * (running pairwise Welch tests instead would inflate FWER; the
    * studentized-range statistic controls it by construction). Per pair:
    * q = |x̄ᵢ − x̄ⱼ| / √(MSW/2 · (1/nᵢ + 1/nⱼ)) — the Kramer form, exact
    * for unequal nⱼ. Every moment is the SAME exact-decimal (nⱼ, sⱼ,
    * ssⱼ) triple the ANOVA core aggregates (one scan, k-row second
    * stage); MSW combines them with the identical ordered fold; the
    * pair join is k², bounded by the group count at any SF. Honest true
    * negatives on this corpus (one generating distribution — the spec
    * trips the flag on a shifted fixture). */
  def qTukey(s: SparkSession, dir: String): DataFrame =
    tukeyOf(Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("g"), col("l_quantity").as("x")))

  /** Tukey–Kramer core over a (g, x) relation — see [[qTukey]]. */
  def tukeyOf(vals: DataFrame): DataFrame = {
    val d = col("x").cast("decimal(18,2)")
    val g = vals.groupBy("g")
      .agg(count(lit(1)).as("nj"), sum(d).as("s"), sum(d * d).as("ss"))
      .select(col("g"), col("nj"), col("s"), col("ss"),
        (col("s").cast("double") * col("s").cast("double") /
          col("nj").cast("double")).as("term"))
    val m = g.agg(
      count(lit(1)).as("k"), sum(col("nj")).as("n"),
      sum(col("ss")).cast("double").as("sstot"),
      aggregate(array_sort(collect_list(struct(col("g"), col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("sb"))
      .select(col("k"), col("n"),
        // MSW = SSW/(N−k) = (Σss − Σⱼsⱼ²/nⱼ)/(N−k)
        ((col("sstot") - col("sb")) /
          (col("n").cast("double") - col("k").cast("double"))).as("msw"))
    val a = g.select(col("g").as("g_a"), col("nj").as("n_a"), col("s").as("s_a"))
    val b = g.select(col("g").as("g_b"), col("nj").as("n_b"), col("s").as("s_b"))
    val diff = col("s_a").cast("double") / col("n_a").cast("double") -
      col("s_b").cast("double") / col("n_b").cast("double")
    val q = abs(diff) / sqrt(col("msw") / 2.0 *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    val crit = TukeyQCrit.foldLeft(lit(null).cast("double")) {
      case (acc, (k, c)) => when(col("k") === k, c).otherwise(acc)
    }
    // broadcast the k-row build side: without the hint the non-equi pair
    // join plans as CartesianProduct (both inputs are fresh aggregates
    // with unknown stats)
    a.join(broadcast(b), col("g_a") < col("g_b")).crossJoin(broadcast(m))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        round(diff, 6).as("mean_diff"), round(q, 6).as("q"),
        (q > crit).as("significant"))
  }

  /** Welch-df floor below which [[qGamesHowell]] refuses to call
    * significance: the studentized-range critical values in
    * [[TukeyQCrit]] are the asymptotic (df → ∞) row, accurate to the
    * third decimal only once the Welch df is in the hundreds. Out of
    * range → NULL, never a silent false (the KruskalChiCrit rule). */
  val GamesHowellMinDf = 100.0

  /** q_games_howell: Games–Howell post-hoc — the UNEQUAL-VARIANCE member
    * completing the post-hoc family (64u Tukey–Kramer pools one MSW and
    * assumes homogeneity — exactly what 64n Brown–Forsythe tests; 64v
    * Dunn is the rank fallback; this is what you run when the variance
    * check FAILS but the scale is parametric). Per pair: the pooled MSW
    * is replaced by the pair's own Welch standard error s²ᵢ/nᵢ + s²ⱼ/nⱼ,
    * q = |x̄ᵢ − x̄ⱼ|/√(se²/2) compared to the studentized range at the
    * Welch–Satterthwaite df. Same one-scan exact-decimal (nⱼ, s, ss)
    * moments as the ANOVA core, k²-bounded pair join, every per-pair
    * statistic one deterministic double expression. */
  def qGamesHowell(s: SparkSession, dir: String): DataFrame =
    gamesHowellOf(Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("g"), col("l_quantity").as("x")))

  /** Games–Howell core over a (g, x) relation — see [[qGamesHowell]]. */
  def gamesHowellOf(vals: DataFrame): DataFrame = {
    val d = col("x").cast("decimal(18,2)")
    val g = vals.groupBy("g")
      .agg(count(lit(1)).as("nj"), sum(d).as("s"), sum(d * d).as("ss"))
    val m = g.agg(count(lit(1)).as("k"))
    def se(c: String) =
      ((col(s"ss_$c").cast("double") -
        col(s"s_$c").cast("double") * col(s"s_$c").cast("double") /
          col(s"n_$c").cast("double")) /
        (col(s"n_$c").cast("double") - 1.0)) / col(s"n_$c").cast("double")
    val a = g.select(col("g").as("g_a"), col("nj").as("n_a"),
      col("s").as("s_a"), col("ss").as("ss_a"))
    val b = g.select(col("g").as("g_b"), col("nj").as("n_b"),
      col("s").as("s_b"), col("ss").as("ss_b"))
    val pair = a.join(broadcast(b), col("g_a") < col("g_b")).crossJoin(broadcast(m))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"), col("k"),
        (col("s_a").cast("double") / col("n_a").cast("double") -
          col("s_b").cast("double") / col("n_b").cast("double")).as("diff"),
        se("a").as("sea"), se("b").as("seb"))
    val q = abs(col("diff")) / sqrt((col("sea") + col("seb")) / 2.0)
    val df = (col("sea") + col("seb")) * (col("sea") + col("seb")) /
      (col("sea") * col("sea") / (col("n_a").cast("double") - 1.0) +
        col("seb") * col("seb") / (col("n_b").cast("double") - 1.0))
    val crit = TukeyQCrit.foldLeft(lit(null).cast("double")) {
      case (acc, (k, c)) => when(col("k") === k, c).otherwise(acc)
    }
    pair.select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
      round(col("diff"), 6).as("mean_diff"),
      round(q, 6).as("q"),
      round(df, 6).as("df_welch"),
      when(df >= GamesHowellMinDf, q > crit).as("significant"))
  }

  private lazy val qGamesHowellSql =
    s"""WITH g AS (
         SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS nj,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS s,
           sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS ss
         FROM lineitem GROUP BY 1),
       pair AS (SELECT a.g AS g_a, b.g AS g_b, a.nj AS n_a, b.nj AS n_b,
           CAST(a.s AS DOUBLE) / CAST(a.nj AS DOUBLE)
             - CAST(b.s AS DOUBLE) / CAST(b.nj AS DOUBLE) AS diff,
           ((CAST(a.ss AS DOUBLE)
             - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / CAST(a.nj AS DOUBLE))
             / (CAST(a.nj AS DOUBLE) - 1.0)) / CAST(a.nj AS DOUBLE) AS sea,
           ((CAST(b.ss AS DOUBLE)
             - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) / CAST(b.nj AS DOUBLE))
             / (CAST(b.nj AS DOUBLE) - 1.0)) / CAST(b.nj AS DOUBLE) AS seb
         FROM g a JOIN g b ON a.g < b.g)
       SELECT g_a, g_b, n_a, n_b,
         round(diff, 6) AS mean_diff,
         round(abs(diff) / sqrt((sea + seb) / 2.0), 6) AS q,
         round((sea + seb) * (sea + seb)
           / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0)
            + seb * seb / (CAST(n_b AS DOUBLE) - 1.0)), 6) AS df_welch,
         CASE WHEN (sea + seb) * (sea + seb)
             / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0)
              + seb * seb / (CAST(n_b AS DOUBLE) - 1.0)) >= $GamesHowellMinDf
           THEN abs(diff) / sqrt((sea + seb) / 2.0) > ${TukeyQCrit(3)}
           ELSE NULL END AS significant
       FROM pair"""

  private lazy val qTukeySql =
    s"""WITH g AS (
         SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS nj,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS s,
           sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS ss
         FROM lineitem GROUP BY 1),
       t AS (SELECT g, nj, s, ss,
               CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nj AS DOUBLE) AS term
             FROM g),
       m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(nj) AS BIGINT) AS n,
               (CAST(sum(ss) AS DOUBLE) - list_sum(list(term ORDER BY g)))
                 / (CAST(sum(nj) AS DOUBLE) - CAST(count(*) AS DOUBLE)) AS msw
             FROM t)
       SELECT a.g AS g_a, b.g AS g_b, a.nj AS n_a, b.nj AS n_b,
         round(CAST(a.s AS DOUBLE) / a.nj - CAST(b.s AS DOUBLE) / b.nj, 6) AS mean_diff,
         round(abs(CAST(a.s AS DOUBLE) / a.nj - CAST(b.s AS DOUBLE) / b.nj)
           / sqrt(msw / 2.0 * (1.0 / a.nj + 1.0 / b.nj)), 6) AS q,
         abs(CAST(a.s AS DOUBLE) / a.nj - CAST(b.s AS DOUBLE) / b.nj)
           / sqrt(msw / 2.0 * (1.0 / a.nj + 1.0 / b.nj)) > ${TukeyQCrit(3)}
           AS significant
       FROM g a JOIN g b ON a.g < b.g CROSS JOIN m"""

  private lazy val qAnovaSql =
    s"""WITH g AS (
         SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS nj,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS s,
           sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS ss
         FROM lineitem GROUP BY 1),
       t AS (SELECT g, nj, s, ss,
               CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nj AS DOUBLE) AS term
             FROM g),
       m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(nj) AS BIGINT) AS n,
               CAST(sum(s) AS DOUBLE) AS stot, CAST(sum(ss) AS DOUBLE) AS sstot,
               list_sum(list(term ORDER BY g)) AS sb
             FROM t)
       SELECT k, n,
         round(sb - stot * stot / CAST(n AS DOUBLE), 4) AS ss_between,
         round((sstot - stot * stot / CAST(n AS DOUBLE))
           - (sb - stot * stot / CAST(n AS DOUBLE)), 4) AS ss_within,
         round((sb - stot * stot / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)
           / (((sstot - stot * stot / CAST(n AS DOUBLE))
               - (sb - stot * stot / CAST(n AS DOUBLE)))
             / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS f,
         round((sb - stot * stot / CAST(n AS DOUBLE))
           / (sstot - stot * stot / CAST(n AS DOUBLE)), 6) AS eta_sq,
         (sb - stot * stot / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)
           / (((sstot - stot * stot / CAST(n AS DOUBLE))
               - (sb - stot * stot / CAST(n AS DOUBLE)))
             / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) > $AnovaFCrit AS significant
       FROM m"""

  /** q_friedman: Friedman test over (day-block × event-type) daily value
    * totals — the BLOCKED-ranks member of the k-group family (q_anova
    * compares unpaired means, q_kruskal unpaired ranks; Friedman ranks
    * WITHIN each day, so day-level volume shifts cancel and only the
    * relative ordering of event types across days counts — the repeated-
    * measures test an ops pipeline wants for "is one event type
    * consistently heavier?"). Ranks are tie-averaged within a block via
    * rank() + per-(block,value) count (a window PARTITIONED by day — k
    * rows per partition, bounded by the calendar × type count, never
    * fact-sized). Blocks missing a treatment are dropped (Friedman
    * requires complete blocks; the count-k filter is mirrored in the
    * oracle). Rank sums stay DECIMAL(19,1)-exact; ΣRⱼ² is the one
    * ordered fold; the tie correction term cubes at DECIMAL(38,0). χ²
    * critical from the shared [[RobustStats.KruskalChiCrit]] table
    * (df = k−1), NULL outside it. Honest true negative on this corpus
    * (event types draw the same value distribution, so within-day
    * orderings are exchangeable — Q ≈ 4.3 vs crit 9.49); the spec
    * proves Q trips on a consistently-ordered fixture. */
  /** SAX geometry: 10 PAA segments, alphabet size 4 (breakpoints at the
    * standard-normal quartiles ±0.6745 and 0 — Lin/Keogh 2003). */
  val SaxSegments = 10
  val SaxBp = 0.6745

  /** q_sax: Symbolic Aggregate approXimation of the daily series per
    * event type — the representation that makes time-series MOTIF
    * search and similarity indexing tractable at 100 TB (a 30-point
    * double series becomes a 10-char string over a 4-letter alphabet;
    * strings equi-join, hash, and prefix-index where raw series can't).
    * Pipeline: per-type z-normalization from exact DECIMAL moments
    * (cast to double ONCE — the variance subtraction runs in doubles
    * deliberately, avoiding the cross-engine DECIMAL-widening seam the
    * canary guards), balanced PAA segment assignment
    * seg = ⌊(t−1)·S/n⌋ in pure integer arithmetic, per-segment means
    * from exact decimal sums, breakpoint symbols a|b|c|d, and the
    * ordered string fold (array_sort ↔ string_agg ORDER BY). A
    * constant series (σ = 0) z-scores to 0 → all-'c', the same CASE in
    * both engines. Calendar-bounded after one fact aggregate. */
  def qSax(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("tot"))
      .withColumn("t", row_number().over(
        Window.partitionBy("event_type").orderBy("day")))
    val mom = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("tot")).cast("double").as("sx"),
        sum(col("tot") * col("tot")).cast("double").as("sxx"))
      .select(col("event_type"), col("n"),
        (col("sx") / col("n")).as("mu"),
        sqrt(greatest(col("sxx") / col("n") -
          (col("sx") / col("n")) * (col("sx") / col("n")), lit(0.0)))
          .as("sigma"))
    val seg = daily.join(mom, Seq("event_type"))
      .withColumn("seg", expr(s"((t - 1) * $SaxSegments) div n"))
      .groupBy("event_type", "n", "mu", "sigma", "seg")
      .agg((sum(col("tot")).cast("double") / count(lit(1))).as("m"))
    val z = when(col("sigma") === 0.0, lit(0.0))
      .otherwise((col("m") - col("mu")) / col("sigma"))
    val sym = when(z < -SaxBp, "a").when(z < 0.0, "b")
      .when(z < SaxBp, "c").otherwise("d")
    seg.withColumn("sym", sym)
      .groupBy("event_type", "n")
      .agg(count(lit(1)).as("n_segments"),
        concat_ws("", transform(
          array_sort(collect_list(struct(col("seg"), col("sym").as("s")))),
          x => x.getField("s"))).as("sax"))
      .select(col("event_type"), col("n").as("n_days"),
        col("n_segments"), col("sax"))
  }

  private lazy val qSaxSql =
    s"""WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS tot
         FROM events GROUP BY 1, 2),
       idx AS (
         SELECT event_type, tot,
           row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
         FROM daily),
       mom AS (
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(tot) AS DOUBLE) / count(*) AS mu,
           sqrt(greatest(CAST(sum(tot * tot) AS DOUBLE) / count(*)
             - (CAST(sum(tot) AS DOUBLE) / count(*))
               * (CAST(sum(tot) AS DOUBLE) / count(*)), 0.0)) AS sigma
         FROM idx GROUP BY 1),
       seg AS (
         SELECT idx.event_type, mom.n, mom.mu, mom.sigma,
           ((t - 1) * $SaxSegments) // n AS seg,
           CAST(sum(tot) AS DOUBLE) / count(*) AS m
         FROM idx JOIN mom ON mom.event_type = idx.event_type
         GROUP BY 1, 2, 3, 4, 5),
       sy AS (
         SELECT event_type, n, seg,
           CASE WHEN (CASE WHEN sigma = 0.0 THEN 0.0
                      ELSE (m - mu) / sigma END) < -$SaxBp THEN 'a'
                WHEN (CASE WHEN sigma = 0.0 THEN 0.0
                      ELSE (m - mu) / sigma END) < 0.0 THEN 'b'
                WHEN (CASE WHEN sigma = 0.0 THEN 0.0
                      ELSE (m - mu) / sigma END) < $SaxBp THEN 'c'
                ELSE 'd' END AS sym
         FROM seg)
       SELECT event_type, n AS n_days,
         CAST(count(*) AS BIGINT) AS n_segments,
         string_agg(sym, '' ORDER BY seg) AS sax
       FROM sy GROUP BY 1, 2"""

  /** Matrix-profile window length (one day of hourly buckets) and the
    * standard trivial-match exclusion zone (m/2). */
  val MpWindow = 24
  val MpExclusion = 12

  /** q_matrix_profile: the UCR matrix profile (Yeh et al. 2016) over the
    * hourly event-count series — for every length-[[MpWindow]] window,
    * the z-normalized Euclidean distance to its nearest non-trivial
    * neighbor, THE time-series-mining primitive (motifs = profile
    * minima, discords/anomalies = maxima; q_sax symbolizes shape, the
    * profile finds repeated structure exactly). Relationalized along
    * STOMP's own axis: the all-pair dot products QT(i,j) decompose into
    * DIAGONALS d = i−j, where QT along a diagonal is a sliding sum of
    * the per-hour products c_t·c_{t−d} — one dense self-join keyed by
    * diagonal, one window sum per diagonal, never a per-pair
    * recomputation of the dot product (that O(n²m) is exactly what STOMP
    * exists to avoid; this plan is its set-based transcription, and the
    * per-diagonal O(1) state is why it scales to long series). Every
    * sufficient statistic is an exact INTEGER (hourly counts, window
    * sums s/ss, dot products qt), so
    * dist² = 2m(1 − (m·qt − sᵢsⱼ)/√((m·ssᵢ−sᵢ²)(m·ssⱼ−sⱼ²))) is one
    * mirrored double expression over exactly-equal ints; zero-variance
    * windows leave by an integer predicate before the division; the
    * argmin per i breaks ties on j. The hour grid is DENSIFIED (missing
    * hours count 0) so diagonals are contiguous and every window has
    * exactly m terms. */
  def qMatrixProfile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = MpWindow
    val hr = Tables.events(s, dir)
      .select(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("hr"))
      .groupBy("hr").agg(count(lit(1)).as("c"))
    val bounds = hr.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val dense = bounds.select(explode(sequence(lit(0L),
        col("h1") - col("h0"))).as("t"), col("h0"))
      .join(hr, col("hr") === col("t") + col("h0"), "left_outer")
      .select(col("t"), coalesce(col("c"), lit(0L)).as("c"))
      .localCheckpoint(true)
    val wWin = Window.orderBy("t")
      .rowsBetween(Window.currentRow, m - 1)
    val stats = dense
      .select(col("t").as("i"), sum(col("c")).over(wWin).as("s"),
        sum(col("c") * col("c")).over(wWin).as("ss"),
        count(lit(1)).over(wWin).as("k"))
      .filter(col("k") === m && col("ss") * m - col("s") * col("s") > 0)
      .select(col("i"), col("s"), col("ss"))
    val prod = dense.select(col("t").as("t1"), col("c").as("c1"))
      .crossJoin(dense.select(col("t").as("t2"), col("c").as("c2")))
      .select((col("t1") - col("t2")).as("d"), col("t1"),
        (col("c1") * col("c2")).as("p"))
    val wDiag = Window.partitionBy("d").orderBy("t1")
      .rowsBetween(Window.currentRow, m - 1)
    val qt = prod
      .select(col("d"), col("t1").as("i"), sum(col("p")).over(wDiag).as("qt"),
        count(lit(1)).over(wDiag).as("k"))
      .filter(col("k") === m && abs(col("d")) >= MpExclusion)
      .select(col("i"), (col("i") - col("d")).as("j"), col("qt"))
    // numerator and variance terms stay INTEGER until one cast, exactly
    // as the oracle writes them
    val num = (lit(m.toLong) * col("qt") - col("s_i") * col("s_j"))
      .cast("double")
    val va = (lit(m.toLong) * col("ss_i") - col("s_i") * col("s_i"))
      .cast("double")
    val vb = (lit(m.toLong) * col("ss_j") - col("s_j") * col("s_j"))
      .cast("double")
    val dist2 = lit(2.0) * lit(m.toDouble) * (lit(1.0) -
      num / sqrt(va * vb))
    val scored = qt
      .join(stats.select(col("i"), col("s").as("s_i"), col("ss").as("ss_i")),
        Seq("i"))
      .join(stats.select(col("i").as("j"), col("s").as("s_j"),
        col("ss").as("ss_j")), Seq("j"))
      .select(col("i"), col("j"), dist2.as("d2"))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy("i")
        .orderBy(col("d2").asc, col("j").asc)))
      .filter(col("rk") === 1)
      .select(col("i").cast("int").as("i"), col("j").cast("int").as("nn"),
        round(sqrt(greatest(col("d2"), lit(0.0))), 6).as("dist"))
  }

  private lazy val qMatrixProfileSql = {
    val m = MpWindow
    s"""WITH hrc AS (SELECT CAST(epoch_us(date_trunc('hour', ts)) // 3600000000 AS BIGINT) AS hr,
           CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY 1),
       b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM hrc),
       dense AS (SELECT g.t, coalesce(hrc.c, 0) AS c
                 FROM (SELECT unnest(range(0, h1 - h0 + 1)) AS t, h0 FROM b) g
                 LEFT JOIN hrc ON hrc.hr = g.t + g.h0),
       stats AS (SELECT * FROM (
           SELECT t AS i,
             sum(c) OVER w AS s, sum(c * c) OVER w AS ss,
             count(*) OVER w AS k
           FROM dense
           WINDOW w AS (ORDER BY t ROWS BETWEEN CURRENT ROW
             AND ${m - 1} FOLLOWING))
         WHERE k = $m AND ss * $m - s * s > 0),
       prod AS (SELECT a.t - b2.t AS d, a.t AS t1, a.c * b2.c AS p
                FROM dense a CROSS JOIN dense b2),
       qt AS (SELECT * FROM (
           SELECT d, t1 AS i, sum(p) OVER w AS qt, count(*) OVER w AS k
           FROM prod
           WINDOW w AS (PARTITION BY d ORDER BY t1 ROWS BETWEEN CURRENT ROW
             AND ${m - 1} FOLLOWING))
         WHERE k = $m AND abs(d) >= $MpExclusion),
       sc AS (SELECT qt.i, qt.i - qt.d AS j,
                2.0 * $m * (1 - CAST($m * qt.qt - si.s * sj.s AS DOUBLE)
                  / sqrt(CAST($m * si.ss - si.s * si.s AS DOUBLE)
                    * CAST($m * sj.ss - sj.s * sj.s AS DOUBLE))) AS d2
              FROM qt JOIN stats si ON si.i = qt.i
                JOIN stats sj ON sj.i = qt.i - qt.d),
       rk AS (SELECT i, j, d2, row_number() OVER (PARTITION BY i
                ORDER BY d2 ASC, j ASC) AS rk
              FROM sc)
       SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS nn,
         round(sqrt(greatest(d2, 0.0)), 6) AS dist
       FROM rk WHERE rk = 1"""
  }

  /** q_dtw: EXACT dynamic-time-warping distance between every pair of
    * event-type daily-revenue series — the alignment-aware series
    * distance (q_matrix_profile finds repeated structure WITHIN a
    * series; DTW compares two series that may be locally time-shifted,
    * the standard series-clustering metric). The DP is relationalized
    * along ANTI-DIAGONALS k = i+j, where cells are mutually independent:
    * D(i,j) = |aᵢ−bⱼ| + min(D(i−1,j), D(i,j−1), D(i−1,j−1)) reads only
    * diagonals k−1 and k−2, so the whole recurrence is a bounded fold
    * over k with two carried lists and a pure element-wise transform per
    * step — the same wavefront order a systolic/GPU DTW uses, and the
    * reason the operator is expressible IDENTICALLY as a Catalyst
    * aggregate-fold and a DuckDB recursive CTE. Every cell stays exact
    * DECIMAL(25,6) (daily sums are exact decimals, |a−b| and + are
    * exact, min is exact; out-of-range predecessors are coalesced to a
    * huge decimal SENTINEL in both engines rather than NULL, because the
    * engines' least()-with-NULL semantics differ) — the gate hashes an
    * arithmetic-identical DP, not a float approximation. One audited
    * seam: DuckDB's least(DECIMAL,…) silently returns DOUBLE (the
    * q_quantile_reg full-gate catch), so the oracle's cell passes
    * through a double before the CAST back to DECIMAL(25,6) — exact
    * HERE because every cell value fits in ≲2⁴⁶ decimal units (« 2⁵³,
    * the double round-trip is lossless) and the min is a per-cell
    * SCALAR, never a parallel double sum. Scale shape:
    * the fact table collapses to the TYPE×DAY dimension in one
    * partial-aggregable scan; each pair's DP is O((n+m)·min(n,m))
    * dimension-bounded work on one row. */
  def qDtw(s: SparkSession, dir: String): DataFrame = {
    val sent = lit(new java.math.BigDecimal("9999999999999999999.999999"))
      .cast("decimal(25,6)")
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).cast("decimal(18,6)").as("y"))
    val series = daily.groupBy("event_type")
      .agg(transform(array_sort(collect_list(struct(col("day"), col("y")))),
        r => r.getField("y")).as("ys"))
    val pairs = series.select(col("event_type").as("ta"), col("ys").as("a"))
      .crossJoin(series.select(col("event_type").as("tb"), col("ys").as("b")))
      .filter(col("ta") < col("tb"))
      .select(col("ta"), col("tb"), col("a"), col("b"),
        size(col("a")).as("n"), size(col("b")).as("m"))
    def cell(acc: Column, k: Column, i: Column) = {
      val j = k - i
      val iLo1 = greatest(lit(0), (k - 1) - (col("m") - 1))
      val iLo2 = greatest(lit(0), (k - 2) - (col("m") - 1))
      val c1 = when(i >= 1, element_at(acc.getField("d1"),
        ((i - 1) - iLo1 + 1).cast("int")))
      val c2 = when(j >= 1, element_at(acc.getField("d1"),
        (i - iLo1 + 1).cast("int")))
      val c3 = when(i >= 1 && j >= 1, element_at(acc.getField("d2"),
        ((i - 1) - iLo2 + 1).cast("int")))
      (abs(element_at(col("a"), (i + 1).cast("int")) -
        element_at(col("b"), (j + 1).cast("int"))) +
        least(coalesce(c1, sent), coalesce(c2, sent), coalesce(c3, sent)))
        .cast("decimal(25,6)")
    }
    val d0 = array((abs(element_at(col("a"), 1) - element_at(col("b"), 1)))
      .cast("decimal(25,6)"))
    val zero = struct(d0.as("d1"),
      array().cast("array<decimal(25,6)>").as("d2"))
    val folded = pairs.select(col("ta"), col("tb"), col("n"), col("m"),
      aggregate(sequence(lit(1), col("n") + col("m") - 2), zero,
        (acc, k) => struct(
          transform(
            sequence(greatest(lit(0), k - (col("m") - 1)),
              least(col("n") - 1, k)),
            i => cell(acc, k, i)).as("d1"),
          acc.getField("d1").as("d2"))).as("st_out"))
    folded.select(col("ta").as("type_a"), col("tb").as("type_b"),
      col("n"), col("m"),
      round(element_at(col("st_out").getField("d1"), 1).cast("double"), 6)
        .as("dtw"),
      round(element_at(col("st_out").getField("d1"), 1).cast("double") /
        (col("n") + col("m")), 6).as("dtw_norm"))
  }

  private lazy val qDtwSql = {
    val sent = "CAST('9999999999999999999.999999' AS DECIMAL(25,6))"
    s"""WITH RECURSIVE daily AS (SELECT event_type,
           strftime(ts, '%Y-%m-%d') AS day,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS y
         FROM events GROUP BY 1, 2),
       ser AS (SELECT event_type, list(y ORDER BY day) AS ys
               FROM daily GROUP BY 1),
       pairs AS (SELECT s1.event_type AS ta, s2.event_type AS tb,
           s1.ys AS a, s2.ys AS b,
           CAST(len(s1.ys) AS INT) AS n, CAST(len(s2.ys) AS INT) AS m
         FROM ser s1 JOIN ser s2 ON s1.event_type < s2.event_type),
       dp(ta, tb, a, b, n, m, k, d1, d2) AS (
         SELECT ta, tb, a, b, n, m, 0,
           [CAST(abs(a[1] - b[1]) AS DECIMAL(25,6))],
           CAST([] AS DECIMAL(25,6)[])
         FROM pairs
         UNION ALL
         SELECT ta, tb, a, b, n, m, k + 1,
           list_transform(
             range(greatest(0, (k + 1) - (m - 1)), least(n - 1, k + 1) + 1),
             i -> CAST(abs(a[i + 1] - b[(k + 1) - i + 1]) + least(
               coalesce(CASE WHEN i >= 1
                 THEN d1[(i - 1) - greatest(0, k - (m - 1)) + 1] END, $sent),
               coalesce(CASE WHEN (k + 1) - i >= 1
                 THEN d1[i - greatest(0, k - (m - 1)) + 1] END, $sent),
               coalesce(CASE WHEN i >= 1 AND (k + 1) - i >= 1
                 THEN d2[(i - 1) - greatest(0, (k - 1) - (m - 1)) + 1] END,
                 $sent)) AS DECIMAL(25,6))),
           d1
         FROM dp WHERE k + 1 <= n + m - 2)
       SELECT ta AS type_a, tb AS type_b, n, m,
         round(CAST(d1[1] AS DOUBLE), 6) AS dtw,
         round(CAST(d1[1] AS DOUBLE) / (n + m), 6) AS dtw_norm
       FROM dp WHERE k = n + m - 2"""
  }

  /** The pinned 3-state HMM q_viterbi decodes with: sticky regimes
    * (slow / normal / hot), tercile-ish observation symbols. Every libm
    * value (the LOGS of these probabilities) is computed ONCE here and
    * injected into both engines as the identical shortest-roundtrip
    * double literal — the log-domain DP then only ADDS and COMPARES, so
    * the whole decode is IEEE-identical and hash-gates. */
  val HmmPi: Array[Double] = Array(1.0 / 3, 1.0 / 3, 1.0 / 3)
  val HmmTrans: Array[Array[Double]] = Array(
    Array(0.8, 0.2, 0.0001), Array(0.1, 0.8, 0.1), Array(0.0001, 0.2, 0.8))
  val HmmEmit: Array[Array[Double]] = Array(
    Array(0.7, 0.25, 0.05), Array(0.2, 0.6, 0.2), Array(0.05, 0.25, 0.7))

  /** q_viterbi: exact Viterbi decoding of a pinned 3-regime HMM over the
    * daily-revenue symbol stream per event type — the LATENT-state member
    * of the sequence family (q_markov/q_markov_stationary model the
    * OBSERVED chain; an HMM says which unobserved regime best explains
    * the days, the change-of-behavior readout a revenue dashboard wants
    * smoothed over noise, with the Viterbi path the MAP regime
    * assignment). Observations are deterministic symbols — day below
    * 0.8×, inside, or above 1.2× the type's exact-decimal mean. The
    * forward DP carries the FULL trellis (a list of 3-vectors) through
    * the q_dtw-style bounded fold; backtracking then RECOMPUTES each
    * argmax predecessor from the trellis instead of carrying
    * backpointers (dp[t−1][s] + lnT[s][cur], ties to the smaller state —
    * one less parallel structure to keep engine-identical). Log-domain
    * arithmetic is additions of shared literals (see [[HmmTrans]]), so
    * every comparison sees bit-identical doubles in both engines. One
    * scan → TYPE×DAY dimension; the trellis is O(days·9) per type. */
  def qViterbi(s: SparkSession, dir: String): DataFrame = {
    val lnPi = HmmPi.map(math.log)
    val lnT = HmmTrans.map(_.map(math.log))
    val lnE = HmmEmit.map(_.map(math.log))
    // the per-day totals stay DECIMAL through the mean so the symbol
    // thresholds derive from an exact order-free sum (SumAuditSpec
    // caught the first cut summing doubles — the same order-sensitivity
    // class as the q_quantile_reg greatest() adjudication)
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).as("yd"))
    val m = daily.groupBy("event_type")
      .agg((sum(col("yd")).cast("double") / count(lit(1))).as("mu"))
    val obsDf = daily.join(m, Seq("event_type"))
      .select(col("event_type"), col("day"),
        when(col("yd").cast("double") < col("mu") * 0.8, 0)
          .when(col("yd").cast("double") > col("mu") * 1.2, 2)
          .otherwise(1).as("obs"))
    val series = obsDf.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("obs")))).as("arr"))
      .select(col("event_type"),
        transform(col("arr"), r => r.getField("day")).as("days"),
        transform(col("arr"), r => r.getField("obs")).as("obs"),
        size(col("arr")).as("t_len"))
    // emission lookup: flat 9-literal array, e(s, o) = emitF[s*3 + o + 1]
    val emitF = array((for (st <- 0 to 2; o <- 0 to 2)
      yield lit(lnE(st)(o))): _*)
    val transF = array((for (a <- 0 to 2; b <- 0 to 2)
      yield lit(lnT(a)(b))): _*)
    def e(st: Column, o: Column) = element_at(emitF, (st * 3 + o + 1).cast("int"))
    def tr(a: Column, b: Column) = element_at(transF, (a * 3 + b + 1).cast("int"))
    val obs = col("obs")
    def obsAt(t: Column) = element_at(obs, t.cast("int"))
    val row0 = transform(sequence(lit(0), lit(2)),
      st => e(st, obsAt(lit(1))) + lit(lnPi(0)))
    val trellis = aggregate(sequence(lit(2), greatest(col("t_len"), lit(2))),
      array(row0), (dpAll, t) => {
        val prev = element_at(dpAll, size(dpAll))
        val newRow = transform(sequence(lit(0), lit(2)), st =>
          e(st, obsAt(t)) + greatest(
            element_at(prev, 1) + tr(lit(0), st),
            element_at(prev, 2) + tr(lit(1), st),
            element_at(prev, 3) + tr(lit(2), st)))
        when(t <= col("t_len"), concat(dpAll, array(newRow)))
          .otherwise(dpAll)
      })
    // argmax over a 3-vector with ties to the SMALLER state id
    def amax3(v: Column): Column =
      when(element_at(v, 1) >= element_at(v, 2) &&
        element_at(v, 1) >= element_at(v, 3), 0)
        .when(element_at(v, 2) >= element_at(v, 3), 1).otherwise(2)
    val withDp = series.select(col("event_type"), col("days"), col("obs"),
      col("t_len"), trellis.as("dp"))
    val dp = col("dp")
    val lastState = amax3(element_at(dp, col("t_len").cast("int")))
    // backtrack by RECOMPUTING the argmax predecessor from the trellis
    val path = aggregate(
      when(col("t_len") >= 2, sequence(col("t_len"), lit(2))) // descending
        .otherwise(array().cast("array<int>")),
      struct(lastState.cast("int").as("cur"),
        array(lastState.cast("int")).as("path")),
      (acc, t) => {
        val cur = acc.getField("cur")
        val prevRow = element_at(dp, (t - 1).cast("int"))
        val scores = transform(sequence(lit(0), lit(2)),
          st => element_at(prevRow, (st + 1).cast("int")) + tr(st, cur))
        val prevState = amax3(scores).cast("int")
        struct(prevState.as("cur"),
          concat(array(prevState), acc.getField("path")).as("path"))
      }).getField("path")
    withDp.select(col("event_type"), col("days"), col("obs"),
      path.as("states"))
      .select(col("event_type"),
        posexplode(arrays_zip(col("days"), col("obs"), col("states")))
          .as(Seq("i", "z")))
      .select(col("event_type"), col("z.days").as("day"),
        col("z.obs").cast("int").as("obs"),
        col("z.states").cast("int").as("regime"))
  }

  private lazy val qViterbiSql = {
    val lnPi0 = math.log(HmmPi(0))
    val emitF = (for (st <- 0 to 2; o <- 0 to 2)
      yield math.log(HmmEmit(st)(o))).mkString("[", ", ", "]")
    val transF = (for (a <- 0 to 2; b <- 0 to 2)
      yield math.log(HmmTrans(a)(b))).mkString("[", ", ", "]")
    s"""WITH RECURSIVE daily AS (SELECT event_type,
           strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS yd
         FROM events GROUP BY 1, 2),
       m AS (SELECT event_type, CAST(sum(yd) AS DOUBLE) / count(*) AS mu
             FROM daily GROUP BY 1),
       od AS (SELECT d.event_type, d.day,
                CASE WHEN CAST(d.yd AS DOUBLE) < m.mu * 0.8 THEN 0
                     WHEN CAST(d.yd AS DOUBLE) > m.mu * 1.2 THEN 2
                     ELSE 1 END AS obs
              FROM daily d JOIN m ON m.event_type = d.event_type),
       ser AS (SELECT event_type,
                 list(day ORDER BY day) AS days,
                 list(obs ORDER BY day) AS obs,
                 CAST(count(*) AS INT) AS t_len
               FROM od GROUP BY 1),
       cons AS (SELECT CAST($emitF AS DOUBLE[]) AS ef,
                  CAST($transF AS DOUBLE[]) AS tf),
       fwd(event_type, days, obs, t_len, t, dp) AS (
         SELECT event_type, days, obs, t_len, 1,
           [list_transform(range(0, 3),
             st -> ef[st * 3 + obs[1] + 1] + CAST($lnPi0 AS DOUBLE))]
         FROM ser CROSS JOIN cons
         UNION ALL
         SELECT f.event_type, f.days, f.obs, f.t_len, f.t + 1,
           f.dp || [list_transform(range(0, 3), st ->
             c.ef[st * 3 + f.obs[f.t + 1] + 1] + greatest(
               f.dp[f.t][1] + c.tf[st + 1],
               f.dp[f.t][2] + c.tf[3 + st + 1],
               f.dp[f.t][3] + c.tf[6 + st + 1]))]
         FROM fwd f CROSS JOIN cons c WHERE f.t < f.t_len),
       done AS (SELECT event_type, days, obs, t_len, dp
                FROM fwd WHERE t = t_len),
       bt(event_type, days, obs, t_len, dp, t, cur, path) AS (
         SELECT event_type, days, obs, t_len, dp, t_len,
           CASE WHEN dp[t_len][1] >= dp[t_len][2]
                  AND dp[t_len][1] >= dp[t_len][3] THEN 0
                WHEN dp[t_len][2] >= dp[t_len][3] THEN 1 ELSE 2 END,
           [CASE WHEN dp[t_len][1] >= dp[t_len][2]
                  AND dp[t_len][1] >= dp[t_len][3] THEN 0
                WHEN dp[t_len][2] >= dp[t_len][3] THEN 1 ELSE 2 END]
         FROM done
         UNION ALL
         SELECT b.event_type, b.days, b.obs, b.t_len, b.dp, b.t - 1,
           amax, [amax] || b.path
         FROM (SELECT b0.*, c.tf,
                 CASE WHEN b0.dp[b0.t - 1][1] + c.tf[b0.cur + 1] >=
                        b0.dp[b0.t - 1][2] + c.tf[3 + b0.cur + 1]
                    AND b0.dp[b0.t - 1][1] + c.tf[b0.cur + 1] >=
                        b0.dp[b0.t - 1][3] + c.tf[6 + b0.cur + 1] THEN 0
                   WHEN b0.dp[b0.t - 1][2] + c.tf[3 + b0.cur + 1] >=
                        b0.dp[b0.t - 1][3] + c.tf[6 + b0.cur + 1] THEN 1
                   ELSE 2 END AS amax
               FROM bt b0 CROSS JOIN cons c) b
         WHERE b.t > 1),
       fin AS (SELECT event_type, days, obs, path FROM bt WHERE t = 1),
       g AS (SELECT event_type, unnest(range(1, len(days) + 1)) AS i,
               days, obs, path
             FROM fin)
       SELECT event_type, days[i] AS day, CAST(obs[i] AS INT) AS obs,
         CAST(path[i] AS INT) AS regime
       FROM g"""
  }

  /** F(k−1, (n−1)(k−1)) α=0.05 critical pin for [[qQuade]]'s fixed
    * 30-day × 5-type calendar (df ≈ (4, 116) ⇒ 2.45). */
  val QuadeCrit005 = 2.45

  /** q_quade: Quade's weighted blocked-rank test — the Friedman-family
    * member that WEIGHTS blocks by how much signal they carry (the
    * within-block range): high-spread days dominate the verdict,
    * flat days contribute ~nothing, which is exactly right for traffic
    * data where most days are quiet. Reuses the Friedman/Page midrank
    * substrate (complete blocks, tie-averaged ranks); block weights are
    * midranks of the block RANGE across blocks. Everything is carried
    * in scaled-integer form — r2 = 2·rank, q2 = 2·blockrank, so
    * S4_ij = q2·(r2−(k+1)) is an exact integer — and the statistic
    * F = (n−1)·ΣS4_j² / (n·ΣS4_ij² − ΣS4_j²) cancels the scaling
    * entirely: ONE final double division, NULL on perfect agreement
    * (denominator 0) via nullif in both engines. */
  def qQuade(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = Tables.events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("b"),
        col("event_type").as("g"),
        col("value").cast("decimal(18,6)").as("x"))
      .groupBy("b", "g").agg(sum(col("x")).as("y"))
    val (ranked, k) = blockRanked(vals)
    val rng = vals
      .withColumn("kb", count(lit(1)).over(Window.partitionBy("b")))
      .filter(col("kb") === k)
      .groupBy("b").agg((max(col("y")) - min(col("y"))).as("range"))
      .withColumn("q2", lit(2L) * rank().over(Window.orderBy(col("range"))) +
        count(lit(1)).over(Window.partitionBy("range")) - 1L)
      .select(col("b"), col("q2"))
    val s4 = ranked.join(rng, Seq("b"))
      .select(col("b"), col("g"),
        (col("q2") * ((col("ar") * 2).cast("long") - (k + 1))).as("s4"))
    val a16 = s4.agg(
      sum(col("s4").cast("decimal(38,0)") * col("s4")).as("a16"),
      (count(lit(1)) / k).cast("long").as("n_blocks"))
    val b16 = s4.groupBy("g")
      .agg(sum(col("s4")).as("sj4"))
      .agg(sum(col("sj4").cast("decimal(38,0)") * col("sj4")).as("b16"))
    val num = (col("n_blocks") - 1).cast("decimal(38,0)") * col("b16")
    val den = col("n_blocks").cast("decimal(38,0)") * col("a16") - col("b16")
    val f = num.cast("double") / nullif(den.cast("double"), lit(0.0))
    a16.crossJoin(b16)
      .select(lit(k).as("k_groups"), col("n_blocks"),
        round(f, 6).as("f_stat"), (f > QuadeCrit005).as("significant"))
  }

  private lazy val qQuadeSql =
    s"""WITH vals AS (
         SELECT strftime(ts, '%Y-%m-%d') AS b, event_type AS g,
           sum(CAST(value AS DECIMAL(18,6))) AS y
         FROM events GROUP BY 1, 2),
       kk AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS k FROM vals),
       complete AS (
         SELECT b, g, y FROM (
           SELECT b, g, y, count(*) OVER (PARTITION BY b) AS kb FROM vals)
         CROSS JOIN kk WHERE kb = k),
       ranked AS (
         SELECT b, g,
           2 * rank() OVER (PARTITION BY b ORDER BY y)
             + count(*) OVER (PARTITION BY b, y) - 1 AS r2
         FROM complete),
       rng AS (
         SELECT b, 2 * rank() OVER (ORDER BY range)
             + count(*) OVER (PARTITION BY range) - 1 AS q2
         FROM (SELECT b, max(y) - min(y) AS range FROM complete GROUP BY b)),
       s4 AS (
         SELECT ranked.b, ranked.g,
           CAST(q2 * (r2 - (k + 1)) AS BIGINT) AS s4
         FROM ranked JOIN rng ON rng.b = ranked.b CROSS JOIN kk),
       a AS (SELECT sum(CAST(s4 AS HUGEINT) * s4) AS a16,
               CAST(count(*) / (SELECT k FROM kk) AS BIGINT) AS n_blocks
             FROM s4),
       bb AS (SELECT sum(CAST(sj4 AS HUGEINT) * sj4) AS b16 FROM (
                SELECT g, CAST(sum(s4) AS BIGINT) AS sj4 FROM s4 GROUP BY g))
       SELECT (SELECT k FROM kk) AS k_groups, n_blocks,
         round(CAST((n_blocks - 1) * b16 AS DOUBLE)
           / nullif(CAST(n_blocks * a16 - b16 AS DOUBLE), 0.0), 6) AS f_stat,
         CAST((n_blocks - 1) * b16 AS DOUBLE)
           / nullif(CAST(n_blocks * a16 - b16 AS DOUBLE), 0.0)
           > $QuadeCrit005 AS significant
       FROM a CROSS JOIN bb"""

  def qFriedman(s: SparkSession, dir: String): DataFrame =
    friedmanOf(Tables.events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("b"),
        col("event_type").as("g"),
        col("value").cast("decimal(18,6)").as("x"))
      .groupBy("b", "g").agg(sum(col("x")).as("y")))

  /** Shared blocked-rank substrate: complete blocks only, tie-averaged
    * within-block ranks as exact DECIMAL(19,1) halves — consumed by
    * [[friedmanOf]] and [[pageOf]] (one construction, so the trend test
    * walks the identical ranks the omnibus scored). Returns (ranked,
    * k). */
  private def blockRanked(vals: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val k = vals.select(countDistinct(col("g"))).head.getLong(0)
    val complete = vals
      .withColumn("kb", count(lit(1)).over(Window.partitionBy("b")))
      .filter(col("kb") === k)
    val w = Window.partitionBy("b")
    val ranked = complete
      .withColumn("rk", rank().over(w.orderBy(col("y"))))
      .withColumn("t", count(lit(1)).over(Window.partitionBy("b", "y")))
      .select(col("b"), col("g"), col("t"),
        (col("rk").cast("decimal(19,1)") +
          (col("t") - 1).cast("decimal(19,1)") / 2)
          .cast("decimal(19,1)").as("ar"))
    (ranked, k)
  }

  /** Friedman core over a (b: block, g: treatment, y) relation — see
    * [[qFriedman]]. */
  def friedmanOf(vals: DataFrame): DataFrame = {
    val (ranked, k) = blockRanked(vals)
    val td = col("t").cast("decimal(38,0)")
    // Σ(t³−t) over tie GROUPS: each (b,y) group of depth t contributes t
    // rows, so divide the per-row sum by t → sum (t³−t)/t = t²−1 per row
    val ties = ranked.agg(
      sum(td * td - 1).cast("decimal(38,0)").as("tie_num"),
      (count(lit(1)) / k).cast("long").as("n_blocks"))
    val rj = ranked.groupBy("g")
      .agg(sum(col("ar")).cast("decimal(38,1)").as("rj"))
      .agg(aggregate(array_sort(collect_list(struct(col("g"), col("rj")))),
        lit(0.0), (acc, x) =>
          acc + x.getField("rj").cast("double") * x.getField("rj").cast("double"))
        .as("sr2"))
      .crossJoin(broadcast(ties))
    val nD = col("n_blocks").cast("double")
    val kD = lit(k.toDouble)
    val q = lit(12.0) * col("sr2") / (nD * kD * (kD + 1)) -
      lit(3.0) * nD * (kD + 1)
    val corr = lit(1.0) - col("tie_num").cast("double") /
      (nD * kD * (kD * kD - 1))
    val qc = q / corr
    val crit = RobustStats.KruskalChiCrit.foldLeft(lit(null).cast("double")) {
      case (acc, (df, c)) => when(lit(k.toInt) - 1 === df, c).otherwise(acc)
    }
    rj.select(lit(k).as("k"), col("n_blocks"),
      round(q, 6).as("q"), round(qc, 6).as("q_tie_corrected"),
      lit(k - 1).as("df"), (qc > crit).as("significant"))
  }

  /** q_page_trend: Page's L trend test over the SAME blocked ranks as
    * q_friedman — the ORDERED-alternative member of the repeated-measures
    * family (Friedman asks "do the treatments differ at all?"; Page asks
    * "do they increase along a DECLARED order?" — the blocked twin of
    * q_trend's Cochran–Armitage, with far more power than the omnibus
    * when the alternative is monotone). The declared order here is the
    * lexicographic event-type sequence (j = 1..k by name — the fixed,
    * reproducible contract; any other hypothesis is a rename away).
    * L = Σ_j j·R_j over the tie-averaged within-block rank sums —
    * exact DECIMAL until the final z = (L − bk(k+1)²/4) /
    * √(bk²(k+1)(k²−1)/144), the CLASSICAL tie-naive moments (ties enter
    * L exactly through the averaged ranks; the null variance is the
    * standard Page form — documented, not hidden). Two-sided gate at
    * z₀.₉₇₅ since the lexicographic order is a neutral hypothesis. */
  def qPageTrend(s: SparkSession, dir: String): DataFrame =
    pageOf(Tables.events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("b"),
        col("event_type").as("g"),
        col("value").cast("decimal(18,6)").as("x"))
      .groupBy("b", "g").agg(sum(col("x")).as("y")))

  /** Page core over a (b, g, y) relation — see [[qPageTrend]]. */
  def pageOf(vals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (ranked, k) = blockRanked(vals)
    val blocks = ranked.agg((count(lit(1)) / k).cast("long").as("n_blocks"))
    val lsum = ranked.groupBy("g")
      .agg(sum(col("ar")).cast("decimal(38,1)").as("rj"))
      .withColumn("j",
        row_number().over(Window.orderBy(col("g"))).cast("decimal(38,0)"))
      .agg(sum(col("j") * col("rj")).cast("decimal(38,1)").as("l"))
    val kD = lit(k.toDouble)
    val bD = col("n_blocks").cast("double")
    val e = bD * kD * (kD + 1) * (kD + 1) / 4
    val v = bD * kD * kD * (kD + 1) * (kD * kD - 1) / 144
    val z = (col("l").cast("double") - e) / sqrt(v)
    lsum.crossJoin(broadcast(blocks))
      .select(lit(k).as("k"), col("n_blocks"),
        col("l").cast("double").as("l"), round(z, 6).as("z"),
        (abs(z) > RobustStats.DunnZCrit(1)).as("significant"))
  }

  private lazy val qPageTrendSql =
    s"""WITH daily AS (
         SELECT strftime(ts, '%Y-%m-%d') AS b, event_type AS g,
           sum(CAST(value AS DECIMAL(18,6))) AS y
         FROM events GROUP BY 1, 2),
       kk AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS k FROM daily),
       cb AS (SELECT b, g, y FROM daily
              WHERE b IN (SELECT b FROM daily GROUP BY b
                          HAVING count(*) = (SELECT k FROM kk))),
       rk AS (SELECT b, g,
                CAST(CAST(rank() OVER (PARTITION BY b ORDER BY y) AS DECIMAL(19,1))
                  + CAST(count(*) OVER (PARTITION BY b, y) - 1 AS DECIMAL(19,1)) / 2
                  AS DECIMAL(19,1)) AS ar
              FROM cb),
       blocks AS (SELECT CAST(count(*) // (SELECT k FROM kk) AS BIGINT) AS n_blocks
                  FROM rk),
       rj AS (SELECT g, CAST(sum(ar) AS DECIMAL(38,1)) AS rj FROM rk GROUP BY 1),
       jr AS (SELECT rj, CAST(row_number() OVER (ORDER BY g) AS DECIMAL(38,0)) AS j
              FROM rj),
       ls AS (SELECT CAST(sum(j * rj) AS DECIMAL(38,1)) AS l FROM jr)
       SELECT k, n_blocks, CAST(l AS DOUBLE) AS l,
         round((CAST(l AS DOUBLE)
             - CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
               * (CAST(k AS DOUBLE) + 1) * (CAST(k AS DOUBLE) + 1) / 4)
           / sqrt(CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
               * (CAST(k AS DOUBLE) + 1)
               * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1) / 144), 6) AS z,
         abs((CAST(l AS DOUBLE)
             - CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
               * (CAST(k AS DOUBLE) + 1) * (CAST(k AS DOUBLE) + 1) / 4)
           / sqrt(CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
               * (CAST(k AS DOUBLE) + 1)
               * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1) / 144))
           > ${RobustStats.DunnZCrit(1)} AS significant
       FROM ls CROSS JOIN blocks CROSS JOIN kk"""

  /** q_simpson: Simpson's-paradox detector on the length→quality
    * association — does the POOLED regression slope point the other way
    * than the per-language slopes? (The aggregation trap every
    * cross-corpus dashboard walks into: language is a confounder of
    * both doc length and quality score, so the pooled trend can reverse
    * every within-group trend.) The verdict needs only slope SIGNS, and
    * the OLS slope sign is the sign of n·Σxy − Σx·Σy — an EXACT decimal
    * integer comparison, no floating point anywhere in the flag. Widths
    * are the declared 100 TB envelope: n ≤ 10¹² docs (DECIMAL(12,0)),
    * Σxy ≤ 10²⁰ (DECIMAL(26,6)), both products inside DECIMAL(38,6).
    * Emits one row per language with its sign, the pooled sign, and the
    * global strict-paradox flag (EVERY group reversed). */
  def qSimpson(s: SparkSession, dir: String): DataFrame =
    simpsonOf(TextAnalysis.qQuality(s, dir).select(col("doc_id"), col("quality"))
      .join(Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars")), Seq("doc_id"))
      .select(col("lang"), col("n_chars").cast("decimal(18,0)").as("x"),
        col("quality").cast("decimal(18,6)").as("y")))

  /** Simpson core over a (lang, x, y) relation — see [[qSimpson]]. */
  def simpsonOf(base: DataFrame): DataFrame = {
    def num(df: DataFrame, keys: Column*): DataFrame =
      df.groupBy(keys: _*).agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"))
        .select((keys :+ col("n").as("n") :+
          (col("n").cast("decimal(12,0)") * col("sxy").cast("decimal(26,6)") -
            col("sx").cast("decimal(19,0)") * col("sy").cast("decimal(19,6)"))
            .as("nm")): _*)
    val perLang = num(base, col("lang"))
      .select(col("lang"), col("n"), (col("nm") > 0).as("slope_up"))
    val pooled = num(base.select(lit("all").as("g"), col("x"), col("y")), col("g"))
      .select((col("nm") > 0).as("pooled_up"))
    val joined = perLang.crossJoin(broadcast(pooled))
    val par = joined
      .agg(min((col("slope_up") =!= col("pooled_up")).cast("int")).as("p"))
      .select((col("p") === 1).as("paradox"))
    joined.crossJoin(broadcast(par))
      .select(col("lang"), col("n"), col("slope_up"), col("pooled_up"),
        col("paradox"))
  }

  private lazy val qSimpsonSql = {
    val qs = TextAnalysis.qQualitySql
    s"""WITH q AS ($qs),
       b AS (SELECT lang, CAST(n_chars AS DECIMAL(18,0)) AS x,
               CAST(quality AS DECIMAL(18,6)) AS y
             FROM q JOIN documents USING (doc_id)),
       g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS DECIMAL(19,0)) AS sx,
               CAST(sum(y) AS DECIMAL(19,6)) AS sy,
               CAST(sum(x * y) AS DECIMAL(26,6)) AS sxy
             FROM b GROUP BY lang),
       gl AS (SELECT lang, n,
                (CAST(n AS DECIMAL(12,0)) * sxy - sx * sy > 0) AS slope_up
              FROM g),
       p AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS DECIMAL(19,0)) AS sx,
               CAST(sum(y) AS DECIMAL(19,6)) AS sy,
               CAST(sum(x * y) AS DECIMAL(26,6)) AS sxy
             FROM b),
       pl AS (SELECT (CAST(n AS DECIMAL(12,0)) * sxy - sx * sy > 0) AS pooled_up
              FROM p),
       par AS (SELECT bool_and(slope_up <> pooled_up) AS paradox
               FROM gl CROSS JOIN pl)
       SELECT lang, n, slope_up, pooled_up, paradox
       FROM gl CROSS JOIN pl CROSS JOIN par"""
  }

  /** Strong-seasonality threshold on the day-of-week η² (the Hyndman
    * seasonal-strength reading: above this, the weekly component
    * explains most daily variance). */
  val SeasonalStrengthMin = 0.5

  /** q_seasonal_strength: day-of-week seasonal strength per event type —
    * the SUMMARY companion to q_seasonal (which emits per-day residual
    * flags but no "how seasonal is this series overall" number).
    * Identity used: the strength IS the η² of the day-of-week grouping —
    * F_s = SSB/SST = 1 − Var(residual)/Var(detrended) exactly, because
    * removing the dow means is the within-group projection. So the whole
    * statistic reduces to the anovaOf partitioning over dow groups:
    * exact DECIMAL moments per (type, dow), the one order-sensitive
    * 7-term sum (Σ_w S_w²/n_w) folded over the SORTED weekday array,
    * F_s = (sb − cf)/(sstot − cf) in one double expression. Zero total
    * variance → NULL. One events scan + a 7-row-per-type rollup. */
  def qSeasonalStrength(s: SparkSession, dir: String): DataFrame =
    seasonalStrengthOf(Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).as("y"))
      .withColumn("weekday", (dayofweek(to_date(col("day"))) - 1).cast("int")))

  /** Strength core over an (event_type, weekday, y) relation — see
    * [[qSeasonalStrength]]. */
  def seasonalStrengthOf(daily: DataFrame): DataFrame = {
    val g = daily.groupBy("event_type", "weekday")
      .agg(count(lit(1)).as("nw"), sum(col("y")).as("sw"),
        sum(col("y") * col("y")).as("ssw"))
      .select(col("event_type"), col("weekday"), col("nw"), col("sw"), col("ssw"),
        (col("sw").cast("double") * col("sw").cast("double") /
          col("nw").cast("double")).as("term"))
    val m = g.groupBy("event_type").agg(
      sum(col("nw")).as("n_days"),
      sum(col("sw")).cast("double").as("stot"),
      sum(col("ssw")).cast("double").as("sstot"),
      aggregate(array_sort(collect_list(struct(col("weekday"), col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("sb"))
    val cf = col("stot") * col("stot") / col("n_days").cast("double")
    val fs = (col("sb") - cf) / (col("sstot") - cf)
    m.select(col("event_type"), col("n_days"),
      when(col("sstot") - cf =!= 0.0, round(fs, 6))
        .otherwise(lit(null).cast("double")).as("strength"),
      when(col("sstot") - cf =!= 0.0, fs > SeasonalStrengthMin)
        .otherwise(lit(null).cast("boolean")).as("strongly_seasonal"))
  }

  private lazy val qSeasonalStrengthSql =
    s"""WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS y
         FROM events GROUP BY 1, 2),
       dw AS (SELECT event_type, y,
                CAST(dayofweek(CAST(day AS DATE)) AS INT) AS weekday
              FROM daily),
       g AS (SELECT event_type, weekday, CAST(count(*) AS BIGINT) AS nw,
               sum(y) AS sw,
               sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS ssw
             FROM dw GROUP BY 1, 2),
       t AS (SELECT event_type, weekday, nw, sw, ssw,
               CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE) AS term
             FROM g),
       m AS (SELECT event_type, CAST(sum(nw) AS BIGINT) AS n_days,
               CAST(sum(sw) AS DOUBLE) AS stot, CAST(sum(ssw) AS DOUBLE) AS sstot,
               list_sum(list(term ORDER BY weekday)) AS sb
             FROM t GROUP BY event_type)
       SELECT event_type, n_days,
         CASE WHEN sstot - stot * stot / CAST(n_days AS DOUBLE) <> 0 THEN
           round((sb - stot * stot / CAST(n_days AS DOUBLE))
             / (sstot - stot * stot / CAST(n_days AS DOUBLE)), 6) END AS strength,
         CASE WHEN sstot - stot * stot / CAST(n_days AS DOUBLE) <> 0 THEN
           (sb - stot * stot / CAST(n_days AS DOUBLE))
             / (sstot - stot * stot / CAST(n_days AS DOUBLE))
             > $SeasonalStrengthMin END AS strongly_seasonal
       FROM m"""

  /** Ljung–Box portmanteau lag depth. */
  val LjungBoxLags = 7

  /** q_ljung_box: Ljung–Box portmanteau test of the daily value totals
    * per event type — the MULTI-LAG member of the serial-dependence
    * family (q_autocorr reads lag-1 only; a weekly cycle hides at lag 7
    * with r₁ ≈ 0, and the portmanteau pools the first h lags into one
    * χ²(h) verdict — the standard residual-whiteness gate before
    * trusting q_holt/q_seasonal forecasts). Q = n(n+2)·Σ_{k≤h}
    * r_k²/(n−k) over the SAME n-scaled exact-decimal centering as
    * q_autocorr (d = n·x − S, the scale cancels in every r_k), each
    * lag's num/den an exact DECIMAL(38,12) aggregate; the h-term
    * combination is ONE fixed-order double expression, identical in
    * both engines. n ≤ h or zero variance → NULL. One pass, h leads in
    * a single projection. */
  def qLjungBox(s: SparkSession, dir: String): DataFrame =
    ljungBoxOf(Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("tot")))

  /** Ljung–Box core over an (event_type, day, tot) relation — see
    * [[qLjungBox]]. */
  def ljungBoxOf(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = LjungBoxLags
    val st = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("tot")).as("s"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val d = daily.join(st, Seq("event_type"))
      .withColumn("d", (col("n") * col("tot") - col("s")).cast("decimal(18,6)"))
    val withLeads = d.select(col("event_type") +: col("n") +: col("d") +:
      (1 to h).map(k => lead(col("d"), k).over(w).as(s"l$k")): _*)
    val agg = withLeads.groupBy("event_type")
      .agg(max(col("n")).as("n_days"),
        (sum(col("d") * col("d")).as("den")) +:
          (1 to h).map(k =>
            sum(col("d") * col(s"l$k")).as(s"num$k")): _*)
    val nD = col("n_days").cast("double")
    val q = (1 to h).map { k =>
      val rk = col(s"num$k").cast("double") / col("den").cast("double")
      rk * rk / (nD - k)
    }.reduce(_ + _) * (nD * (nD + 2))
    val ok = col("n_days") > h &&
      col("den") =!= lit(0).cast("decimal(38,12)")
    agg.select(col("event_type"), col("n_days"),
      when(ok, round(q, 6)).otherwise(lit(null).cast("double")).as("q_lb"),
      when(ok, q > RobustStats.KruskalChiCrit(h))
        .otherwise(lit(null).cast("boolean")).as("significant"))
  }

  private lazy val qLjungBoxSql = {
    val h = LjungBoxLags
    // DECIMAL(19,6) forces int128 storage so the d·d products cannot
    // overflow DuckDB's int64 DECIMAL(18) multiply (the qAutocorr rule)
    val leadCols = (1 to h).map(k =>
      s"CAST(lead(d, $k) OVER (PARTITION BY event_type ORDER BY day) " +
        s"AS DECIMAL(19,6)) AS l$k")
      .mkString(",\n                ")
    val leads = (1 to h).map(k =>
      s"CAST(sum(d * l$k) AS DECIMAL(38,12)) AS num$k")
      .mkString(",\n           ")
    val qExpr = "(" + (1 to h).map(k =>
      s"(CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE)) * " +
        s"(CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE)) " +
        s"/ (CAST(n_days AS DOUBLE) - $k)").mkString(" + ") +
      ") * (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2))"
    s"""WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS tot
         FROM events GROUP BY 1, 2),
       st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(tot) AS s
              FROM daily GROUP BY 1),
       dd AS (SELECT event_type, day,
                CAST(n * tot - s AS DECIMAL(18,6)) AS d, n
              FROM daily JOIN st USING (event_type)),
       dl AS (SELECT event_type, n, CAST(d AS DECIMAL(19,6)) AS d,
                $leadCols
              FROM dd),
       agg AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
           CAST(sum(d * d) AS DECIMAL(38,12)) AS den,
           $leads
         FROM dl GROUP BY event_type)
       SELECT event_type, n_days,
         CASE WHEN n_days > $h AND den <> 0 THEN round($qExpr, 6) END AS q_lb,
         CASE WHEN n_days > $h AND den <> 0 THEN
           $qExpr > ${RobustStats.KruskalChiCrit(h)} END AS significant
       FROM agg"""
  }

  /** q_runs_test: Wald–Wolfowitz runs test on the up/down sequence of
    * daily value totals per event type — the RANDOMNESS member of the
    * serial-dependence family (q_autocorr measures linear lag-1
    * dependence, q_cusum/q_page_hinkley hunt sustained drift; the runs
    * test asks the weaker, assumption-free question "is the direction
    * sequence exchangeable at all?" — it catches oscillation AND
    * clustering that autocorrelation of magnitudes can miss). Zero
    * day-over-day changes are EXCLUDED (exact DECIMAL(18,6) equality,
    * identical cross-engine), the sign sequence is re-lagged after the
    * exclusion, and R = #(sign breaks) + 1 per type. Null moments:
    * E = 2n₁n₂/n + 1, Var = 2n₁n₂(2n₁n₂−n)/(n²(n−1)) — products
    * widened to DECIMAL(38,0)/HUGEINT before the single double
    * combination. Degenerate sequences (one-sided or n ≤ 1, or zero
    * variance) → NULL, never a fabricated z. Two windows over
    * (type × day) — day count bounds everything. */
  def qRunsTest(s: SparkSession, dir: String): DataFrame =
    runsOf(Tables.events(s, dir)
      .select(col("event_type").as("g"),
        date_format(col("ts"), "yyyy-MM-dd").as("d"),
        col("value").cast("decimal(18,6)").as("x"))
      .groupBy("g", "d").agg(sum(col("x")).as("y")))

  /** Runs-test core over a (g, d: ordered step, y) relation — see
    * [[qRunsTest]]. */
  def runsOf(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy("d")
    val signs = daily.withColumn("prev", lag(col("y"), 1).over(w))
      .filter(col("prev").isNotNull && col("y") =!= col("prev"))
      .select(col("g"), col("d"),
        when(col("y") > col("prev"), 1).otherwise(-1).as("sgn"))
    val agg = signs.withColumn("ps", lag(col("sgn"), 1).over(w))
      .groupBy("g").agg(
        count(lit(1)).as("n"),
        sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_down"),
        sum(when(col("ps").isNull || col("ps") =!= col("sgn"), 1L)
          .otherwise(0L)).as("r"))
    val p = lit(2).cast("decimal(38,0)") *
      col("n_up").cast("decimal(38,0)") * col("n_down").cast("decimal(38,0)")
    val nn = col("n").cast("decimal(38,0)")
    val e = p.cast("double") / col("n").cast("double") + lit(1.0)
    val vr = p.cast("double") * (p - nn).cast("double") /
      (nn * nn * (nn - 1)).cast("double")
    val z = (col("r").cast("double") - e) / sqrt(vr)
    val ok = col("n_up") > 0 && col("n_down") > 0 && col("n") > 1 && vr > 0.0
    agg.select(col("g").as("event_type"), col("n"), col("n_up"),
      col("n_down"), col("r").as("runs"),
      when(ok, round(z, 6)).otherwise(lit(null).cast("double")).as("z"),
      when(ok, abs(z) > RobustStats.DunnZCrit(1))
        .otherwise(lit(null).cast("boolean")).as("significant"))
  }

  private lazy val qRunsTestSql =
    s"""WITH daily AS (
         SELECT event_type AS g, strftime(ts, '%Y-%m-%d') AS d,
           sum(CAST(value AS DECIMAL(18,6))) AS y
         FROM events GROUP BY 1, 2),
       df AS (SELECT g, d, y, lag(y) OVER (PARTITION BY g ORDER BY d) AS prev
              FROM daily),
       sg AS (SELECT g, d, CASE WHEN y > prev THEN 1 ELSE -1 END AS sgn
              FROM df WHERE prev IS NOT NULL AND y <> prev),
       rr AS (SELECT g, sgn, lag(sgn) OVER (PARTITION BY g ORDER BY d) AS ps
              FROM sg),
       agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                 CAST(count(*) FILTER (WHERE sgn = 1) AS BIGINT) AS n_up,
                 CAST(count(*) FILTER (WHERE sgn = -1) AS BIGINT) AS n_down,
                 CAST(count(*) FILTER (WHERE ps IS NULL OR ps <> sgn) AS BIGINT) AS r
               FROM rr GROUP BY g),
       t AS (SELECT *,
               CAST(2 AS HUGEINT) * n_up * n_down AS p,
               CAST(n AS HUGEINT) AS nn
             FROM agg),
       u AS (SELECT *,
               CAST(p AS DOUBLE) / CAST(n AS DOUBLE) + 1.0 AS e,
               CAST(p AS DOUBLE) * CAST(p - nn AS DOUBLE)
                 / CAST(nn * nn * (nn - 1) AS DOUBLE) AS vr
             FROM t)
       SELECT g AS event_type, n, n_up, n_down, r AS runs,
         CASE WHEN n_up > 0 AND n_down > 0 AND n > 1 AND vr > 0 THEN
           round((CAST(r AS DOUBLE) - e) / sqrt(vr), 6) END AS z,
         CASE WHEN n_up > 0 AND n_down > 0 AND n > 1 AND vr > 0 THEN
           abs((CAST(r AS DOUBLE) - e) / sqrt(vr)) > ${RobustStats.DunnZCrit(1)}
         END AS significant
       FROM u"""

  private lazy val qFriedmanSql =
    s"""WITH daily AS (
         SELECT strftime(ts, '%Y-%m-%d') AS b, event_type AS g,
           sum(CAST(value AS DECIMAL(18,6))) AS y
         FROM events GROUP BY 1, 2),
       kk AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS k FROM daily),
       cb AS (SELECT b, g, y FROM daily
              WHERE b IN (SELECT b FROM daily GROUP BY b
                          HAVING count(*) = (SELECT k FROM kk))),
       rk AS (SELECT b, g,
                CAST(count(*) OVER (PARTITION BY b, y) AS BIGINT) AS t,
                CAST(CAST(rank() OVER (PARTITION BY b ORDER BY y) AS DECIMAL(19,1))
                  + CAST(count(*) OVER (PARTITION BY b, y) - 1 AS DECIMAL(19,1)) / 2
                  AS DECIMAL(19,1)) AS ar
              FROM cb),
       ties AS (SELECT CAST(sum(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) - 1)
                  AS DECIMAL(38,0)) AS tie_num,
                CAST(count(*) // (SELECT k FROM kk) AS BIGINT) AS n_blocks
                FROM rk),
       rj AS (SELECT g, CAST(sum(ar) AS DECIMAL(38,1)) AS rj FROM rk GROUP BY 1),
       m AS (SELECT list_sum(list(CAST(rj AS DOUBLE) * CAST(rj AS DOUBLE) ORDER BY g))
               AS sr2 FROM rj)
       SELECT k, n_blocks,
         round(12.0 * sr2 / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
             * (CAST(k AS DOUBLE) + 1)) - 3.0 * CAST(n_blocks AS DOUBLE)
           * (CAST(k AS DOUBLE) + 1), 6) AS q,
         round((12.0 * sr2 / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
             * (CAST(k AS DOUBLE) + 1)) - 3.0 * CAST(n_blocks AS DOUBLE)
           * (CAST(k AS DOUBLE) + 1))
           / (1.0 - CAST(tie_num AS DOUBLE) / (CAST(n_blocks AS DOUBLE)
             * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1))),
           6) AS q_tie_corrected,
         k - 1 AS df,
         (12.0 * sr2 / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
             * (CAST(k AS DOUBLE) + 1)) - 3.0 * CAST(n_blocks AS DOUBLE)
           * (CAST(k AS DOUBLE) + 1))
           / (1.0 - CAST(tie_num AS DOUBLE) / (CAST(n_blocks AS DOUBLE)
             * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1)))
           > ${RobustStats.KruskalChiCrit(4)} AS significant
       FROM m CROSS JOIN ties CROSS JOIN kk"""

  /** q_levene: Brown–Forsythe variance-homogeneity test across the
    * l_returnflag groups — the ASSUMPTION check beside q_anova (ANOVA
    * compares means assuming equal variances; W is the F statistic on
    * absolute deviations from each group's MEDIAN, the robust Levene
    * variant). The median is nearest-rank through the distributed
    * pick-only selector (Ranks.groupedValueAtRanks — one range shuffle,
    * only picked values reach the driver, the q_mad discipline; never a
    * per-group window over a third of the fact table), deviations stay
    * exact 2-dp DECIMAL, and the F combination reuses the q_anova
    * moment core verbatim. W ≈ 0 on this corpus (uniform quantities —
    * honest true negative; Round10bSpec proves W trips on a
    * heteroscedastic fixture). */
  def qLevene(s: SparkSession, dir: String): DataFrame = {
    // checkpointed sorted base (the RobustStats.pricesByFlag pattern):
    // the median pick runs sort-free over it and the deviation aggregate
    // reads the same materialized blocks — replaces the per-query
    // persist + unpersist + collect-and-rebuild dance.
    val nPart = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val base = graft.ModelCache.getOrElseUpdate(s, s"stats.qtyByFlag:$dir") {
      graft.ModelCache.checkpoint(Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("g"),
          col("l_quantity").cast("decimal(18,2)").as("x"))
        .repartitionByRange(nPart, col("g").asc, col("x").asc)
        .sortWithinPartitions(col("g").asc, col("x").asc))
    }
    leveneOf(s, base, preSorted = true)
  }

  /** Brown–Forsythe core over a (g, x DECIMAL) relation. `preSorted`
    * callers (qLevene's checkpointed range-sorted substrate) skip the
    * median pick's range shuffle; the default sorts internally — spec
    * fixtures arrive unsorted. */
  def leveneOf(s: SparkSession, base: DataFrame,
      preSorted: Boolean = false): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    def kMed(n: Long) = (n * 50 + 99) / 100
    val (counts, medPicks) =
      if (preSorted) Ranks.groupedValueAtRanksSorted(
        base, "g", "x", n => Seq(kMed(n)))
      else Ranks.groupedValueAtRanks(base, "g", "x", n => Seq(kMed(n)))
    val meds = medPicks.map { case (g, _, v) => g -> v }.toMap
    val groups = counts.keySet.toSeq.sortBy(_.toString)
    val medRows = groups.map(g => Row(g, meds(g)))
    val medDf = s.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(medRows).asJava),
      StructType(Seq(base.schema("g"),
        StructField("med", base.schema("x").dataType))))
    val z = base.join(broadcast(medDf), Seq("g"))
      .select(col("g"), abs(col("x") - col("med")).as("x"))
    anovaOf(z).select(col("k"), col("n"), col("f").as("w"), col("significant"))
  }

  private lazy val qLeveneSql =
    s"""WITH base AS (SELECT l_returnflag AS g,
               CAST(l_quantity AS DECIMAL(18,2)) AS x FROM lineitem),
       c AS (SELECT g, (count(*)*50+99)//100 AS k_med FROM base GROUP BY g),
       r AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS rn
             FROM base),
       med AS (SELECT r.g, r.x AS med FROM r JOIN c ON c.g = r.g AND r.rn = c.k_med),
       zz AS (SELECT base.g, abs(base.x - med.med) AS z
              FROM base JOIN med ON med.g = base.g),
       gg AS (SELECT g, CAST(count(*) AS BIGINT) AS nj,
                sum(CAST(z AS DECIMAL(18,2))) AS s,
                sum(CAST(z AS DECIMAL(18,2)) * CAST(z AS DECIMAL(18,2))) AS ss
              FROM zz GROUP BY 1),
       t AS (SELECT g, nj, s, ss,
               CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nj AS DOUBLE) AS term
             FROM gg),
       m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(nj) AS BIGINT) AS n,
               CAST(sum(s) AS DOUBLE) AS stot, CAST(sum(ss) AS DOUBLE) AS sstot,
               list_sum(list(term ORDER BY g)) AS sb
             FROM t)
       SELECT k, n,
         round((sb - stot * stot / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)
           / (((sstot - stot * stot / CAST(n AS DOUBLE))
               - (sb - stot * stot / CAST(n AS DOUBLE)))
             / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS w,
         (sb - stot * stot / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)
           / (((sstot - stot * stot / CAST(n AS DOUBLE))
               - (sb - stot * stot / CAST(n AS DOUBLE)))
             / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) > $AnovaFCrit AS significant
       FROM m"""

  /** q_trend: Cochran–Armitage trend test — does the quality-gate pass
    * RATE trend across ORDERED document-length bands? The ordered-k-group
    * member of the proportion-test family (q_two_prop compares two
    * unordered groups; ANOVA/KW compare means/locations — CA is the
    * standard dose-response test for binomials over ordered categories,
    * here band scores wᵢ = n_chars div 200). All moments are exact
    * integers widened to DECIMAL(38,0) at the cross products (the
    * q_tcloseness rule): T = N·Σwr − R·Σwn, Var(T) = R(N−R)/N ·
    * (N·Σw²n − (Σwn)²)/N, z = T/√Var — one grouped scan, a band-count
    * second stage, and a single fixed double expression both engines
    * share. Genuinely significant on this corpus: the Gopher gate's
    * length clauses make pass rate rise with band. */
  def qTrend(s: SparkSession, dir: String): DataFrame = {
    val bands = Tables.documents(s, dir)
      .select(col("doc_id"),
        (col("n_chars").cast("long") / RobustStats.LDivBand).cast("long").as("w"))
    trendOf(bands
      .join(TextAnalysis.qQualityRules(s, dir).select(col("doc_id"), col("passes")),
        Seq("doc_id")))
  }

  /** Cochran–Armitage core over a (w: score, passes: Boolean) relation —
    * see [[qTrend]]. */
  def trendOf(vals: DataFrame): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val g = vals
      .groupBy("w")
      .agg(count(lit(1)).as("n"),
        sum(when(col("passes"), 1L).otherwise(0L)).as("r"))
    val m = g.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("nn"), sum(col("r")).as("rr"),
      sum(d38(col("w")) * d38(col("n"))).cast("decimal(38,0)").as("swn"),
      sum(d38(col("w")) * d38(col("w")) * d38(col("n")))
        .cast("decimal(38,0)").as("swwn"),
      sum(d38(col("w")) * d38(col("r"))).cast("decimal(38,0)").as("swr"))
    val nD = col("nn").cast("double")
    val rD = col("rr").cast("double")
    val t = (d38(col("nn")) * col("swr") - d38(col("rr")) * col("swn"))
      .cast("double")
    // Var(N·T') = R(N−R)·[N·Σw²n − (Σwn)²]/N (one /N — Round10bSpec pins
    // the scaled statistic against a hand-computed fixture)
    val varT = (rD * (nD - rD)) *
      ((nD * col("swwn").cast("double") -
        col("swn").cast("double") * col("swn").cast("double")) / nD)
    val z = t / sqrt(varT)
    m.select(col("k"), col("nn").as("n"), col("rr").as("n_pass"),
      round(z, 6).as("z"), (abs(z) > 1.96).as("significant"))
  }

  private lazy val qTrendSql =
    s"""WITH qr AS (${TextAnalysis.qQualityRulesSql}),
       b AS (SELECT d.doc_id, d.n_chars // ${RobustStats.LDivBand} AS w, qr.passes
             FROM documents d JOIN qr ON qr.doc_id = d.doc_id),
       g AS (SELECT w, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS r
             FROM b GROUP BY 1),
       m AS (SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS nn, CAST(sum(r) AS BIGINT) AS rr,
               CAST(sum(CAST(w AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))
                 AS DECIMAL(38,0)) AS swn,
               CAST(sum(CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))
                 * CAST(n AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS swwn,
               CAST(sum(CAST(w AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0)))
                 AS DECIMAL(38,0)) AS swr
             FROM g)
       SELECT k, nn AS n, rr AS n_pass,
         round(CAST(CAST(nn AS DECIMAL(38,0)) * swr
             - CAST(rr AS DECIMAL(38,0)) * swn AS DOUBLE)
           / sqrt((CAST(rr AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(rr AS DOUBLE)))
             * ((CAST(nn AS DOUBLE) * CAST(swwn AS DOUBLE)
               - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE))
               / CAST(nn AS DOUBLE))), 6) AS z,
         abs(CAST(CAST(nn AS DECIMAL(38,0)) * swr
             - CAST(rr AS DECIMAL(38,0)) * swn AS DOUBLE)
           / sqrt((CAST(rr AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(rr AS DOUBLE)))
             * ((CAST(nn AS DOUBLE) * CAST(swwn AS DOUBLE)
               - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE))
               / CAST(nn AS DOUBLE)))) > 1.96 AS significant
       FROM m"""

  override def registry: Seq[Q] = Seq(
    Q("q_anova", qAnova, Oracle(qAnovaSql)),
    Q("q_bartlett", qBartlett, Oracle(qBartlettSql)),
    Q("q_tukey", qTukey, Oracle(qTukeySql)),
    Q("q_friedman", qFriedman, Oracle(qFriedmanSql)),
    Q("q_page_trend", qPageTrend, Oracle(qPageTrendSql)),
    Q("q_runs_test", qRunsTest, Oracle(qRunsTestSql)),
    Q("q_seasonal_strength", qSeasonalStrength, Oracle(qSeasonalStrengthSql)),
    Q("q_simpson", qSimpson, Oracle(qSimpsonSql)),
    Q("q_ljung_box", qLjungBox, Oracle(qLjungBoxSql)),
    Q("q_levene", qLevene, Oracle(qLeveneSql)),
    Q("q_trend", qTrend, Oracle(qTrendSql)),
    Q("q_spearman", qSpearman, Oracle(qSpearmanSql)),
    Q("q_benford", qBenford, Oracle(qBenfordSql)),
    Q("q_autocorr", qAutocorr, Oracle(qAutocorrSql)),
    Q("q_cusum", qCusum, Oracle(qCusumSql)),
    Q("q_changepoint", qChangepoint, Oracle(qChangepointSql)),
    Q("q_pettitt", qPettitt, Oracle(qPettittSql)),
    Q("q_granger", qGranger, Oracle(qGrangerSql)),
    Q("q_mde", qMde, Oracle(qMdeSql)),
    Q("q_holt", qHolt, Oracle(qHoltSql)),
    Q("q_holt_winters", qHoltWinters, Oracle(qHoltWintersSql)),
    Q("q_hw_eval", qHwEval, Oracle(qHwEvalSql)),
    Q("q_games_howell", qGamesHowell, Oracle(qGamesHowellSql)),
    Q("q_cox", qCox, Cert("q_cox_audit")),
    Q("q_cox_audit", qCoxAudit, Oracle(qCoxAuditSql)),
    Q("q_srm", qSrm, Oracle(qSrmSql)),
    Q("q_qte", qQte, Oracle(qQteSql)),
    Q("q_acf", qAcf, Oracle(qAcfSql)),
    Q("q_seasonal", qSeasonal, Oracle(qSeasonalSql)),
    Q("q_bootstrap", qBootstrap, Oracle(qBootstrapSql)),
    Q("q_jackknife", qJackknife, Oracle(qJackknifeSql)),
    Q("q_hill", qHill, Oracle(qHillSql)),
    Q("q_gini", qGini, Oracle(qGiniSql)),
    Q("q_theil", qTheil, Oracle(qTheilSql)),
    Q("q_lorenz", qLorenz, Oracle(qLorenzSql)),
    Q("q_kendall", qKendall, Oracle(qKendallSql)),
    Q("q_dq_checks", qDqChecks, Oracle(qDqChecksSql)),
    Q("q_dispersion", qDispersion, Oracle(qDispersionSql)),
    Q("q_kaplan_meier", qKaplanMeier, Oracle(qKaplanMeierSql)),
    Q("q_competing_risks", qCompetingRisks, Oracle(qCompetingRisksSql)),
    Q("q_rmst", qRmst, Oracle(qRmstSql)),
    Q("q_nelson_aalen", qNelsonAalen, Oracle(qNelsonAalenSql)),
    Q("q_markov_stationary", qMarkovStationary, Oracle(qMarkovStationarySql)),
    Q("q_ab_test", qAbTest, Oracle(qAbTestSql)),
    Q("q_cuped", qCuped, Oracle(qCupedSql)),
    Q("q_cem_att", qCemAtt, Oracle(qCemAttSql)),
    Q("q_two_prop", qTwoProp, Oracle(qTwoPropSql)),
    Q("q_tost", qTost, Oracle(qTostSql)),
    Q("q_quade", qQuade, Oracle(qQuadeSql)),
    Q("q_sax", qSax, Oracle(qSaxSql)),
    Q("q_matrix_profile", qMatrixProfile, Oracle(qMatrixProfileSql)),
    Q("q_herfindahl", qHerfindahl, Oracle(qHerfindahlSql)),
    Q("q_dtw", qDtw, Oracle(qDtwSql)),
    Q("q_pacf", qPacf, Oracle(qPacfSql)),
    Q("q_ar_forecast", qArForecast, Oracle(qArForecastSql)),
    Q("q_forecast_coherence", qForecastCoherence, Oracle(qForecastCoherenceSql)),
    Q("q_cooks_distance", qCooksDistance, Oracle(qCooksDistanceSql)),
    Q("q_viterbi", qViterbi, Oracle(qViterbiSql)),
    Q("q_binseg", qBinseg, Oracle(qBinsegSql)),
    Q("q_iv_wald", qIvWald, Oracle(qIvWaldSql)),
    Q("q_aa_test", qAaTest, Oracle(qAaTestSql)),
    Q("q_simpson_flip", qSimpsonFlip, Oracle(qSimpsonFlipSql)),
    Q("q_cmh", qCmh, Oracle(qCmhSql)),
    Q("q_weighted_logrank", qWeightedLogrank, Oracle(qWeightedLogrankSql)),
    Q("q_meta_fixed", qMetaFixed, Oracle(qMetaFixedSql)),
    Q("q_shapley_attrib", qShapleyAttrib, Oracle(qShapleyAttribSql)),
    Q("q_slo_burn", qSloBurn, Oracle(qSloBurnSql)),
    Q("q_did", qDid, Oracle(qDidSql)),
    Q("q_forecast_eval", qForecastEval, Oracle(qForecastEvalSql)),
    Q("q_partial_corr", qPartialCorr, Oracle(qPartialCorrSql)),
    Q("q_logrank", qLogrank, Oracle(qLogrankSql)),
    Q("q_ab_sequential", qAbSequential, Oracle(qAbSequentialSql)),
    Q("q_histogram", qHistogram, Oracle(qHistogramSql)),
    Q("q_corr_matrix", qCorrMatrix, Oracle(qCorrMatrixSql)),
    Q("q_regr", qRegr, Oracle(qRegrSql)),
    Q("q_regr_multi", qRegrMulti, Oracle(qRegrMultiSql)),
    Q("q_quantile_reg", qQuantileReg, Oracle(qQuantileRegSql)),
    Q("q_psi", qPsi, Oracle(qPsiSql)),
    Q("q_markov", qMarkov, Oracle(qMarkovSql)),
    Q("q_attribution", qAttribution, Oracle(qAttributionSql)),
    Q("q_attribution_markov", qAttributionMarkov, Oracle(qAttributionMarkovSql)),
    Q("q_dw", qDw, Oracle(qDwSql)),
    Q("q_readability", qReadability, Oracle(qReadabilitySql)),
    Q("q_zipf", qZipf, Oracle(qZipfSql)),
    Q("q_profile", qProfile, Oracle(qProfileSql)),
    Q("q_key_skew", qKeySkew, Oracle(qKeySkewSql)))
}
