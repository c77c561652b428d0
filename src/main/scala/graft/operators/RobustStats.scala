package graft.operators

import graft.{Cert, Oracle, Q, QueryModule}
import graft.functions.OrderedFold
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Annotation-reliability, privacy and robust-aggregate operators: Fleiss'
  * multi-rater kappa, a differential-privacy-style Laplace release,
  * nearest-rank winsorized means, and the source↔language mutual-
  * information cell table.
  *
  * Reference framing: the thesis evaluates single-rater agreement with
  * Cohen's kappa (evaluation.py); Fleiss generalizes it to the m-rater
  * labeling campaigns a production annotation pipeline runs. The rest are
  * the release/robustness steps a corpus-statistics service needs.
  * Everything is exact-integer-counts → a fixed double expression, so the
  * DuckDB oracle hashes bit-identically.
  */
object RobustStats extends QueryModule {

  // ---------------------------------------------------------------- fleiss

  /** Simulated rater panel: m raters, per-rater flip probability 3/16.
    * Votes are a pure function of the data (doc length signal XOR an
    * md5-nibble flip keyed by (doc_id, rater)) — reproducible across
    * engines, which is what lets the kappa be hash-gated at all. */
  val FleissRaters = 3
  val FleissLenThreshold = 300

  /** q_fleiss: Fleiss' kappa over a deterministic 3-rater panel — the
    * multi-rater generalization of q_kappa (Cohen): per-doc agreement
    * P_i = Σ_j n_ij(n_ij−1) / (m(m−1)), chance agreement from the global
    * category shares, κ = (P̄−P̄e)/(1−P̄e). Every sum is an exact integer
    * aggregate; the final expression is a handful of identically-ordered
    * double ops, rounded at 1e-6. One narrow pass + one 1-row aggregate. */
  /** The deterministic m-rater vote table (doc_id, vote) shared by the
    * agreement statistics (Fleiss' kappa, Krippendorff's alpha). */
  private def raterVotes(s: SparkSession, dir: String): DataFrame = {
    val m = FleissRaters
    Tables.documents(s, dir)
      .select(col("doc_id"), (col("n_chars") >= FleissLenThreshold).as("base"))
      .select(col("doc_id"), col("base"),
        explode(array((0 until m).map(lit): _*)).as("r"))
      .select(col("doc_id"), col("r"),
        when(conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("r").cast("string"))), 1, 1), 16, 10).cast("int") < 3,
          !col("base")).otherwise(col("base")).cast("int").as("vote"))
  }

  /** The vote table as a SQL CTE body (the oracle twin of raterVotes). */
  private lazy val raterVotesSql = {
    val m = FleissRaters
    s"""SELECT doc_id, r,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                  CAST(r AS VARCHAR)), 1, 1)) AS INT) < 3
                THEN CAST(NOT (n_chars >= $FleissLenThreshold) AS INT)
                ELSE CAST(n_chars >= $FleissLenThreshold AS INT) END AS vote
         FROM documents CROSS JOIN (SELECT unnest([${(0 until m).mkString(", ")}]) AS r)"""
  }

  def qFleiss(s: SparkSession, dir: String): DataFrame = {
    val m = FleissRaters
    val votes = raterVotes(s, dir)
    val perDoc = votes.groupBy("doc_id")
      .agg(sum(col("vote")).as("g"))
      .select(col("g"),
        (col("g") * (col("g") - 1) + (lit(m) - col("g")) * (lit(m - 1) - col("g")))
          .as("p_num"))
    perDoc.agg(count(lit(1)).as("n_docs"),
        sum(col("p_num")).as("s_pnum"), sum(col("g")).as("s_g"))
      .select(col("n_docs"),
        (col("s_pnum").cast("double") / (col("n_docs") * m * (m - 1))).as("p_bar"),
        (col("s_g").cast("double") / (col("n_docs") * m)).as("p_good"))
      .select(col("n_docs"), col("p_bar"),
        (col("p_good") * col("p_good") +
          (lit(1.0) - col("p_good")) * (lit(1.0) - col("p_good"))).as("p_e"))
      .select(col("n_docs"), round(col("p_bar"), 6).as("p_bar"),
        round(col("p_e"), 6).as("p_e"),
        round((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")), 6).as("kappa"))
  }

  private lazy val qFleissSql = {
    val m = FleissRaters
    s"""WITH v AS ($raterVotesSql),
       d AS (SELECT doc_id, sum(vote) AS g FROM v GROUP BY doc_id),
       p AS (SELECT g, g*(g-1) + ($m-g)*(${m - 1}-g) AS p_num FROM d),
       a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               sum(p_num) AS s_pnum, sum(g) AS s_g FROM p),
       b AS (SELECT n_docs,
               CAST(s_pnum AS DOUBLE) / (n_docs * $m * ${m - 1}) AS p_bar,
               CAST(s_g AS DOUBLE) / (n_docs * $m) AS p_good FROM a),
       c AS (SELECT n_docs, p_bar,
               p_good * p_good + (1.0 - p_good) * (1.0 - p_good) AS p_e FROM b)
       SELECT n_docs, round(p_bar, 6) AS p_bar, round(p_e, 6) AS p_e,
         round((p_bar - p_e) / (1.0 - p_e), 6) AS kappa
       FROM c"""
  }

  /** q_cochran_q: Cochran's Q over the deterministic m-rater panel — the
    * BINARY repeated-measures member of the agreement/blocked family
    * (q_friedman is the ranked form over continuous outcomes; Cochran's
    * Q asks "do the m raters differ in their marginal pass rates on the
    * SAME documents?", the complement of q_fleiss which asks how much
    * they agree per document). Q = (m−1)·(m·ΣG_j² − (ΣG_j)²) /
    * (m·ΣL_i − ΣL_i²) with G_j the per-rater totals and L_i the per-doc
    * totals — every sum an exact integer aggregate, ONE double division
    * at the end, so the 6dp round is fp-immune. Q ~ χ²(m−1) under H₀;
    * m is a declared constant so the critical value interpolates
    * directly (no when-chain needed). Two narrow doc-or-rater-keyed
    * aggregates over the vote relation; rater count bounds one side,
    * nothing corpus-sized leaves the shuffle. */
  def qCochranQ(s: SparkSession, dir: String): DataFrame = {
    val m = FleissRaters
    val v = raterVotes(s, dir)
    val a = v.groupBy("r").agg(sum(col("vote")).as("gj"))
      .agg(sum(col("gj")).as("sg"), sum(col("gj") * col("gj")).as("sg2"))
    val b = v.groupBy("doc_id").agg(sum(col("vote")).as("l"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("l")).as("sl"), sum(col("l") * col("l")).as("sl2"))
    val q = ((lit(m - 1) * (lit(m) * col("sg2") - col("sg") * col("sg")))
      .cast("double")) / (lit(m) * col("sl") - col("sl2")).cast("double")
    a.crossJoin(broadcast(b))
      .select(col("n_docs"), lit(m).as("m"), round(q, 6).as("q"),
        (q > KruskalChiCrit(m - 1)).as("significant"))
  }

  private lazy val qCochranQSql = {
    val m = FleissRaters
    s"""WITH v AS ($raterVotesSql),
       a AS (SELECT sum(gj) AS sg, sum(gj * gj) AS sg2
             FROM (SELECT r, sum(vote) AS gj FROM v GROUP BY r)),
       b AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               sum(l) AS sl, sum(l * l) AS sl2
             FROM (SELECT doc_id, sum(vote) AS l FROM v GROUP BY doc_id))
       SELECT n_docs, CAST($m AS INT) AS m,
         round(CAST(${m - 1} * ($m * sg2 - sg * sg) AS DOUBLE)
           / CAST($m * sl - sl2 AS DOUBLE), 6) AS q,
         CAST(${m - 1} * ($m * sg2 - sg * sg) AS DOUBLE)
           / CAST($m * sl - sl2 AS DOUBLE) > ${KruskalChiCrit(m - 1)} AS significant
       FROM a, b"""
  }

  /** The robust-location family's shared ordering: lineitem prices
    * range-partitioned and sorted by (returnflag, price), materialized
    * ONCE per (session, dir) — q_trimmed_mean, q_iqr_outliers,
    * q_winsorize and q_mad all ask rank questions of this SAME total
    * order (mad's long-cents domain is the monotone bijection
    * price×100, so its picks read the identical ordering), and each
    * previously paid its own range shuffle + sampling pass + fact
    * re-scan for the closing aggregate (guide §2.4 — share one exchange
    * across consumers). The checkpoint is the fact projection's size:
    * at 100 TB this is the sort-once/read-many layout a production
    * table would keep on disk (guide §6 sort order). */
  private def pricesByFlag(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"robust.pricesByFlag:$dir") {
      val nPart = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      graft.ModelCache.checkpoint(Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").cast("decimal(12,2)").as("price"),
          (col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("long").as("cents"))
        .repartitionByRange(nPart, col("flag").asc, col("price").asc)
        .sortWithinPartitions(col("flag").asc, col("price").asc))
    }

  /** q_trimmed_mean: 10%-trimmed mean per return flag — the third member
    * of the robust-location family (59c winsorizes CLIPS the tails to
    * the cut values; trimming DROPS exactly k = ⌊n/10⌋ observations from
    * each end, the estimator with the textbook breakdown/efficiency
    * trade between mean and median). Rank-exact under ties: the cut
    * VALUES come from the distributed nearest-rank pick (ranks k and
    * n−k+1 — the largest dropped-low and smallest dropped-high), and
    * tied boundary copies are kept by COUNT correction
    * (c_{≤lo} − k copies of lo, c_{≥hi} − k of hi), so exactly n−2k
    * values contribute regardless of tie structure. Everything is an
    * exact DECIMAL/integer aggregate; lo = hi (degenerate spread) →
    * the trimmed mean IS that value; k = 0 (n < 10) → untrimmed mean. */
  def qTrimmedMean(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val base = pricesByFlag(s, dir).select("flag", "price")
    def kOf(n: Long) = n / 10
    val (counts, picks) = graft.functions.Ranks.groupedValueAtRanksSorted(
      pricesByFlag(s, dir), "flag", "price",
      n => { val k = kOf(n); if (k >= 1) Seq(k, n - k + 1) else Seq(1L) })
    val byG = picks.groupBy(_._1).map { case (g, sq) =>
      g -> sq.map(t => t._2 -> t._3).toMap }
    val cutRows = counts.toSeq.map { case (g, n) =>
      val k = kOf(n)
      if (k >= 1) Row(g, n, k, byG(g)(k), byG(g)(n - k + 1))
      else Row(g, n, 0L, null, null)
    }
    val cuts = s.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(cutRows).asJava),
      StructType(Seq(base.schema("flag"),
        StructField("n", LongType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("lo", base.schema("price").dataType),
        StructField("hi", base.schema("price").dataType))))
    val agg = base.join(broadcast(cuts), Seq("flag"))
      .groupBy("flag")
      .agg(first(col("n")).as("n"), first(col("k")).as("k"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        sum(col("price")).as("raw_sum"),
        sum(when(col("price") > col("lo") && col("price") < col("hi"),
          col("price"))).as("mid_sum"),
        sum(when(col("price") <= col("lo"), 1L).otherwise(0L)).as("c_le_lo"),
        sum(when(col("price") >= col("hi"), 1L).otherwise(0L)).as("c_ge_hi"))
    val kept = (col("n") - col("k") * 2).cast("double")
    val trimmed =
      when(col("k") === 0, col("raw_sum").cast("double") / col("n").cast("double"))
        .when(col("lo") === col("hi"), col("lo").cast("double"))
        .otherwise((coalesce(col("mid_sum"), lit(0).cast("decimal(38,2)"))
          .cast("double") +
          (col("c_le_lo") - col("k")).cast("double") * col("lo").cast("double") +
          (col("c_ge_hi") - col("k")).cast("double") * col("hi").cast("double")) /
          kept)
    agg.select(col("flag"), col("n"), col("k"),
      round(col("raw_sum").cast("double") / col("n").cast("double"), 6)
        .as("raw_mean"),
      round(trimmed, 6).as("trimmed_mean"))
  }

  private lazy val qTrimmedMeanSql =
    """WITH base AS (SELECT l_returnflag AS flag,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS price FROM lineitem),
       c AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
               count(*) // 10 AS k
             FROM base GROUP BY flag),
       r AS (SELECT flag, price,
               row_number() OVER (PARTITION BY flag ORDER BY price ASC) AS rn
             FROM base),
       lo AS (SELECT r.flag, r.price AS lo FROM r JOIN c ON c.flag = r.flag
              AND c.k >= 1 AND r.rn = c.k),
       hi AS (SELECT r.flag, r.price AS hi FROM r JOIN c ON c.flag = r.flag
              AND c.k >= 1 AND r.rn = c.n - c.k + 1),
       cuts AS (SELECT c.flag, c.n, c.k, lo.lo, hi.hi FROM c
                LEFT JOIN lo ON lo.flag = c.flag
                LEFT JOIN hi ON hi.flag = c.flag),
       a AS (SELECT base.flag, any_value(n) AS n, any_value(k) AS k,
               any_value(lo) AS lo, any_value(hi) AS hi,
               sum(price) AS raw_sum,
               sum(CASE WHEN price > lo AND price < hi THEN price END) AS mid_sum,
               CAST(count(*) FILTER (WHERE price <= lo) AS BIGINT) AS c_le_lo,
               CAST(count(*) FILTER (WHERE price >= hi) AS BIGINT) AS c_ge_hi
             FROM base JOIN cuts ON cuts.flag = base.flag
             GROUP BY base.flag)
       SELECT flag, n, k,
         round(CAST(raw_sum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_mean,
         round(CASE
           WHEN k = 0 THEN CAST(raw_sum AS DOUBLE) / CAST(n AS DOUBLE)
           WHEN lo = hi THEN CAST(lo AS DOUBLE)
           ELSE (CAST(coalesce(mid_sum, 0) AS DOUBLE)
             + CAST(c_le_lo - k AS DOUBLE) * CAST(lo AS DOUBLE)
             + CAST(c_ge_hi - k AS DOUBLE) * CAST(hi AS DOUBLE))
             / CAST(n - 2 * k AS DOUBLE)
         END, 6) AS trimmed_mean
       FROM a"""

  /** q_trimmed_mean_approx: the GK-sketch swap for q_trimmed_mean —
    * completing the exact/sketch pairing for the THIRD robust-location
    * member (percentiles, ntile, winsorize and MAD already carry
    * theirs): two mergeable approx_percentile thresholds replace the
    * range-shuffle rank picks, the mean runs over the strictly-interior
    * values, and the hash gate carries the SCALE-INVARIANT contract
    * (the q_winsorize_approx pattern): thresholds ordered and inside
    * the population range, each side trims 10%·n within the GK error
    * band 1%·n + 2, and the mean lands between the cuts. The spec
    * additionally bounds the value against the exact twin. */
  def qTrimmedMeanApprox(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").cast("double").as("price"))
    val cuts = base.groupBy("flag")
      .agg(expr("approx_percentile(price, array(0.1, 0.9), 10000)").as("c"))
      .select(col("flag"), col("c")(0).as("lo"), col("c")(1).as("hi"))
    val slack = col("n") * 0.01 + 2
    base.join(broadcast(cuts), Seq("flag"))
      .groupBy("flag")
      .agg(count(lit(1)).as("n"),
        min(col("price")).as("pmin"), max(col("price")).as("pmax"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        sum(when(col("price") <= col("lo"), 1L).otherwise(0L)).as("c_lo"),
        sum(when(col("price") >= col("hi"), 1L).otherwise(0L)).as("c_hi"),
        avg(when(col("price") > col("lo") && col("price") < col("hi"),
          col("price"))).as("tm"))
      .select(col("flag"), col("n"),
        (col("lo") <= col("hi") && col("lo") >= col("pmin") &&
          col("hi") <= col("pmax")).as("bounds_ok"),
        (abs(col("c_lo") - col("n") * 0.1) <= slack).as("trim_lo_ok"),
        (abs(col("c_hi") - col("n") * 0.1) <= slack).as("trim_hi_ok"),
        (col("tm") >= col("lo") && col("tm") <= col("hi")).as("mean_ok"))
  }

  private lazy val qTrimmedMeanApproxSql =
    """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
         TRUE AS bounds_ok, TRUE AS trim_lo_ok, TRUE AS trim_hi_ok,
         TRUE AS mean_ok
       FROM lineitem GROUP BY 1"""

  /** Tukey fence multiplier. */
  val IqrFenceK = 1.5

  /** q_iqr_outliers: Tukey-fence outlier audit per return flag — the
    * box-plot rule run distributed (Q1/Q3 as nearest-rank picks via the
    * same ceil(n·p/100) convention as 59c, fences Q1 − 1.5·IQR and
    * Q3 + 1.5·IQR as EXACT decimal arithmetic — 1.5·DECIMAL(12,2) is
    * scale-3 exact, no fp until the final fraction), counting how much
    * mass sits beyond each fence. The audit a pipeline runs before
    * trusting mean-based metrics; complements 35j's z-score anomaly days
    * (which assume near-normal tails — Tukey fences don't). */
  def qIqrOutliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val base = pricesByFlag(s, dir).select("flag", "price")
    def k25(n: Long) = (n * 25 + 99) / 100
    def k75(n: Long) = (n * 75 + 99) / 100
    val (counts, picks) = graft.functions.Ranks.groupedValueAtRanksSorted(
      pricesByFlag(s, dir), "flag", "price", n => Seq(k25(n), k75(n)))
    val byG = picks.groupBy(_._1).map { case (g, sq) =>
      g -> sq.map(t => t._2 -> t._3).toMap }
    val cutRows = counts.toSeq.map { case (g, n) =>
      Row(g, n, byG(g)(k25(n)), byG(g)(k75(n))) }
    val cuts = s.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(cutRows).asJava),
      StructType(Seq(base.schema("flag"),
        StructField("n", LongType, nullable = false),
        StructField("q1", base.schema("price").dataType),
        StructField("q3", base.schema("price").dataType))))
    // DECIMAL literal, not a double: the fence must stay exact-decimal
    // (scale 3) so boundary comparisons agree with DuckDB's decimal
    // arithmetic — a double 1.5·IQR could flip a strict < at an exactly
    // representable fence
    val fk = lit(new java.math.BigDecimal("1.5"))
    val loF = col("q1") - fk * (col("q3") - col("q1"))
    val hiF = col("q3") + fk * (col("q3") - col("q1"))
    base.join(broadcast(cuts), Seq("flag"))
      .groupBy("flag")
      .agg(first(col("n")).as("n"),
        first(col("q1")).as("q1"), first(col("q3")).as("q3"),
        sum(when(col("price") < loF, 1L).otherwise(0L)).as("n_low"),
        sum(when(col("price") > hiF, 1L).otherwise(0L)).as("n_high"))
      .select(col("flag"), col("n"), col("q1"), col("q3"),
        col("n_low"), col("n_high"),
        round((col("n_low") + col("n_high")).cast("double") /
          col("n").cast("double"), 6).as("outlier_frac"))
  }

  private lazy val qIqrOutliersSql =
    s"""WITH base AS (SELECT l_returnflag AS flag,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS price FROM lineitem),
       c AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
               (count(*)*25+99)//100 AS k25, (count(*)*75+99)//100 AS k75
             FROM base GROUP BY flag),
       r AS (SELECT flag, price,
               row_number() OVER (PARTITION BY flag ORDER BY price ASC) AS rn
             FROM base),
       q1 AS (SELECT r.flag, r.price AS q1 FROM r JOIN c ON c.flag = r.flag AND r.rn = c.k25),
       q3 AS (SELECT r.flag, r.price AS q3 FROM r JOIN c ON c.flag = r.flag AND r.rn = c.k75),
       cuts AS (SELECT c.flag, c.n, q1.q1, q3.q3 FROM c
                JOIN q1 ON q1.flag = c.flag JOIN q3 ON q3.flag = c.flag)
       SELECT base.flag, any_value(n) AS n,
         any_value(q1) AS q1, any_value(q3) AS q3,
         CAST(count(*) FILTER (WHERE price < q1 - $IqrFenceK * (q3 - q1)) AS BIGINT) AS n_low,
         CAST(count(*) FILTER (WHERE price > q3 + $IqrFenceK * (q3 - q1)) AS BIGINT) AS n_high,
         round(CAST(count(*) FILTER (WHERE price < q1 - $IqrFenceK * (q3 - q1))
             + count(*) FILTER (WHERE price > q3 + $IqrFenceK * (q3 - q1)) AS DOUBLE)
           / CAST(any_value(n) AS DOUBLE), 6) AS outlier_frac
       FROM base JOIN cuts ON cuts.flag = base.flag
       GROUP BY base.flag"""

  /** q_cronbach: Cronbach's alpha (≡ KR-20 for the binary panel) — the
    * RELIABILITY member of the agreement family (Fleiss/Krippendorff
    * measure chance-corrected agreement; alpha measures internal
    * consistency: do the m raters function as one scale? — the
    * psychometrics gate before averaging panel votes into a single
    * label). α = m/(m−1)·(1 − Σ_j σ²_j / σ²_L) with σ²_j the per-rater
    * sample variance (binary: Σv² = Σv, so every moment is an exact
    * integer aggregate widened to DECIMAL(38,0) before the n·Σ
    * cross-products) and σ²_L the variance of the per-doc total score.
    * The one order-sensitive m-term double sum folds over the sorted
    * rater array (the anovaOf discipline). σ²_L = 0 → NULL, never a
    * fabricated coefficient. */
  def qCronbach(s: SparkSession, dir: String): DataFrame = {
    val m = FleissRaters
    val v = raterVotes(s, dir)
    val nd = col("n").cast("decimal(38,0)")
    val sj = col("sj").cast("decimal(38,0)")
    val items = v.groupBy("r")
      .agg(count(lit(1)).as("n"), sum(col("vote")).as("sj"))
      .select(col("r"),
        ((nd * sj - sj * sj).cast("double") /
          (col("n").cast("double") * (col("n") - 1).cast("double"))).as("vj"))
      .agg(OrderedFold.sum(col("vj"), col("r")).as("sum_vj"))
    val ndd = col("nd").cast("decimal(38,0)")
    val sl = col("sl").cast("decimal(38,0)")
    val tot = v.groupBy("doc_id").agg(sum(col("vote")).as("l"))
      .agg(count(lit(1)).as("nd"), sum(col("l")).as("sl"),
        sum(col("l") * col("l")).as("sl2"))
      .select(col("nd").as("n_docs"),
        ((ndd * col("sl2").cast("decimal(38,0)") - sl * sl).cast("double") /
          (col("nd").cast("double") * (col("nd") - 1).cast("double")))
          .as("var_total"))
    val alpha = lit(m.toDouble / (m - 1)) *
      (lit(1.0) - col("sum_vj") / col("var_total"))
    items.crossJoin(broadcast(tot))
      .select(col("n_docs"), lit(m).as("m"),
        round(col("sum_vj"), 6).as("sum_item_var"),
        round(col("var_total"), 6).as("var_total"),
        when(col("var_total") =!= 0.0, round(alpha, 6))
          .otherwise(lit(null).cast("double")).as("alpha"))
  }

  private lazy val qCronbachSql = {
    val m = FleissRaters
    s"""WITH v AS ($raterVotesSql),
       items AS (SELECT r, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(vote) AS BIGINT) AS sj
                 FROM v GROUP BY r),
       iv AS (SELECT r,
                CAST(CAST(n AS HUGEINT) * sj - CAST(sj AS HUGEINT) * sj AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS vj
              FROM items),
       sv AS (SELECT list_sum(list(vj ORDER BY r)) AS sum_vj FROM iv),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(l) AS BIGINT) AS sl, CAST(sum(l * l) AS BIGINT) AS sl2
               FROM (SELECT doc_id, sum(vote) AS l FROM v GROUP BY doc_id)),
       tv AS (SELECT n_docs,
                CAST(CAST(n_docs AS HUGEINT) * sl2 - CAST(sl AS HUGEINT) * sl AS DOUBLE)
                  / (CAST(n_docs AS DOUBLE) * CAST(n_docs - 1 AS DOUBLE)) AS var_total
              FROM tot)
       SELECT n_docs, CAST($m AS INT) AS m,
         round(sum_vj, 6) AS sum_item_var,
         round(var_total, 6) AS var_total,
         CASE WHEN var_total <> 0 THEN
           round(${m.toDouble / (m - 1)} * (1.0 - sum_vj / var_total), 6)
         END AS alpha
       FROM sv CROSS JOIN tv"""
  }

  // ---------------------------------------------------------- krippendorff

  /** q_krippendorff: Krippendorff's alpha over the same deterministic
    * m-rater panel as q_fleiss — the third member of the agreement family
    * (Cohen: 2 raters; Fleiss: m raters, chance from rater pools;
    * Krippendorff: m raters, chance from the COINCIDENCE matrix, the form
    * that generalizes to missing votes and other metrics). For complete
    * binary nominal data: observed disagreement D_o = 2·Σ_u g_u(m−g_u) /
    * ((m−1)·n·m), expected D_e = 2·n₀·n₁ / (N·(N−1)) with N = n·m,
    * n₁ = Σ g_u; α = 1 − D_o/D_e. Every sum is an exact integer
    * aggregate; the final combination is a fixed identically-ordered
    * double expression, rounded at 1e-6. One narrow pass + one 1-row
    * aggregate — same scale shape as q_fleiss. */
  def qKrippendorff(s: SparkSession, dir: String): DataFrame = {
    val m = FleissRaters
    raterVotes(s, dir)
      .groupBy("doc_id").agg(sum(col("vote")).as("g"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("g")).as("n_good"),
        sum(col("g") * (lit(m) - col("g"))).as("s_gm"))
      .select(col("n_docs"), col("n_good"),
        ((col("s_gm") * 2).cast("double") /
          ((lit(m - 1)) * col("n_docs") * m)).as("d_o"),
        ((col("n_good") * (col("n_docs") * m - col("n_good")) * 2).cast("double") /
          ((col("n_docs") * m) * (col("n_docs") * m - 1))).as("d_e"))
      .select(col("n_docs"), col("n_good"),
        round(col("d_o"), 6).as("d_o"), round(col("d_e"), 6).as("d_e"),
        round(lit(1.0) - col("d_o") / col("d_e"), 6).as("alpha"))
  }

  private lazy val qKrippendorffSql = {
    val m = FleissRaters
    s"""WITH v AS ($raterVotesSql),
       d AS (SELECT doc_id, sum(vote) AS g FROM v GROUP BY doc_id),
       a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(g) AS BIGINT) AS n_good,
               CAST(sum(g * ($m - g)) AS BIGINT) AS s_gm FROM d),
       b AS (SELECT n_docs, n_good,
               CAST(s_gm * 2 AS DOUBLE) / ((${m - 1}) * n_docs * $m) AS d_o,
               CAST(n_good * (n_docs * $m - n_good) * 2 AS DOUBLE) /
                 ((n_docs * $m) * (n_docs * $m - 1)) AS d_e
             FROM a)
       SELECT n_docs, n_good, round(d_o, 6) AS d_o, round(d_e, 6) AS d_e,
         round(1.0 - d_o / d_e, 6) AS alpha
       FROM b"""
  }

  // ------------------------------------------------------------- dp counts

  /** Laplace scale b = sensitivity/ε; per-source counts have sensitivity 1
    * (one doc moves one count). */
  val DpEpsilon = 1.0

  /** q_dp_counts: differential-privacy-style noisy release of the
    * per-source document counts — the Laplace mechanism with the noise
    * drawn by inverse-CDF from a CONTENT-KEYED uniform (md5 of the source
    * → 52-bit mantissa), the same determinism move as the content-hash
    * samplers: the release is a pure function of the data, so the gate
    * can hash it, and a replayed release is identical (in production the
    * key would be a secret salt; the mechanism is unchanged). True counts
    * are emitted alongside for the gate — a real release drops them. */
  def qDpCounts(s: SparkSession, dir: String): DataFrame = {
    // clamp u away from 0: Spark's log(0) is NULL while DuckDB's ln(0) is
    // -inf, so an exactly-zero 52-bit uniform would diverge the engines
    // silently instead of failing identically; 2^-52 is the smallest
    // nonzero value the mantissa construction can produce
    val u = greatest(conv(substring(md5(col("source")), 1, 13), 16, 10)
      .cast("long").cast("double") / lit(4503599627370496.0), // 2^52
      lit(2.220446049250313e-16))
    Tables.documents(s, dir)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .select(col("source"), col("n"), u.as("u"))
      .select(col("source"), col("n"),
        round(col("n") +
          when(col("u") >= 0.5, -log(lit(2.0) * (lit(1.0) - col("u"))))
            .otherwise(log(lit(2.0) * col("u"))) / lit(DpEpsilon), 6)
          .as("noisy_n"))
  }

  private lazy val qDpCountsSql =
    s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
       g AS (SELECT source, n,
               greatest(CAST(CAST(('0x' || substr(md5(source), 1, 13)) AS BIGINT) AS DOUBLE)
                 / 4503599627370496, 2.220446049250313e-16) AS u
             FROM c)
       SELECT source, n,
         round(n + (CASE WHEN u >= 0.5 THEN -ln(2.0 * (1.0 - u))
                         ELSE ln(2.0 * u) END) / $DpEpsilon, 6) AS noisy_n
       FROM g"""

  // ------------------------------------------------------------- winsorize

  /** q_winsorize: winsorized mean per group — outlier-robust aggregation
    * that clips each value into the [p05, p95] NEAREST-RANK order
    * statistics before averaging. Nearest-rank (not interpolated) on
    * purpose: the thresholds are actual data values, so clipping and
    * summation stay in exact DECIMAL and only the final mean divides.
    * Rank k = ⌈p·n⌉ in pure integer arithmetic ((n·5+99) div 100). The
    * rank pick is DISTRIBUTED and pick-only: l_returnflag has 3 values,
    * so a per-group window sort would funnel ~1/3 of the fact table into
    * one task each — instead Ranks.groupedValueAtRanks runs the
    * selection on one range shuffle over (flag, price) and ships only
    * the 3×2 cut values (plus per-group counts) to the driver; no row of
    * the fact table is ever numbered or copied. The bounded-memory path
    * at 100 TB swaps the exact pick for the GK sketch — implemented as
    * [[qWinsorizeApprox]], the q_ntile → q_ntile_approx pairing. */
  def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // money lands in parquet as double — cast to DECIMAL(12,2) FIRST (the
    // lineitem oracle convention) so clipping and summation are exact and
    // partition-order-independent; a double sum here would drift at the
    // last ulp between engines and across Spark partitionings
    val base = pricesByFlag(s, dir).select("flag", "price")
    def kLo(n: Long) = (n * 5 + 99) / 100
    def kHi(n: Long) = (n * 95 + 99) / 100
    val (counts, picks) = graft.functions.Ranks.groupedValueAtRanksSorted(
      pricesByFlag(s, dir), "flag", "price", n => Seq(kLo(n), kHi(n)))
    val byG = picks.groupBy(_._1).map { case (g, s) =>
      g -> s.map(t => t._2 -> t._3).toMap }
    val cutRows = counts.toSeq.map { case (g, n) =>
      Row(g, n, byG(g)(kLo(n)), byG(g)(kHi(n))) }
    val cuts = s.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(cutRows).asJava),
      StructType(Seq(base.schema("flag"),
        StructField("n", LongType, nullable = false),
        StructField("lo", base.schema("price").dataType),
        StructField("hi", base.schema("price").dataType))))
    base.join(broadcast(cuts), Seq("flag"))
      .groupBy("flag")
      .agg(first(col("n")).as("n"), first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        sum(col("price")).as("raw_sum"),
        sum(least(greatest(col("price"), col("lo")), col("hi"))).as("wins_sum"))
      .select(col("flag"), col("n"), col("lo"), col("hi"),
        round(col("raw_sum").cast("double") / col("n"), 6).as("raw_mean"),
        round(col("wins_sum").cast("double") / col("n"), 6).as("wins_mean"))
  }

  private lazy val qWinsorizeSql =
    """WITH base AS (SELECT l_returnflag AS flag,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS price FROM lineitem),
       c AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
               (count(*)*5+99)//100 AS k_lo, (count(*)*95+99)//100 AS k_hi
             FROM base GROUP BY flag),
       r AS (SELECT flag, price,
               row_number() OVER (PARTITION BY flag ORDER BY price ASC) AS rn
             FROM base),
       lo AS (SELECT r.flag, r.price AS lo FROM r JOIN c ON c.flag = r.flag AND r.rn = c.k_lo),
       hi AS (SELECT r.flag, r.price AS hi FROM r JOIN c ON c.flag = r.flag AND r.rn = c.k_hi),
       cuts AS (SELECT c.flag, c.n, lo.lo, hi.hi FROM c JOIN lo ON lo.flag = c.flag
                JOIN hi ON hi.flag = c.flag)
       SELECT base.flag, any_value(n) AS n, any_value(lo) AS lo, any_value(hi) AS hi,
         round(CAST(sum(price) AS DOUBLE) / any_value(n), 6) AS raw_mean,
         round(CAST(sum(least(greatest(price, lo), hi)) AS DOUBLE) / any_value(n), 6) AS wins_mean
       FROM base JOIN cuts ON cuts.flag = base.flag
       GROUP BY base.flag"""

  /** q_winsorize_approx: the documented 100 TB swap of [[qWinsorize]]
    * made real — GK-sketch [p05, p95] thresholds (approx_percentile,
    * accuracy 10000: one bounded-memory mergeable aggregate per group,
    * broadcast back) instead of the exact distributed rank pick,
    * mirroring the q_ntile → q_ntile_approx pairing. HASH-GATED form
    * (the qNtileApproxGate rule): the per-group row count anchors the
    * data, and the GK rank contract rides as booleans — the clipped-
    * below/above fractions must sit within 5% ± (1% + 2/n) (the sketch's
    * ε = 1/accuracy is far tighter; the slack absorbs tie plateaus at
    * small SF while a broken sketch, which misplaces thresholds by whole
    * percentiles, still fails), thresholds must lie inside the group's
    * [min, max], and the winsorized mean inside [lo, hi]. */
  def qWinsorizeApprox(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").cast("double").as("price"))
    val cuts = base.groupBy("flag")
      .agg(expr("approx_percentile(price, array(0.05, 0.95), 10000)").as("c"))
      .select(col("flag"), col("c")(0).as("lo"), col("c")(1).as("hi"))
    val slack = col("n") * 0.01 + 2
    base.join(broadcast(cuts), Seq("flag"))
      .groupBy("flag")
      .agg(count(lit(1)).as("n"),
        min(col("price")).as("pmin"), max(col("price")).as("pmax"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        sum(when(col("price") < col("lo"), 1L).otherwise(0L)).as("c_lo"),
        sum(when(col("price") > col("hi"), 1L).otherwise(0L)).as("c_hi"),
        avg(least(greatest(col("price"), col("lo")), col("hi"))).as("wm"))
      .select(col("flag"), col("n"),
        (col("lo") <= col("hi") && col("lo") >= col("pmin") &&
          col("hi") <= col("pmax")).as("bounds_ok"),
        (abs(col("c_lo") - col("n") * 0.05) <= slack).as("clip_lo_ok"),
        (abs(col("c_hi") - col("n") * 0.05) <= slack).as("clip_hi_ok"),
        (col("wm") >= col("lo") && col("wm") <= col("hi")).as("mean_ok"))
  }

  private lazy val qWinsorizeApproxSql =
    """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
         TRUE AS bounds_ok, TRUE AS clip_lo_ok, TRUE AS clip_hi_ok,
         TRUE AS mean_ok
       FROM lineitem GROUP BY 1"""

  // ---------------------------------------------------------------- MAD

  /** q_mad: median absolute deviation per group — the robust dispersion
    * companion to q_winsorize's robust location (a production scoring
    * pipeline clips with winsorize and standardizes with MAD). Both order
    * statistics are NEAREST-RANK (k = ⌈n/2⌉ = (n·50+99) div 100) so every
    * intermediate stays exact DECIMAL, and BOTH rank picks run through
    * the distributed PICK path (Ranks.groupedValueAtRanks: one range
    * shuffle per statistic, only the picked values reach the driver) —
    * never a per-group window sort (each l_returnflag group is ~1/3 of
    * the fact table). Two range shuffles are inherent to the nested
    * statistic (MAD needs the median first); the 100 TB bounded-memory
    * swap is the GK sketch at both picks — implemented as
    * [[qMadApprox]], the q_ntile → q_ntile_approx pairing. The final
    * relation is #groups rows.
    *
    * Gate hardening (r10, after the one driver-only hash flake in r9
    * that never reproduced locally): ONE persisted base feeds the scan,
    * both pick passes, and the deviation join (no second parquet scan,
    * no lineage recompute under memory pressure between the two picks);
    * output rows are assembled in SORTED group order (never Map
    * iteration order) and re-sorted in the final plan; and med/mad
    * leave as round(double, 6) — computed by Spark's own `round`, with
    * the oracle doing the identical CAST(… AS DOUBLE) — so no
    * decimal-representation subtlety can reach the driver's typed-value
    * hash. The picked values themselves are exact 2-decimal DECIMALs in
    * both engines, so the double conversion is the same correctly-
    * rounded IEEE value on both sides. */
  def qMad(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}
    def k(n: Long) = (n * 50 + 99) / 100
    // Sort domain = LONG CENTS, not Decimal (r16 task-5 profile): prices
    // are exact 2-decimal values, so ×100 is a lossless bijection and
    // both range shuffles compare/transfer 8-byte longs instead of
    // 16-byte Decimals — the picks land on the identical order
    // statistics, rebuilt as BigDecimal(cents, scale 2) on the way out,
    // so the gated round(double, 6) output path is bit-identical to the
    // Decimal-domain form (solo min 2.9 s → ~2.3 s at sf0.1).
    // base reads the family's shared sorted substrate (see
    // pricesByFlag): cents = price×100 is a monotone bijection, so the
    // (flag, price) order IS the (flag, cents) order and the median
    // pick runs sort-free; the substrate checkpoint replaces the
    // per-query persist.
    val base = pricesByFlag(s, dir).select("flag", "cents")
    locally {
      val (counts, medPicks) = graft.functions.Ranks.groupedValueAtRanksSorted(
        pricesByFlag(s, dir), "flag", "cents", n => Seq(k(n)))
      val meds = medPicks.map { case (g, _, v) =>
        g -> v.asInstanceOf[Long] }.toMap
      val groups = counts.keySet.toSeq.sortBy(_.toString)
      val medRows = groups.map(g => Row(g, meds(g)))
      val medDf = s.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(medRows).asJava),
        StructType(Seq(base.schema("flag"),
          StructField("med_cents", LongType, nullable = false))))
      // NO persist on devs (r16 task-5 profile): groupedValueAtRanks'
      // range shuffle materializes the deviation relation into shuffle
      // files that BOTH its jobs reuse (map stage skipped), so a persist
      // here only added one redundant full materialization job — the
      // same finding as q_hits' dropped intermediate checkpoints. The
      // one persisted base (r10 gate hardening) still feeds every pass.
      val devs = base.join(broadcast(medDf), Seq("flag"))
        .select(col("flag"), abs(col("cents") - col("med_cents")).as("dev"))
      val (_, madPicks) = graft.functions.Ranks.groupedValueAtRanks(
        devs, "flag", "dev", n => Seq(k(n)))
      val mads = madPicks.map { case (g, _, v) =>
        g -> v.asInstanceOf[Long] }.toMap
      def dec2(c: Long) =
        new java.math.BigDecimal(java.math.BigInteger.valueOf(c), 2)
      val outRows = groups.map(g => Row(g, counts(g), dec2(meds(g)), dec2(mads(g))))
      s.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(outRows).asJava),
        StructType(Seq(base.schema("flag"),
          StructField("n", LongType, nullable = false),
          StructField("med0", DecimalType(12, 2)),
          StructField("mad0", DecimalType(12, 2)))))
        .select(col("flag"), col("n"),
          round(col("med0").cast("double"), 6).as("med"),
          round(col("mad0").cast("double"), 6).as("mad"))
        .orderBy("flag")
    }
  }

  private lazy val qMadSql =
    """WITH base AS (SELECT l_returnflag AS flag,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS price FROM lineitem),
       c AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
               (count(*)*50+99)//100 AS k_med FROM base GROUP BY flag),
       r AS (SELECT flag, price,
               row_number() OVER (PARTITION BY flag ORDER BY price ASC) AS rn
             FROM base),
       med AS (SELECT r.flag, r.price AS med FROM r JOIN c ON c.flag = r.flag AND r.rn = c.k_med),
       d AS (SELECT base.flag, abs(base.price - med.med) AS dev
             FROM base JOIN med ON med.flag = base.flag),
       r2 AS (SELECT flag, dev,
               row_number() OVER (PARTITION BY flag ORDER BY dev ASC) AS rn
             FROM d),
       mad AS (SELECT r2.flag, r2.dev AS mad FROM r2 JOIN c ON c.flag = r2.flag AND r2.rn = c.k_med)
       SELECT c.flag, c.n, round(CAST(med.med AS DOUBLE), 6) AS med,
         round(CAST(mad.mad AS DOUBLE), 6) AS mad
       FROM c JOIN med ON med.flag = c.flag JOIN mad ON mad.flag = c.flag"""

  /** q_mad_approx: the GK swap for BOTH of [[qMad]]'s rank picks — the
    * second documented bounded-memory path made real (q_winsorize →
    * q_winsorize_approx was the first; with this the exact/sketch
    * pairing covers the whole rank-statistic family). Two sketch
    * passes are inherent (MAD nests: median first, then the median of
    * deviations); each is one mergeable approx_percentile aggregate
    * broadcast back — no range shuffle, no rank numbering. Hash-gated
    * via the guarantee pattern: per-group counts anchor the data, and
    * the GK rank contract rides as booleans — the approximate median
    * must split the group 50% ± (1% + 2/n) (rows strictly below it vs
    * n), the approximate MAD must split the DEVIATIONS the same way,
    * and both must lie inside their population ranges. A broken sketch
    * misplaces a threshold by whole percentiles and fails the split
    * clause; the spec additionally bounds both values within 1% of the
    * exact twin's. */
  def qMadApprox(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").cast("double").as("price"))
    val med = base.groupBy("flag")
      .agg(expr("approx_percentile(price, 0.5, 10000)").as("med"))
    val devs = base.join(broadcast(med), Seq("flag"))
      .select(col("flag"), col("price"), col("med"),
        abs(col("price") - col("med")).as("dev"))
    val mad = devs.groupBy("flag")
      .agg(expr("approx_percentile(dev, 0.5, 10000)").as("mad"))
    val slack = col("n") * 0.01 + 2
    devs.join(broadcast(mad), Seq("flag"))
      .groupBy("flag")
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("m0"), first(col("mad")).as("d0"),
        min(col("price")).as("pmin"), max(col("price")).as("pmax"),
        max(col("dev")).as("dmax"),
        sum(when(col("price") < col("med"), 1L).otherwise(0L)).as("below_med"),
        sum(when(col("dev") < col("mad"), 1L).otherwise(0L)).as("below_mad"))
      .select(col("flag"), col("n"),
        (col("m0") >= col("pmin") && col("m0") <= col("pmax") &&
          col("d0") >= 0.0 && col("d0") <= col("dmax")).as("bounds_ok"),
        (abs(col("below_med") - col("n") * 0.5) <= slack).as("med_split_ok"),
        (abs(col("below_mad") - col("n") * 0.5) <= slack).as("mad_split_ok"))
  }

  private lazy val qMadApproxSql =
    """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
         TRUE AS bounds_ok, TRUE AS med_split_ok, TRUE AS mad_split_ok
       FROM lineitem GROUP BY 1"""

  // ---------------------------------------------------------- k-anonymity

  /** Minimum admissible quasi-identifier group size. */
  val KAnonK = 5

  /** q_kanon: k-anonymity audit over the (lang, source) quasi-identifier
    * — the release-side check that pairs with q_dp_counts' noisy
    * mechanism: any equivalence class smaller than k re-identifies its
    * members, so a compliant release must suppress or generalize those
    * cells. Emits every class with its size, the at-risk flag, and the
    * class's share of the corpus — one groupBy, exact integers
    * throughout. */
  def qKanon(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tot = docs.agg(count(lit(1)).as("n_total"))
    docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n"),
        (col("n") < KAnonK).as("at_risk"),
        round(col("n").cast("double") / col("n_total"), 6).as("share"))
  }

  private lazy val qKanonSql =
    s"""WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY lang, source),
       t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
       SELECT lang, source, n, n < $KAnonK AS at_risk,
         round(CAST(n AS DOUBLE) / n_total, 6) AS share
       FROM c CROSS JOIN t"""

  // ----------------------------------------------------------- l-diversity

  /** Sensitive-attribute band width (chars) and the diversity floor. */
  val LDivBand = 200
  val LDivL = 3

  /** q_ldiversity: l-diversity audit over the (lang, source)
    * quasi-identifier — the release-side check k-anonymity (q_kanon)
    * misses: a class can be large (k-safe) yet expose its members if
    * they (nearly) all share one sensitive value. Sensitive attribute =
    * the document-length band (n_chars div 200); a class is at risk if
    * it has fewer than l distinct bands OR one band dominates (>half,
    * the recursive-diversity smell), both in exact integers (2·mc > n
    * cross-multiplied). On the driver corpus the flag discriminates at
    * sf0.01 and reads all-safe at sf0.1 — honest true negatives (class
    * sizes grow, dominant shares converge to the uniform ~0.27; the
    * spec proves the flag trips on a skewed fixture), while n/l/mc vary
    * per class so the gate hashes real structure. One groupBy over
    * (class, band) then per-class — same scale shape as q_kanon. */
  def ldiversityOf(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("source"),
        (col("n_chars").cast("long") / LDivBand).cast("long").as("band"))
      .groupBy("lang", "source", "band").agg(count(lit(1)).as("c"))
      .groupBy("lang", "source")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("l"), max(col("c")).as("mc"))
      .select(col("lang"), col("source"), col("n"), col("l"), col("mc"),
        (col("l") < LDivL || col("mc") * 2 > col("n")).as("at_risk"))

  def qLdiversity(s: SparkSession, dir: String): DataFrame =
    ldiversityOf(Tables.documents(s, dir))

  private lazy val qLdiversitySql =
    s"""WITH bc AS (SELECT lang, source, n_chars // $LDivBand AS band,
               CAST(count(*) AS BIGINT) AS c
             FROM documents GROUP BY 1, 2, 3)
       SELECT lang, source, CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS l, CAST(max(c) AS BIGINT) AS mc,
         count(*) < $LDivL OR max(c) * 2 > sum(c) AS at_risk
       FROM bc GROUP BY lang, source"""

  // ------------------------------------------------------------ t-closeness

  /** t-closeness threshold (flag compares exact integers cross-multiplied
    * against the rational 1/5 — change together with the `* 5` /`* 2`
    * literals in both engines). */
  val TCloseT = 0.2

  /** q_tcloseness: t-closeness audit over the (lang, source)
    * quasi-identifier — the third rung of the privacy ladder after
    * q_kanon (class size) and q_ldiversity (distinct sensitive values):
    * a class can be k-large and l-diverse yet still leak if its
    * sensitive-value DISTRIBUTION sits far from the corpus-wide one.
    * Distance = total variation between the class's length-band
    * distribution and the global one, kept EXACT: the grid is every
    * class × every GLOBAL band (absent class bands enter as c=0 — the
    * rows a naive class-only groupBy silently drops), and
    * TVD = Σ_b |c_b·N − g_b·n| / (2·n·N) stays in integers until one
    * final division of exactly-representable operands. Scale: the grid
    * is classes × band domain (both bounded — band count is
    * max-doc-length / $LDivBand), never corpus-sized; global band
    * counts broadcast. */
  def qTcloseness(s: SparkSession, dir: String): DataFrame =
    tclosenessOf(Tables.documents(s, dir))

  /** t-closeness core over a (lang, source, n_chars) relation — see
    * [[qTcloseness]]. */
  def tclosenessOf(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("lang"), col("source"),
        (col("n_chars").cast("long") / LDivBand).cast("long").as("band"))
    // ONE grouped scan of the fact relation; classes, global bands, and
    // the corpus total all roll up from the (class, band) cell table
    // (its exchange dedupes via ReuseExchange — no session-lifetime
    // persist, the r6 ADVICE rule)
    val cb = d.groupBy("lang", "source", "band").agg(count(lit(1)).as("c"))
    val cls = cb.groupBy("lang", "source").agg(sum(col("c")).as("n"))
    val gb = cb.groupBy("band").agg(sum(col("c")).as("g"))
    val tot = cb.agg(sum(col("c")).as("nn"))
    // counts widen to DECIMAL(38,0) before the cross-multiplications:
    // c·N and the n·N flag products overflow int64 once the corpus
    // passes ~10⁹·10⁹ scaled units (non-ANSI Spark would wrap silently
    // while DuckDB errors — exactly the divergence the hash gate can't
    // see); decimal keeps both engines exact to 38 digits
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    cls.crossJoin(broadcast(gb)).crossJoin(broadcast(tot))
      .join(cb, Seq("lang", "source", "band"), "left")
      .select(col("lang"), col("source"), col("n"), col("nn"),
        abs(d38(coalesce(col("c"), lit(0L))) * d38(col("nn")) -
          d38(col("g")) * d38(col("n"))).as("num"))
      .groupBy("lang", "source", "n", "nn")
      .agg(sum(col("num")).cast("decimal(38,0)").as("num"))
      .select(col("lang"), col("source"), col("n"),
        round(col("num").cast("double") /
          (lit(2.0) * col("n") * col("nn")), 6).as("tvd"),
        (col("num") * 5 > d38(col("n")) * d38(col("nn")) * 2).as("at_risk"))
  }

  private lazy val qTclosenessSql =
    s"""WITH d AS (SELECT lang, source, n_chars // $LDivBand AS band FROM documents),
       cb AS (SELECT lang, source, band, CAST(count(*) AS BIGINT) AS c
              FROM d GROUP BY 1, 2, 3),
       cls AS (SELECT lang, source, CAST(sum(c) AS BIGINT) AS n FROM cb GROUP BY 1, 2),
       gb AS (SELECT band, CAST(count(*) AS BIGINT) AS g FROM d GROUP BY 1),
       t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d),
       grid AS (SELECT cls.lang, cls.source, cls.n, t.nn,
                  abs(CAST(COALESCE(cb.c, 0) AS DECIMAL(38,0)) * CAST(t.nn AS DECIMAL(38,0))
                    - CAST(gb.g AS DECIMAL(38,0)) * CAST(cls.n AS DECIMAL(38,0))) AS num
                FROM cls CROSS JOIN gb CROSS JOIN t
                LEFT JOIN cb ON cb.lang = cls.lang AND cb.source = cls.source
                  AND cb.band = gb.band),
       agg AS (SELECT lang, source, n, nn,
                 CAST(sum(num) AS DECIMAL(38,0)) AS num
               FROM grid GROUP BY 1, 2, 3, 4)
       SELECT lang, source, n,
         round(CAST(num AS DOUBLE) / (2.0 * n * nn), 6) AS tvd,
         num * 5 > CAST(n AS DECIMAL(38,0)) * CAST(nn AS DECIMAL(38,0)) * 2 AS at_risk
       FROM agg"""

  // ------------------------------------------------------------ cramers v

  /** q_cramers_v: Cramér's V effect size of the lang↔source association —
    * the single [0,1] number beside q_mutual_info's per-cell table and
    * q_chisq's per-token scores (is the corpus's language mix actually
    * source-dependent, and how strongly). The contingency is densified
    * (zero cells still carry expectation mass); each cell's χ² term uses
    * the cross-multiplied form (o·n − n_l·n_s)²/(n·n_l·n_s) so every
    * input to the fp arithmetic is an exact integer; the cell sum is an
    * ordered fold over the langs×sources-bounded cell list. */
  def qCramersV(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cell = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val byL = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val byS = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val tot = docs.agg(count(lit(1)).as("n"),
      countDistinct(col("lang")).as("r"), countDistinct(col("source")).as("c"))
    val diff = (col("o") * col("n") - col("n_l") * col("n_s")).cast("double")
    val t = diff * diff /
      (col("n").cast("decimal(38,0)") * col("n_l") * col("n_s")).cast("double")
    byL.crossJoin(byS)
      .join(cell, Seq("lang", "source"), "left").na.fill(0L, Seq("o"))
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n"), col("r"), col("c"), t.as("t"))
      .groupBy("n", "r", "c")
      .agg(OrderedFold.sum(col("t"), col("lang"), col("source")).as("chi2"))
      .select(col("n"), col("r"), col("c"), round(col("chi2"), 6).as("chi2"),
        round(sqrt(col("chi2") / (col("n") * least(col("r") - 1, col("c") - 1))
          .cast("double")), 6).as("cramers_v"))
  }

  private lazy val qCramersVSql =
    """WITH cell AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
                     FROM documents GROUP BY 1, 2),
       byl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l FROM documents GROUP BY 1),
       bys AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY 1),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT lang) AS BIGINT) AS r,
                 CAST(count(DISTINCT source) AS BIGINT) AS c
               FROM documents),
       dense AS (
         SELECT byl.lang, bys.source, coalesce(cell.o, 0) AS o, n_l, n_s, n, r, c,
           (CAST(coalesce(cell.o, 0) * n - n_l * n_s AS DOUBLE)
             * CAST(coalesce(cell.o, 0) * n - n_l * n_s AS DOUBLE))
             / CAST(n * n_l * n_s AS DOUBLE) AS t
         FROM byl CROSS JOIN bys
         LEFT JOIN cell ON cell.lang = byl.lang AND cell.source = bys.source
         CROSS JOIN tot),
       agg AS (
         SELECT n, r, c, list_sum(list(t ORDER BY lang, source)) AS chi2
         FROM dense GROUP BY n, r, c)
       SELECT n, r, c, round(chi2, 6) AS chi2,
         round(sqrt(chi2 / CAST(n * least(r - 1, c - 1) AS DOUBLE)), 6) AS cramers_v
       FROM agg"""

  // ----------------------------------------------------------- mutual info

  /** q_mutual_info: the source↔language mutual-information cell table —
    * the dataset-card diagnostic for "does provenance predict language"
    * (vocabulary-level association lives in q_chisq; this is the
    * column-level counterpart). Emitted PER CELL (n_xy and its MI term)
    * instead of one summed scalar: the per-cell terms are each a fixed
    * double expression over exact integers (hashable), while a cross-cell
    * fp sum would be order-sensitive. Downstream sums the ~|X|·|Y| tiny
    * terms however it likes. */
  def qMutualInfo(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cells = docs.groupBy("source", "lang").agg(count(lit(1)).as("n_xy"))
    val nx = docs.groupBy("source").agg(count(lit(1)).as("n_x"))
    val ny = docs.groupBy("lang").agg(count(lit(1)).as("n_y"))
    val tot = docs.agg(count(lit(1)).as("n"))
    cells.join(nx, Seq("source")).join(broadcast(ny), Seq("lang"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_xy"),
        round((col("n_xy").cast("double") / col("n")) *
          log((col("n_xy") * col("n")).cast("double") / (col("n_x") * col("n_y"))), 6)
          .as("mi_term"))
  }

  private lazy val qMutualInfoSql =
    """WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_xy
               FROM documents GROUP BY source, lang),
       nx AS (SELECT source, CAST(count(*) AS BIGINT) AS n_x FROM documents GROUP BY source),
       ny AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_y FROM documents GROUP BY lang),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
       SELECT source, lang, n_xy,
         round((CAST(n_xy AS DOUBLE) / n) *
           ln(CAST(n_xy * n AS DOUBLE) / (n_x * n_y)), 6) AS mi_term
       FROM cells JOIN nx USING (source) JOIN ny USING (lang) CROSS JOIN tot"""

  // --------------------------------------------------------------- ks test

  /** KS significance coefficient for α = 0.05 (two-sided). */
  val KsAlpha005 = 1.358

  /** Two-sample Kolmogorov–Smirnov over every group pair of a (g, x)
    * relation: D = sup|F_a − F_b| with the ECDF difference kept in the
    * CROSS-MULTIPLIED integer domain (|c_a·n_b − c_b·n_a|, exact) until
    * the single final division, evaluated at distinct-x granularity (a
    * partial tie position would overstate the sup). One narrow pass +
    * one window per pair over distinct values — group count is bounded
    * (languages), value count is data-sized. */
  def ksPairs(vals: DataFrame): DataFrame = {
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
    tagged
      .withColumn("c1", sum(col("d1")).over(w))
      .withColumn("c2", sum(col("d2")).over(w))
      .groupBy("ga", "gb", "na", "nb")
      .agg(max(abs(col("c1") * col("nb") - col("c2") * col("na"))).as("d_scaled"))
      .select(ksOutputCols: _*)
  }

  /** Kuiper 5% asymptotic coefficient (the 1.358 of the V statistic). */
  val KuiperAlpha005 = 1.747

  /** q_kuiper: Kuiper's test matrix over document-length distributions
    * per language pair — the ROTATION-INVARIANT member of the ECDF drift
    * family (Kuiper 1960): V = D⁺ + D⁻ weighs both one-sided gaps, so a
    * distribution that shifts mass INTO both tails symmetrically (which
    * KS's single sup under-scores) trips it, and the statistic is
    * invariant under cyclic re-parameterizations. Identical distributed
    * shape to ksPairs — value-domain window, exact integer gaps
    * c1·n_b − c2·n_a with max of both signs, ONE final division — and
    * the asymptotic 5% critical V = 1.747·√(N/(n_a·n_b)). D⁻ includes
    * the pre-first-value gap of 0 (both ECDFs 0 there), so the max is
    * floored at 0 in both engines identically. */
  def qKuiper(s: SparkSession, dir: String): DataFrame =
    kuiperPairs(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))

  /** Kuiper core over a (g, x) relation — see [[qKuiper]]. */
  def kuiperPairs(vals: DataFrame): DataFrame = {
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
    val vExpr = (col("dp") + col("dm")).cast("double") / (col("na") * col("nb"))
    val critExpr = lit(KuiperAlpha005) *
      sqrt((col("na") + col("nb")).cast("double") / (col("na") * col("nb")))
    tagged
      .withColumn("c1", sum(col("d1")).over(w))
      .withColumn("c2", sum(col("d2")).over(w))
      .groupBy("ga", "gb", "na", "nb")
      .agg(greatest(max(col("c1") * col("nb") - col("c2") * col("na")),
          lit(0L)).as("dp"),
        greatest(max(col("c2") * col("na") - col("c1") * col("nb")),
          lit(0L)).as("dm"))
      .select(col("ga").as("g_a"), col("gb").as("g_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        round(vExpr, 6).as("v"), round(critExpr, 6).as("v_crit"),
        (vExpr > critExpr).as("significant"))
  }

  private lazy val qKuiperSql =
    s"""WITH v AS (SELECT lang AS g, n_chars AS x FROM documents),
       n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g),
       pr AS (SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
              FROM n a JOIN n b ON a.g < b.g),
       tg AS (SELECT ga, gb, na, nb, x,
                sum(CASE WHEN v.g = pr.ga THEN 1 ELSE 0 END) AS d1,
                sum(CASE WHEN v.g = pr.gb THEN 1 ELSE 0 END) AS d2
              FROM pr JOIN v ON v.g = pr.ga OR v.g = pr.gb
              GROUP BY 1, 2, 3, 4, 5),
       c AS (SELECT ga, gb, na, nb,
               sum(d1) OVER (PARTITION BY ga, gb ORDER BY x
                 ROWS UNBOUNDED PRECEDING) AS c1,
               sum(d2) OVER (PARTITION BY ga, gb ORDER BY x
                 ROWS UNBOUNDED PRECEDING) AS c2
             FROM tg),
       m AS (SELECT ga, gb, na, nb,
               greatest(CAST(max(c1*nb - c2*na) AS BIGINT), 0) AS dp,
               greatest(CAST(max(c2*na - c1*nb) AS BIGINT), 0) AS dm
             FROM c GROUP BY 1, 2, 3, 4)
       SELECT ga AS g_a, gb AS g_b, na AS n_a, nb AS n_b,
         round(CAST(dp + dm AS DOUBLE) / (na * nb), 6) AS v,
         round($KuiperAlpha005 * sqrt(CAST(na + nb AS DOUBLE) / (na * nb)), 6)
           AS v_crit,
         CAST(dp + dm AS DOUBLE) / (na * nb) >
           $KuiperAlpha005 * sqrt(CAST(na + nb AS DOUBLE) / (na * nb))
           AS significant
       FROM m"""

  /** Cramér–von Mises 5% asymptotic critical value of the T statistic
    * (limiting ω² distribution; Anderson 1962 table). */
  val CvmAlpha005 = 0.461

  /** q_cvm: two-sample Cramér–von Mises test matrix over document-length
    * distributions per language pair — the INTEGRATED member of the ECDF
    * drift family (KS = sup gap, Kuiper = both one-sided sups, CvM =
    * the MEAN SQUARED gap over the whole support), the statistic that
    * catches many-small-differences drift a sup-based test under-scores.
    * T = n·m/N² · Σ_k [F_n(z_k) − G_m(z_k)]² over all N combined
    * observations, computed tie-robustly on the distinct-value grid:
    * each distinct value contributes (d1+d2)·(c1·n_b − c2·n_a)², an
    * EXACT integer (accumulated in DECIMAL(38,0) ↔ HUGEINT — the gap
    * product cubes past int64 at amplified scale), and
    * T = S/(N²·n_a·n_b) is ONE final division, so the whole row
    * hash-gates. Identical distributed shape to ksPairs: value-domain
    * pre-aggregation (distinct lengths, not rows) before the pair
    * window. */
  def qCvm(s: SparkSession, dir: String): DataFrame =
    cvmPairs(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))

  /** CvM core over a (g, x) relation — see [[qCvm]]. */
  def cvmPairs(vals: DataFrame): DataFrame = {
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
    val gap = col("c1").cast("decimal(38,0)") * col("nb") -
      col("c2").cast("decimal(38,0)") * col("na")
    val agg = tagged
      .withColumn("c1", sum(col("d1")).over(w))
      .withColumn("c2", sum(col("d2")).over(w))
      .groupBy("ga", "gb", "na", "nb")
      .agg(sum((col("d1") + col("d2")).cast("decimal(38,0)") * gap * gap)
        .as("s"))
    val nTot = col("na") + col("nb")
    val tExpr = col("s").cast("double") / col("na") / col("nb") /
      nTot / nTot
    agg.select(col("ga").as("g_a"), col("gb").as("g_b"),
      col("na").as("n_a"), col("nb").as("n_b"),
      round(tExpr, 6).as("t"), lit(CvmAlpha005).as("t_crit"),
      (tExpr > CvmAlpha005).as("significant"))
  }

  private lazy val qCvmSql =
    s"""WITH v AS (SELECT lang AS g, n_chars AS x FROM documents),
       n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g),
       pr AS (SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
              FROM n a JOIN n b ON a.g < b.g),
       tg AS (SELECT ga, gb, na, nb, x,
                sum(CASE WHEN v.g = pr.ga THEN 1 ELSE 0 END) AS d1,
                sum(CASE WHEN v.g = pr.gb THEN 1 ELSE 0 END) AS d2
              FROM pr JOIN v ON v.g = pr.ga OR v.g = pr.gb
              GROUP BY 1, 2, 3, 4, 5),
       c AS (SELECT ga, gb, na, nb, d1, d2,
               sum(d1) OVER (PARTITION BY ga, gb ORDER BY x
                 ROWS UNBOUNDED PRECEDING) AS c1,
               sum(d2) OVER (PARTITION BY ga, gb ORDER BY x
                 ROWS UNBOUNDED PRECEDING) AS c2
             FROM tg),
       m AS (SELECT ga, gb, na, nb,
               sum(CAST(d1 + d2 AS HUGEINT)
                 * (CAST(c1 AS HUGEINT) * nb - CAST(c2 AS HUGEINT) * na)
                 * (CAST(c1 AS HUGEINT) * nb - CAST(c2 AS HUGEINT) * na))
                 AS s
             FROM c GROUP BY 1, 2, 3, 4)
       SELECT ga AS g_a, gb AS g_b, na AS n_a, nb AS n_b,
         round(CAST(s AS DOUBLE) / na / nb / (na + nb) / (na + nb), 6) AS t,
         $CvmAlpha005 AS t_crit,
         CAST(s AS DOUBLE) / na / nb / (na + nb) / (na + nb) > $CvmAlpha005
           AS significant
       FROM m"""

  /** q_ansari: Ansari–Bradley two-sample SCALE test matrix per language
    * pair — the dispersion member of the rank-test family (Mann–Whitney
    * shifts, Ansari–Bradley spreads): scores count in from BOTH ends of
    * the pooled ordering (s(r) = min(r, N+1−r)), so a sample whose
    * lengths concentrate in the middle scores high and one spread to the
    * extremes scores low, location differences cancelling. Ties take
    * MIDRANKS; everything is carried ×2 so each score is an exact
    * INTEGER (mr2 = 2·midrank = 2·cum_before + d + 1, S2 = 2·score =
    * min(mr2, 2(N+1)−mr2)) — the statistic AB = Σ_A score, its tie-
    * aware null moments E = n_a·ΣS/N and Var = n_a·n_b·(N·ΣS² − (ΣS)²)
    * / (N²(N−1)) all derive from three exact integer sums, and
    * z = (AB−E)/√Var is assembled from them identically in both
    * engines. Same distinct-value pair-window shape as ksPairs. A
    * degenerate pooled sample (all values tied ⇒ Var = 0) yields NULL z
    * via nullif in both engines. */
  def qAnsari(s: SparkSession, dir: String): DataFrame =
    ansariPairs(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))

  /** Ansari–Bradley core over a (g, x) relation — see [[qAnsari]]. */
  def ansariPairs(vals: DataFrame): DataFrame = {
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
    val nTot = col("na") + col("nb")
    val d = col("d1") + col("d2")
    val mr2 = lit(2L) * (sum(d).over(w) - d) + d + 1L
    val s2 = least(mr2, lit(2L) * (nTot + 1L) - mr2)
    val agg = tagged
      .withColumn("s2", s2)
      .groupBy("ga", "gb", "na", "nb")
      .agg(sum(col("d1") * col("s2")).as("ab2"),
        sum((col("d1") + col("d2")) * col("s2")).as("t2"),
        sum((col("d1") + col("d2")).cast("decimal(38,0)") *
          col("s2") * col("s2")).as("q4"))
    val varNum = col("na").cast("decimal(38,0)") * col("nb") *
      (nTot.cast("decimal(38,0)") * col("q4") -
        col("t2").cast("decimal(38,0)") * col("t2"))
    val zExpr = (col("ab2").cast("double") -
      col("na").cast("double") * col("t2") / nTot) /
      sqrt(nullif(varNum.cast("double"), lit(0.0)) /
        nTot.cast("double") / nTot / (nTot - 1))
    agg.select(col("ga").as("g_a"), col("gb").as("g_b"),
      col("na").as("n_a"), col("nb").as("n_b"),
      (col("ab2").cast("double") / 2).as("ab"),
      round(zExpr, 6).as("z"),
      (abs(zExpr) > 1.959964).as("significant"))
  }

  private lazy val qAnsariSql =
    """WITH v AS (SELECT lang AS g, n_chars AS x FROM documents),
       n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g),
       pr AS (SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
              FROM n a JOIN n b ON a.g < b.g),
       tg AS (SELECT ga, gb, na, nb, x,
                sum(CASE WHEN v.g = pr.ga THEN 1 ELSE 0 END) AS d1,
                sum(CASE WHEN v.g = pr.gb THEN 1 ELSE 0 END) AS d2
              FROM pr JOIN v ON v.g = pr.ga OR v.g = pr.gb
              GROUP BY 1, 2, 3, 4, 5),
       c AS (SELECT ga, gb, na, nb, d1, d2,
               2 * (sum(d1 + d2) OVER (PARTITION BY ga, gb ORDER BY x
                 ROWS UNBOUNDED PRECEDING) - (d1 + d2)) + (d1 + d2) + 1
                 AS mr2
             FROM tg),
       sc AS (SELECT ga, gb, na, nb, d1, d2,
                least(mr2, 2 * (na + nb + 1) - mr2) AS s2
              FROM c),
       m AS (SELECT ga, gb, na, nb,
               CAST(sum(d1 * s2) AS BIGINT) AS ab2,
               CAST(sum((d1 + d2) * s2) AS BIGINT) AS t2,
               sum(CAST(d1 + d2 AS HUGEINT) * s2 * s2) AS q4
             FROM sc GROUP BY 1, 2, 3, 4)
       SELECT ga AS g_a, gb AS g_b, na AS n_a, nb AS n_b,
         CAST(ab2 AS DOUBLE) / 2 AS ab,
         round((CAST(ab2 AS DOUBLE) - CAST(na AS DOUBLE) * t2 / (na + nb))
           / sqrt(nullif(CAST(CAST(na AS HUGEINT) * nb
               * ((na + nb) * q4 - CAST(t2 AS HUGEINT) * t2) AS DOUBLE), 0.0)
             / CAST(na + nb AS DOUBLE) / (na + nb) / (na + nb - 1)), 6) AS z,
         abs((CAST(ab2 AS DOUBLE) - CAST(na AS DOUBLE) * t2 / (na + nb))
           / sqrt(nullif(CAST(CAST(na AS HUGEINT) * nb
               * ((na + nb) * q4 - CAST(t2 AS HUGEINT) * t2) AS DOUBLE), 0.0)
             / CAST(na + nb AS DOUBLE) / (na + nb) / (na + nb - 1)))
           > 1.959964 AS significant
       FROM m"""

  private def ksOutputCols: Seq[org.apache.spark.sql.Column] = {
    val dExpr = col("d_scaled").cast("double") / (col("na") * col("nb"))
    val critExpr = lit(KsAlpha005) *
      sqrt((col("na") + col("nb")).cast("double") / (col("na") * col("nb")))
    Seq(col("ga").as("g_a"), col("gb").as("g_b"),
      col("na").as("n_a"), col("nb").as("n_b"),
      round(dExpr, 6).as("d"), round(critExpr, 6).as("d_crit"),
      (dExpr > critExpr).as("significant"))
  }

  /** Wasserstein-1 (earth-mover) distance over every group pair of a
    * (g, x) relation with INTEGRAL x — the magnitude-aware member of the
    * drift family (PSI is binned, KS is the sup, W1 integrates the whole
    * ECDF gap): W1 = Σ_i |F_a(x_i) − F_b(x_i)|·(x_{i+1} − x_i) over
    * distinct combined values. Kept EXACT until the single final
    * division: |c_a·n_b − c_b·n_a| is integer, the value gap is integer,
    * their products sum in DECIMAL(38,0), and W1 divides once by
    * n_a·n_b. Same distinct-value-granularity shape as ksPairs — the
    * window is bounded by the value domain, never the fact table. */
  def w1Pairs(vals: DataFrame): DataFrame = {
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
    val wCum = Window.partitionBy("ga", "gb").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy("ga", "gb").orderBy("x")
    tagged
      .withColumn("c1", sum(col("d1")).over(wCum))
      .withColumn("c2", sum(col("d2")).over(wCum))
      .withColumn("gap", lead(col("x"), 1).over(wLead) - col("x"))
      // the max combined value contributes nothing (both ECDFs are 1
      // there), so dropping the null-gap last row is exact
      .filter(col("gap").isNotNull)
      .groupBy("ga", "gb", "na", "nb")
      .agg(sum(abs(col("c1") * col("nb") - col("c2") * col("na"))
        .cast("decimal(19,0)") * col("gap").cast("decimal(19,0)")).as("num"))
      .select(col("ga").as("g_a"), col("gb").as("g_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        round(col("num").cast("double") / (col("na") * col("nb")), 6).as("w1"))
  }

  /** q_wasserstein: the W1 drift matrix over document-length
    * distributions per language pair — rounds out q_psi (binned) and
    * q_ks_test (sup-norm) with the transport distance production drift
    * monitors alert on. */
  /** q_bhattacharyya: Bhattacharyya / Hellinger drift matrix over every
    * event-type PAIR on the shared 10-bucket value grid (the q_psi
    * substrate, densified + add-1 smoothed) — the BINNED-DENSITY member
    * of the drift family: q_ks_test/q_wasserstein integrate ECDF gaps
    * over raw doc lengths, q_psi scores a single A/B split per type;
    * the Bhattacharyya coefficient BC = Σ_b √(p_a·p_b) compares every
    * pair of types symmetrically, with d_B = −ln BC unbounded for
    * disjoint supports and Hellinger = √(1−BC) a proper bounded metric.
    * The 10 bucket terms fold over a bucket-SORTED array in both engines
    * (√ is IEEE-exact, products of exactly-equal doubles — the q_psi r15
    * discipline); 1−BC is clamped at 0 before the square root (BC can
    * exceed 1 by one ulp on identical distributions in either engine).
    * One scan → k×10 grid → k² bounded pair join; nothing fact-sized
    * past the first aggregate. */
  def qBhattacharyya(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"),
      least(floor(col("value") / 50.0).cast("int"), lit(9)).as("bucket"))
    val counts = e.groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
    val grid = e.select("event_type").distinct()
      .crossJoin(s.range(0, 10).select(col("id").cast("int").as("bucket")))
    val dense = grid.join(counts, Seq("event_type", "bucket"), "left_outer")
      .select(col("event_type"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"))
    val tot = dense.groupBy("event_type").agg(sum("n").as("t"))
    val p = dense.join(tot, Seq("event_type"))
      .select(col("event_type"), col("bucket"),
        ((col("n") + 1).cast("double") / (col("t") + 10)).as("p"))
    val pa = p.select(col("event_type").as("type_a"), col("bucket"),
      col("p").as("p_a"))
    val pb = p.select(col("event_type").as("type_b"), col("bucket"),
      col("p").as("p_b"))
    val bc = pa.join(pb, Seq("bucket")).filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(OrderedFold.sum(sqrt(col("p_a") * col("p_b")), col("bucket")).as("bc"))
    // BC can exceed 1 by an ulp on (near-)identical distributions; clamp
    // it for BOTH derived outputs, so the distance is 0, never -0.0 or a
    // tiny negative, in exactly the case the scaladoc calls out (the
    // hellinger column always had the matching guard; r16 ADVICE).
    bc.select(col("type_a"), col("type_b"),
      round(-log(least(col("bc"), lit(1.0))), 6).as("bhattacharyya"),
      round(sqrt(greatest(lit(1.0) - col("bc"), lit(0.0))), 6).as("hellinger"))
  }

  private lazy val qBhattacharyyaSql =
    """WITH e AS (SELECT event_type,
           least(CAST(floor(value / 50.0) AS INT), 9) AS bucket
         FROM events),
       counts AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
                  FROM e GROUP BY 1, 2),
       grid AS (SELECT t.event_type, b.bucket
                FROM (SELECT DISTINCT event_type FROM e) t
                CROSS JOIN (SELECT unnest(range(0, 10)) AS bucket) b),
       dense AS (SELECT g.event_type, g.bucket, coalesce(c.n, 0) AS n
                 FROM grid g LEFT JOIN counts c
                   ON g.event_type = c.event_type AND g.bucket = c.bucket),
       tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t
               FROM dense GROUP BY 1),
       p AS (SELECT d.event_type, d.bucket,
               CAST(d.n + 1 AS DOUBLE) / (tot.t + 10) AS p
             FROM dense d JOIN tot ON tot.event_type = d.event_type),
       bc AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                list_sum(list(sqrt(a.p * b.p) ORDER BY a.bucket)) AS bc
              FROM p a JOIN p b
                ON a.bucket = b.bucket AND a.event_type < b.event_type
              GROUP BY 1, 2)
       SELECT type_a, type_b, round(-ln(least(bc, 1.0)), 6) AS bhattacharyya,
         round(sqrt(greatest(1 - bc, 0)), 6) AS hellinger
       FROM bc"""

  def qWasserstein(s: SparkSession, dir: String): DataFrame =
    w1Pairs(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))

  private lazy val qWassersteinSql =
    """WITH v AS (SELECT lang AS g, n_chars AS x FROM documents),
       n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g),
       pr AS (SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
              FROM n a JOIN n b ON a.g < b.g),
       tg AS (SELECT ga, gb, na, nb, x,
                sum(CASE WHEN v.g = pr.ga THEN 1 ELSE 0 END) AS d1,
                sum(CASE WHEN v.g = pr.gb THEN 1 ELSE 0 END) AS d2
              FROM pr JOIN v ON v.g = pr.ga OR v.g = pr.gb
              GROUP BY 1, 2, 3, 4, 5),
       c AS (SELECT ga, gb, na, nb, x,
               sum(d1) OVER (PARTITION BY ga, gb ORDER BY x
                 ROWS UNBOUNDED PRECEDING) AS c1,
               sum(d2) OVER (PARTITION BY ga, gb ORDER BY x
                 ROWS UNBOUNDED PRECEDING) AS c2,
               lead(x) OVER (PARTITION BY ga, gb ORDER BY x) - x AS gap
             FROM tg),
       m AS (SELECT ga, gb, na, nb,
               sum(CAST(abs(c1*nb - c2*na) AS DECIMAL(19,0))
                 * CAST(gap AS DECIMAL(19,0))) AS num
             FROM c WHERE gap IS NOT NULL GROUP BY 1, 2, 3, 4)
       SELECT ga AS g_a, gb AS g_b, na AS n_a, nb AS n_b,
         round(CAST(num AS DOUBLE) / (na * nb), 6) AS w1
       FROM m"""

  /** q_energy_dist: exact two-sample ENERGY distance over document-length
    * distributions per language pair — the squared-gap Lebesgue integral
    * completing the ECDF-drift quartet (q_ks_test takes the sup of
    * |F_a−F_b|, q_wasserstein integrates |F_a−F_b|·dx, q_cvm integrates
    * the squared gap against the POOLED empirical measure dH; energy
    * distance is Székely's D² = 2∫(F_a−F_b)²·dx against LEBESGUE measure,
    * identical to 2·E|X−Y| − E|X−X'| − E|Y−Y'| in one dimension, the
    * statistic behind the energy two-sample test and MMD with the
    * |x−y| kernel). Rides the exact w1Pairs substrate: per pair, distinct
    * combined values carry both group ECDF counts, (c_a·n_b − c_b·n_a)²
    * is integer, × integer value gap, summed in DECIMAL(38,0); the only
    * floating point is the single final 2·num/(n_a·n_b)² division chain
    * and the sqrt, mirrored operation-for-operation in the oracle. Same
    * scale posture as q_wasserstein: the window is bounded by the value
    * DOMAIN per pair (≤ max n_chars rows), never the fact table, and the
    * pair space by the language dimension. */
  def qEnergyDist(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x"))
    val counts = vals.groupBy("g").agg(count(lit(1)).as("n"))
    val pairs = counts.select(col("g").as("ga"), col("n").as("na"))
      .crossJoin(counts.select(col("g").as("gb"), col("n").as("nb")))
      .filter(col("ga") < col("gb"))
    val tagged = broadcast(pairs).join(vals,
        col("g") === col("ga") || col("g") === col("gb"))
      .groupBy("ga", "gb", "na", "nb", "x")
      .agg(sum(when(col("g") === col("ga"), 1L).otherwise(0L)).as("d1"),
        sum(when(col("g") === col("gb"), 1L).otherwise(0L)).as("d2"))
    val wCum = Window.partitionBy("ga", "gb").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy("ga", "gb").orderBy("x")
    // widths: |c_a·n_b − c_b·n_a| ≤ n_a·n_b (16 digits covers any ladder
    // scale), the value gap is domain-bounded (6 digits); 16+16+6 = 38
    // keeps the triple product inside DECIMAL(38,0) in BOTH engines
    // (DuckDB errors, rather than widens, past 38).
    val gapExpr = (col("c1") * col("nb") - col("c2") * col("na"))
      .cast("decimal(16,0)")
    tagged
      .withColumn("c1", sum(col("d1")).over(wCum))
      .withColumn("c2", sum(col("d2")).over(wCum))
      .withColumn("gap", lead(col("x"), 1).over(wLead) - col("x"))
      // at the max combined value both ECDFs are 1, the gap term is 0
      .filter(col("gap").isNotNull)
      .groupBy("ga", "gb", "na", "nb")
      .agg(sum(gapExpr * gapExpr * col("gap").cast("decimal(6,0)"))
        .as("num"))
      .select(col("ga").as("g_a"), col("gb").as("g_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        round(sqrt(lit(2.0) * col("num").cast("double")
          / col("na") / col("nb") / col("na") / col("nb")), 6).as("e_dist"))
  }

  private lazy val qEnergyDistSql =
    """WITH v AS (SELECT lang AS g, n_chars AS x FROM documents),
       n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g),
       pr AS (SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
              FROM n a JOIN n b ON a.g < b.g),
       tg AS (SELECT ga, gb, na, nb, x,
                sum(CASE WHEN v.g = pr.ga THEN 1 ELSE 0 END) AS d1,
                sum(CASE WHEN v.g = pr.gb THEN 1 ELSE 0 END) AS d2
              FROM pr JOIN v ON v.g = pr.ga OR v.g = pr.gb
              GROUP BY 1, 2, 3, 4, 5),
       c AS (SELECT ga, gb, na, nb, x,
               sum(d1) OVER (PARTITION BY ga, gb ORDER BY x
                 ROWS UNBOUNDED PRECEDING) AS c1,
               sum(d2) OVER (PARTITION BY ga, gb ORDER BY x
                 ROWS UNBOUNDED PRECEDING) AS c2,
               lead(x) OVER (PARTITION BY ga, gb ORDER BY x) - x AS gap
             FROM tg),
       m AS (SELECT ga, gb, na, nb,
               sum(CAST(c1*nb - c2*na AS DECIMAL(16,0))
                 * CAST(c1*nb - c2*na AS DECIMAL(16,0))
                 * CAST(gap AS DECIMAL(6,0))) AS num
             FROM c WHERE gap IS NOT NULL GROUP BY 1, 2, 3, 4)
       SELECT ga AS g_a, gb AS g_b, na AS n_a, nb AS n_b,
         round(sqrt(2.0 * CAST(num AS DOUBLE) / na / nb / na / nb), 6)
           AS e_dist
       FROM m"""

  /** Sinkhorn entropic regularization and iteration budget. ε is kept
    * moderate so the plan is visibly smoothed but the transport cost sits
    * close above the exact W1 the audit lower-bounds it with. */
  val SinkhornEps = 0.5
  val SinkhornIters = 200

  /** The add-1-smoothed 10-bucket value histogram per md5 arm — the
    * distributed half of q_sinkhorn (one scan → 20 dimension rows). */
  private def sinkhornHists(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
        .cast("int") < 8).as("treat"),
      least(floor(col("value") / 50.0).cast("int"), lit(9)).as("bucket"))
    val grid = s.range(0, 10).select(col("id").cast("int").as("bucket"))
      .crossJoin(s.range(0, 2).select((col("id") === 1).as("treat")))
    grid.join(e.groupBy("treat", "bucket").agg(count(lit(1)).as("n")),
        Seq("treat", "bucket"), "left_outer")
      .select(col("treat"), col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Driver-side Sinkhorn–Knopp on the collected 10×10 problem (the
    * coxNewton convention: the SCAN is distributed, the solver runs on a
    * dimension-sized table). Returns (plan, a, b, cost). */
  private def sinkhornSolve(hist: Array[(Boolean, Int, Long)])
      : (Array[Array[Double]], Array[Double], Array[Double], Double) = {
    val k = 10
    def dist(treat: Boolean): Array[Double] = {
      val cnt = Array.fill(k)(0L)
      hist.filter(_._1 == treat).foreach { case (_, b, n) => cnt(b) = n }
      val tot = cnt.sum + k
      cnt.map(c => (c + 1).toDouble / tot)
    }
    val a = dist(true); val b = dist(false)
    val ker = Array.tabulate(k, k)((i, j) =>
      math.exp(-math.abs(i - j) / SinkhornEps))
    var u = Array.fill(k)(1.0); var v = Array.fill(k)(1.0)
    (1 to SinkhornIters).foreach { _ =>
      v = Array.tabulate(k)(j => b(j) /
        (0 until k).map(i => ker(i)(j) * u(i)).sum)
      u = Array.tabulate(k)(i => a(i) /
        (0 until k).map(j => ker(i)(j) * v(j)).sum)
    }
    val plan = Array.tabulate(k, k)((i, j) => u(i) * ker(i)(j) * v(j))
    val cost = (for (i <- 0 until k; j <- 0 until k)
      yield plan(i)(j) * math.abs(i - j)).sum
    (plan, a, b, cost)
  }

  /** q_sinkhorn: entropic optimal transport between the two md5 arms'
    * value histograms (Cuturi 2013) — the drift family's TRANSPORT-PLAN
    * member: q_wasserstein/q_energy_dist report a scalar distance; the
    * Sinkhorn plan says WHERE the mass moved (which value buckets of arm
    * A map to which of arm B), the readout a distribution-shift
    * postmortem actually wants. Kernel exp(−|i−j|/ε) is libm-seamed, so
    * the plan is rows-only; its contract is hash-gated by
    * q_sinkhorn_audit. Scale shape: the fact scan collapses to 20
    * dimension rows; Sinkhorn–Knopp runs driver-side on the 10×10
    * problem (the coxNewton convention). */
  def qSinkhorn(s: SparkSession, dir: String): DataFrame = {
    val hist = sinkhornHists(s, dir).collect()
      .map(r => (r.getAs[Boolean]("treat"), r.getAs[Int]("bucket"),
        r.getAs[Long]("n")))
    val (plan, _, _, _) = sinkhornSolve(hist)
    import s.implicits._
    (for (i <- 0 until 10; j <- 0 until 10)
      yield (i, j, math.abs(i - j),
        BigDecimal(plan(i)(j)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      .toDF("bucket_a", "bucket_b", "move_dist", "mass")
  }

  /** q_sinkhorn_audit: feasibility + optimality-sandwich certificate for
    * the rows-only Sinkhorn plan (the q_cox_audit shape): the oracle
    * recomputes the exact integer histogram substrate (events per arm)
    * through the identical md5/bucket construction, and the gated
    * booleans assert (1) the plan's row/col marginals match the smoothed
    * histograms to 1e-9 — the Sinkhorn fixed-point contract, (2) total
    * mass 1, (3) the transport cost is sandwiched: ≥ the EXACT W1
    * between the same two distributions (entropic smoothing can only add
    * cost; W1 on an ordered unit grid = Σ|cumA−cumB|, recomputed
    * independently) and ≤ the grid diameter. */
  def qSinkhornAudit(s: SparkSession, dir: String): DataFrame = {
    val hist = sinkhornHists(s, dir).collect()
      .map(r => (r.getAs[Boolean]("treat"), r.getAs[Int]("bucket"),
        r.getAs[Long]("n")))
    val (plan, a, b, cost) = sinkhornSolve(hist)
    val rowsOk = (0 until 10).forall(i =>
      math.abs(plan(i).sum - a(i)) < 1e-9)
    val colsOk = (0 until 10).forall(j =>
      math.abs((0 until 10).map(i => plan(i)(j)).sum - b(j)) < 1e-9)
    val massOk = math.abs(plan.map(_.sum).sum - 1.0) < 1e-9
    val w1 = (0 until 9).map { i =>
      math.abs(a.take(i + 1).sum - b.take(i + 1).sum) }.sum
    val sandwichOk = cost >= w1 - 1e-9 && cost <= 9.0
    val nA = hist.filter(_._1).map(_._3).sum
    val nB = hist.filterNot(_._1).map(_._3).sum
    import s.implicits._
    Seq((nA, nB, rowsOk, colsOk, massOk, sandwichOk))
      .toDF("n_treat", "n_control", "row_marginals_ok", "col_marginals_ok",
        "mass_ok", "cost_sandwich_ok")
  }

  private lazy val qSinkhornAuditSql =
    """SELECT
         CAST(sum(CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT) < 8
           THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
         CAST(sum(CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) AS INT) < 8
           THEN 0 ELSE 1 END) AS BIGINT) AS n_control,
         TRUE AS row_marginals_ok, TRUE AS col_marginals_ok,
         TRUE AS mass_ok, TRUE AS cost_sandwich_ok
       FROM events"""

  /** q_l_moments: the first four L-moments + L-ratios of per-user spend
    * per event type (Hosking 1990) — the ROBUST distribution-shape panel
    * beside the point statistics (q_mad/q_trimmed_mean robustify
    * location/scale; L-skewness and L-kurtosis are the robust SHAPE
    * summaries, defined for any distribution with a mean, bounded in
    * [−1,1], and the standard basis for regional frequency analysis and
    * heavy-tail typing): λ₁=b₀, λ₂=2b₁−b₀, λ₃=6b₂−6b₁+b₀,
    * λ₄=20b₃−30b₂+12b₁−b₀ over the probability-weighted moments
    * b_r = (1/n)Σ [(i−1)…(i−r)]/[(n−1)…(n−r)]·x₍ᵢ₎. EXACT the whole way:
    * ranks come from the q_gini range-shuffle machinery (never a
    * one-task window), the rank-coefficient products are BIGINT, each
    * numerator Σ coef·x is DECIMAL, and the b_r are single mirrored
    * double divisions with the denominator built as a double PRODUCT
    * CHAIN (n·(n−1)·… overflows BIGINT at 10⁶ users — the same reason
    * q_gini's doc says its auxiliary products go decimal). */
  def qLMoments(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Ranks
    val base = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("value").cast("decimal(18,6)")).cast("decimal(18,6)")
        .as("x"))
    val ranked = Ranks.globalRowNumber(base,
      col("event_type").asc, col("x").asc, col("user_id").asc)
    val offsets = ranked.groupBy("event_type").agg(min(col("rn")).as("rn0"))
    val idx = ranked.join(broadcast(offsets), Seq("event_type"))
      .select(col("event_type"), col("x"),
        (col("rn") - col("rn0") + 1L).as("i"))
    def coef(r: Int): org.apache.spark.sql.Column =
      (1 to r).map(k => col("i") - k).reduceOption(_ * _)
        .getOrElse(lit(1L)).cast("decimal(19,0)")
    val agg = idx.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(coef(0) * col("x")).as("s0"), sum(coef(1) * col("x")).as("s1"),
      sum(coef(2) * col("x")).as("s2"), sum(coef(3) * col("x")).as("s3"))
    val nD = col("n").cast("double")
    val b0 = col("s0").cast("double") / nD
    val b1 = when(col("n") > 1,
      col("s1").cast("double") / (nD * (col("n") - 1)))
    val b2 = when(col("n") > 2,
      col("s2").cast("double") / (nD * (col("n") - 1) * (col("n") - 2)))
    // n ≤ 3 would zero the b3 denominator with engine-divergent 0-div
    // semantics; four points are the minimum for a fourth L-moment
    val b3 = when(col("n") > 3, col("s3").cast("double") /
      (nD * (col("n") - 1) * (col("n") - 2) * (col("n") - 3)))
    val l1 = b0
    val l2 = lit(2.0) * b1 - b0
    val l3 = lit(6.0) * b2 - lit(6.0) * b1 + b0
    val l4 = lit(20.0) * b3 - lit(30.0) * b2 + lit(12.0) * b1 - b0
    agg.select(col("event_type"), col("n"),
      round(l1, 6).as("l1"), round(l2, 6).as("l2"),
      round(l3, 6).as("l3"), round(l4, 6).as("l4"),
      round(l2 / l1, 6).as("l_cv"),
      round(l3 / l2, 6).as("l_skew"), round(l4 / l2, 6).as("l_kurt"))
  }

  private lazy val qLMomentsSql =
    """WITH ux AS (SELECT event_type, user_id,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS x
         FROM events GROUP BY 1, 2),
       idx AS (SELECT event_type, x,
           row_number() OVER (PARTITION BY event_type
             ORDER BY x ASC, user_id ASC) AS i
         FROM ux),
       agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(1 AS DECIMAL(19,0)) * x) AS s0,
           sum(CAST(i - 1 AS DECIMAL(19,0)) * x) AS s1,
           sum(CAST((i - 1) * (i - 2) AS DECIMAL(19,0)) * x) AS s2,
           sum(CAST((i - 1) * (i - 2) * (i - 3) AS DECIMAL(19,0)) * x) AS s3
         FROM idx GROUP BY 1),
       b AS (SELECT event_type, n,
           CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE) AS b0,
           CASE WHEN n > 1 THEN
             CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) END AS b1,
           CASE WHEN n > 2 THEN CAST(s2 AS DOUBLE)
             / (CAST(n AS DOUBLE) * (n - 1) * (n - 2)) END AS b2,
           CASE WHEN n > 3 THEN CAST(s3 AS DOUBLE)
             / (CAST(n AS DOUBLE) * (n - 1) * (n - 2) * (n - 3)) END AS b3
         FROM agg)
       SELECT event_type, n,
         round(b0, 6) AS l1,
         round(2.0 * b1 - b0, 6) AS l2,
         round(6.0 * b2 - 6.0 * b1 + b0, 6) AS l3,
         round(20.0 * b3 - 30.0 * b2 + 12.0 * b1 - b0, 6) AS l4,
         round((2.0 * b1 - b0) / b0, 6) AS l_cv,
         round((6.0 * b2 - 6.0 * b1 + b0) / (2.0 * b1 - b0), 6) AS l_skew,
         round((20.0 * b3 - 30.0 * b2 + 12.0 * b1 - b0)
           / (2.0 * b1 - b0), 6) AS l_kurt
       FROM b"""

  /** Top shared-vocabulary terms the JS divergence is evaluated over. */
  val JsTopTerms = 50

  /** q_js_terms: Jensen–Shannon divergence terms between language
    * UNIGRAM distributions over the top-N global vocabulary — the drift
    * family applied to CONTENT (q_psi/q_ks_test/q_wasserstein watch the
    * length distribution; this watches what is actually said). Emitted
    * PER (pair, term) — the q_mutual_info rule: each term's contribution
    * is a fixed double expression over exact integers (add-one-smoothed
    * counts, and the mixture ratios 2p/(p+q) reduce to exact integer
    * ratios via cross-multiplication), while a cross-term fp sum would be
    * order-sensitive. Downstream sums the 10·N tiny terms however it
    * likes; JS/2 per term is symmetric and bounded by ln 2. Term set is
    * the top-N by global count with token tie-break — deterministic, and
    * picked with orderBy+limit (TakeOrderedAndProject: O(N) heap per
    * partition, merged on one tiny reduce) rather than a vocabulary-wide
    * row_number window, which would force the whole 10⁸–10⁹-token web
    * vocabulary through ONE sort task. */
  def qJsTerms(s: SparkSession, dir: String): DataFrame = {
    val tk = TextPrep.cleanDocs(s, dir)
      .join(Tables.documents(s, dir).select("doc_id", "lang"), Seq("doc_id"))
      .select(col("lang"), explode(col("toks")).as("tok"))
    // ONE corpus explode + one vocabulary-sized (lang, tok) aggregate
    // (r22, guide §2.3 aggregate-before-reuse): the r21 form ran the
    // cleanDocs join + token explode THREE times — for the global top-N,
    // the per-(lang, term) counts, and the per-lang totals — and each
    // over the spread substrate's partials. All three are now exact
    // integer roll-ups of this checkpointed table (counts sum, so
    // grouping cannot change them).
    val ltc = tk.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val topTerms = ltc.groupBy("tok").agg(sum(col("c")).as("n_glob"))
      .orderBy(col("n_glob").desc, col("tok").asc)
      .limit(JsTopTerms)
      .select("tok")
    val counts = ltc.join(broadcast(topTerms), Seq("tok"))
      .select(col("lang"), col("tok"), col("c"))
    val langTot = ltc.groupBy("lang").agg(sum(col("c")).as("n"))
    val langs = langTot.select(col("lang").as("la"), col("n").as("na"))
      .crossJoin(langTot.select(col("lang").as("lb"), col("n").as("nb")))
      .filter(col("la") < col("lb"))
    // densify: every (pair, top-term) cell exists; add-one smoothing keeps
    // zero-count cells finite and both engines identical
    val grid = broadcast(langs).crossJoin(broadcast(topTerms))
    val cells = grid
      .join(counts.select(col("lang").as("la"), col("tok"), col("c").as("ca0")),
        Seq("la", "tok"), "left_outer")
      .join(counts.select(col("lang").as("lb"), col("tok"), col("c").as("cb0")),
        Seq("lb", "tok"), "left_outer")
      .select(col("la"), col("lb"), col("tok"), col("na"), col("nb"),
        (coalesce(col("ca0"), lit(0L)) + 1).as("ca"),
        (coalesce(col("cb0"), lit(0L)) + 1).as("cb"))
    // p = ca/(na+V), q = cb/(nb+V); js_term = (p·ln(2p/(p+q)) +
    // q·ln(2q/(p+q)))/2 with the ratios cross-multiplied exact:
    // 2p/(p+q) = 2·ca·(nb+V) / (ca·(nb+V) + cb·(na+V))
    val v = lit(JsTopTerms)
    val x = col("ca") * (col("nb") + v)
    val y = col("cb") * (col("na") + v)
    val p = col("ca").cast("double") / (col("na") + v)
    val q = col("cb").cast("double") / (col("nb") + v)
    cells.select(col("la").as("lang_a"), col("lb").as("lang_b"), col("tok"),
      col("ca"), col("cb"),
      round((p * log(lit(2.0) * x.cast("double") / (x + y).cast("double")) +
        q * log(lit(2.0) * y.cast("double") / (x + y).cast("double"))) / 2, 6)
        .as("js_term"))
  }

  private lazy val qJsTermsSql = {
    val t = graft.functions.TextFns.cleanTokensSql("text")
    s"""WITH tk AS (SELECT lang, unnest($t) AS tok FROM documents),
       top AS (SELECT tok FROM (
                 SELECT tok, count(*) AS n_glob,
                   row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS r
                 FROM tk GROUP BY tok) WHERE r <= $JsTopTerms),
       c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
             FROM tk SEMI JOIN top USING (tok) GROUP BY lang, tok),
       lt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY lang),
       pr AS (SELECT a.lang AS la, a.n AS na, b.lang AS lb, b.n AS nb
              FROM lt a JOIN lt b ON a.lang < b.lang),
       grid AS (SELECT la, na, lb, nb, tok FROM pr CROSS JOIN top),
       cells AS (SELECT la, lb, grid.tok AS tok, na, nb,
                   coalesce(ca.c, 0) + 1 AS ca, coalesce(cb.c, 0) + 1 AS cb
                 FROM grid
                 LEFT JOIN c ca ON ca.lang = grid.la AND ca.tok = grid.tok
                 LEFT JOIN c cb ON cb.lang = grid.lb AND cb.tok = grid.tok)
       SELECT la AS lang_a, lb AS lang_b, tok, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
         round((
           (CAST(ca AS DOUBLE) / (na + $JsTopTerms)) *
             ln(2.0 * CAST(ca * (nb + $JsTopTerms) AS DOUBLE)
               / CAST(ca * (nb + $JsTopTerms) + cb * (na + $JsTopTerms) AS DOUBLE)) +
           (CAST(cb AS DOUBLE) / (nb + $JsTopTerms)) *
             ln(2.0 * CAST(cb * (na + $JsTopTerms) AS DOUBLE)
               / CAST(ca * (nb + $JsTopTerms) + cb * (na + $JsTopTerms) AS DOUBLE))
         ) / 2, 6) AS js_term
       FROM cells"""
  }

  /** Mann–Whitney U (rank-sum) over every group pair of a (g, x)
    * relation — the LOCATION test beside ksPairs' distribution-shape
    * test: U₁ = n₁n₂ + n₁(n₁+1)/2 − R₁ with R₁ the tie-averaged rank sum
    * of group a in the combined sample. Ranks are DECIMAL(19,1) halves
    * (the q_spearman rule), U and its mean are exact decimals, and only
    * the normal-approximation z divides in double (no tie correction —
    * documented screening statistic; at these tie rates the correction
    * shifts σ by <1%). Ranking runs at DISTINCT-VALUE granularity (the
    * ksPairs trick): per (pair, x) tie counts for each side first, so the
    * only window scans distinct values — partition size bounded by the
    * value domain, never the fact table (a row-level per-pair rank window
    * would funnel both groups' rows into one task). Every row at x has
    * tie-averaged rank c_before + (t+1)/2 (c_before = combined rows
    * strictly below x, t = combined ties at x), so the group-a rank sum
    * is Σ_x d1·(c_before + (t+1)/2) — identical to ranking row-by-row. */
  def mannWhitneyPairs(vals: DataFrame): DataFrame = {
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
    tagged
      .withColumn("t", col("d1") + col("d2"))
      .withColumn("c", sum(col("t")).over(w))
      .withColumn("ar", ((col("c") - col("t")).cast("decimal(19,1)") +
        (col("t") + 1).cast("decimal(19,1)") / 2).cast("decimal(19,1)"))
      .groupBy("ga", "gb", "na", "nb")
      .agg(sum(col("d1") * col("ar")).as("r1"))
      .select(mwOutputCols: _*)
  }

  private def mwOutputCols: Seq[org.apache.spark.sql.Column] = {
    val u1 = col("na") * col("nb") +
      (col("na") * (col("na") + 1)).cast("decimal(19,1)") / 2 - col("r1")
    val mu = (col("na") * col("nb")).cast("decimal(19,1)") / 2
    val sigma = sqrt((col("na") * col("nb") * (col("na") + col("nb") + 1))
      .cast("double") / 12.0)
    val z = (u1.cast("double") - mu.cast("double")) / sigma
    Seq(col("ga").as("g_a"), col("gb").as("g_b"),
      col("na").as("n_a"), col("nb").as("n_b"),
      round(u1.cast("double"), 6).as("u1"),
      round(z, 6).as("z"), (abs(z) > 1.96).as("significant"))
  }

  /** q_mannwhitney: the rank-sum location matrix over document lengths
    * per language pair — honest true negatives on this corpus (one
    * generating distribution; the spec proves the flag trips on shifted
    * fixtures), with z varying per pair. */
  def qMannwhitney(s: SparkSession, dir: String): DataFrame =
    mannWhitneyPairs(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))

  /** χ² 95th-percentile critical values by df for the Kruskal–Wallis
    * flag (df = k−1; the q_ab_test fixed-literal rule — the df=4 entry
    * is the one the corpus-gated query and its oracle share). The core
    * is reused at other k by specs/fixtures, so the flag must pick the
    * right row rather than hardcode one df. */
  val KruskalChiCrit: Map[Int, Double] = Map(
    1 -> 3.841459, 2 -> 5.991465, 3 -> 7.814728, 4 -> 9.487729,
    5 -> 11.070498, 6 -> 12.591587, 7 -> 14.067140, 8 -> 15.507313,
    9 -> 16.918978, 10 -> 18.307038)

  /** q_kruskal: Kruskal–Wallis H over document lengths across ALL
    * language groups at once — the k-group generalization of
    * q_mannwhitney's pairwise U matrix (one omnibus test instead of 10
    * pairs + multiplicity, the screening step q_holm then refines). Same
    * determinism discipline: tie-averaged ranks computed at
    * DISTINCT-VALUE granularity (per-x group counts → one cumulative
    * window over the VALUE DOMAIN — n_chars, bounded by document length,
    * never the corpus), ranks as exact DECIMAL(19,1) halves, per-group
    * rank sums Rⱼ exact; H = 12/(N(N+1))·ΣⱼRⱼ²/nⱼ − 3(N+1) with the
    * exact-integer tie correction C = 1 − Σ(t³−t)/(N³−N). The one
    * order-sensitive double sum (ΣⱼRⱼ²/nⱼ, k=5 terms) folds over a
    * sorted group array (the q_anova/q_ndcg discipline). Honest true
    * negative on this corpus; Round10bSpec proves H trips on a shifted
    * fixture. */
  def qKruskal(s: SparkSession, dir: String): DataFrame =
    kruskalWallis(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))

  /** q_median_test: Mood's median test of doc length across languages —
    * the COARSEST (and most outlier-proof) member of the k-group
    * location family (q_anova compares means, q_kruskal rank sums;
    * Mood's test only asks "does each group straddle the POOLED median
    * the same way?" — it survives arbitrary monotone transforms and
    * grotesque tails, the classic robustness/power trade documented
    * beside its siblings). Pooled nearest-rank median at DISTINCT-VALUE
    * granularity (one cumulative over the bounded n_chars domain, the
    * kruskal trick), then a 2×k contingency of ≤-median vs > counts —
    * all exact integers; the per-group (O−E)²/E terms fold over the
    * sorted language array; χ²(k−1) from the shared critical table,
    * degenerate margins (everything on one side) → NULL. */
  def qMedianTest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").cast("long").as("x"))
    val n = v.count()
    val half = (n + 1) / 2
    val med = v.groupBy("x").agg(count(lit(1)).as("c"))
      .withColumn("cm", sum(col("c")).over(Window.orderBy("x")))
      .filter(col("cm") >= half)
      .agg(min(col("x"))).head.getLong(0)
    val g = v.groupBy("g").agg(count(lit(1)).as("n_g"),
      sum(when(col("x") <= med, 1L).otherwise(0L)).as("a_g"))
    val marg = g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
      sum(col("a_g")).as("aa"))
    val nD = col("n").cast("double"); val aD = col("aa").cast("double")
    val ea = col("n_g").cast("double") * aD / nD
    val eb = col("n_g").cast("double") * (nD - aD) / nD
    val oa = col("a_g").cast("double")
    val ob = (col("n_g") - col("a_g")).cast("double")
    val term = (oa - ea) * (oa - ea) / ea + (ob - eb) * (ob - eb) / eb
    val chi = g.crossJoin(broadcast(marg))
      .select(col("g"), col("k"), col("n"), col("aa"), term.as("t"))
      .groupBy("k", "n", "aa")
      .agg(OrderedFold.sum(col("t"), col("g")).as("chi2"))
    val crit = KruskalChiCrit.foldLeft(lit(null).cast("double")) {
      case (acc, (df, cv)) => when(col("k") - 1 === df, cv).otherwise(acc)
    }
    val ok = col("aa") > 0 && col("aa") < col("n")
    chi.select(col("k"), col("n"), lit(med).as("median"),
      when(ok, round(col("chi2"), 6)).otherwise(lit(null).cast("double"))
        .as("chi2"),
      when(ok, col("chi2") > crit).otherwise(lit(null).cast("boolean"))
        .as("significant"))
  }

  private lazy val qMedianTestSql =
    s"""WITH v AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS x FROM documents),
       dom AS (SELECT x, count(*) AS c FROM v GROUP BY x),
       cum AS (SELECT x, sum(c) OVER (ORDER BY x) AS cm FROM dom),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
       med AS (SELECT min(x) AS med FROM cum, tot WHERE cm >= (n + 1) // 2),
       g AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
               CAST(count(*) FILTER (WHERE x <= (SELECT med FROM med))
                 AS BIGINT) AS a_g
             FROM v GROUP BY g),
       marg AS (SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(n_g) AS BIGINT) AS n,
                  CAST(sum(a_g) AS BIGINT) AS aa FROM g),
       t AS (SELECT g.g,
               (CAST(a_g AS DOUBLE)
                  - CAST(n_g AS DOUBLE) * CAST(aa AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(a_g AS DOUBLE)
                  - CAST(n_g AS DOUBLE) * CAST(aa AS DOUBLE) / CAST(n AS DOUBLE))
                / (CAST(n_g AS DOUBLE) * CAST(aa AS DOUBLE) / CAST(n AS DOUBLE))
               + (CAST(n_g - a_g AS DOUBLE)
                  - CAST(n_g AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(aa AS DOUBLE))
                    / CAST(n AS DOUBLE))
                * (CAST(n_g - a_g AS DOUBLE)
                  - CAST(n_g AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(aa AS DOUBLE))
                    / CAST(n AS DOUBLE))
                / (CAST(n_g AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(aa AS DOUBLE))
                    / CAST(n AS DOUBLE)) AS t
             FROM g CROSS JOIN marg),
       m AS (SELECT list_sum(list(t ORDER BY g)) AS chi2 FROM t)
       SELECT k, n, (SELECT med FROM med) AS median,
         CASE WHEN aa > 0 AND aa < n THEN round(chi2, 6) END AS chi2,
         CASE WHEN aa > 0 AND aa < n THEN
           chi2 > ${KruskalChiCrit(4)} END AS significant
       FROM m CROSS JOIN marg"""

  /** q_jonckheere: Jonckheere–Terpstra ordered-alternative test of
    * l_quantity across order MONTHS (the calendar is the natural ordered
    * k-group lattice in this schema) — the rank member of the ordered
    * family (q_trend is Cochran–Armitage for proportions, q_page_trend
    * the blocked form; JT is the unblocked k-sample one, strictly more
    * powerful than q_kruskal when the alternative is monotone in the
    * declared order). JT = Σ_{i<j} U_ij with ties counted ½; computed at
    * DISTINCT-VALUE granularity: per-(month, quantity) cells (k×|domain|,
    * quantity ≤ 50 — the bounded-value-domain contract shared with
    * q_mannwhitney; bucket first for unbounded x), a per-group
    * cumulative over the value grid, and ONE cell-level pair join —
    * 2·U_ij = Σ_x c_j(x)·(2·cum<_i(x) + c_i(x)) keeps everything in
    * exact integers (JT doubled to avoid halves). The null moments use
    * the FULL tie-corrected variance (Hollander–Wolfe 6.19: the 1/72
    * term minus per-group and per-tie penalties, plus the 1/(36·) and
    * 1/(8·) interaction terms) — every moment an exact DECIMAL(38,0)
    * aggregate, widened BEFORE cross-multiplication, with the two
    * 10³⁰-scale factor products cast to double exactly once. */
  def qJonckheere(s: SparkSession, dir: String): DataFrame =
    jonckheereOf(Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_quantity").cast("long").as("x"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey").as("ok"), month(col("o_orderdate")).as("g")),
        Seq("ok")))

  /** JT core over a (g: ordered group, x) relation — see
    * [[qJonckheere]]. */
  def jonckheereOf(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = base.groupBy("g", "x").agg(count(lit(1)).as("c"))
    // broadcast the value-domain side: without the hint two fresh
    // aggregates cross-join as a CartesianProduct (the r11 plan-probe
    // class); the domain is bounded (≤ 50 quantities) by contract
    val grid = cells.select("g").distinct()
      .crossJoin(broadcast(cells.select("x").distinct()))
      .join(cells, Seq("g", "x"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("cumlt",
        sum(col("c")).over(Window.partitionBy("g").orderBy("x")) - col("c"))
    val jt = grid.as("a").join(grid.as("b"),
        col("a.x") === col("b.x") && col("a.g") < col("b.g"))
      .agg(sum(col("b.c").cast("decimal(38,0)") *
        (col("a.cumlt") * 2 + col("a.c")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("jt2"))
    val nd = col("n_i").cast("decimal(38,0)")
    val gm = cells.groupBy("g").agg(sum(col("c")).as("n_i"))
      .agg(count(lit(1)).as("k"),
        sum(nd).cast("decimal(38,0)").as("n"),
        sum(nd * nd).cast("decimal(38,0)").as("sn2"),
        sum(nd * (nd - 1)).cast("decimal(38,0)").as("sn_1"),
        sum(nd * (nd - 1) * (nd - 2)).cast("decimal(38,0)").as("sn_2"),
        sum(nd * (nd - 1) * (nd * 2 + 5)).cast("decimal(38,0)").as("sn25"))
    val td = col("t_u").cast("decimal(38,0)")
    val tm = cells.groupBy("x").agg(sum(col("c")).as("t_u"))
      .agg(sum(td * (td - 1)).cast("decimal(38,0)").as("st_1"),
        sum(td * (td - 1) * (td - 2)).cast("decimal(38,0)").as("st_2"),
        sum(td * (td - 1) * (td * 2 + 5)).cast("decimal(38,0)").as("st25"))
    val jtD = col("jt2").cast("double") / 2
    val eD = (col("n") * col("n") - col("sn2")).cast("double") / 4
    val v1 = (col("n") * (col("n") - 1) * (col("n") * 2 + 5) -
      col("sn25") - col("st25")).cast("double") / 72
    val v2 = col("sn_2").cast("double") * col("st_2").cast("double") /
      (lit(36.0) * (col("n") * (col("n") - 1) * (col("n") - 2)).cast("double"))
    val v3 = col("sn_1").cast("double") * col("st_1").cast("double") /
      (lit(8.0) * (col("n") * (col("n") - 1)).cast("double"))
    val z = (jtD - eD) / sqrt(v1 + v2 + v3)
    jt.crossJoin(broadcast(gm)).crossJoin(broadcast(tm))
      .select(col("k"), col("n").cast("long").as("n"),
        round(jtD, 1).as("jt"), round(z, 6).as("z"),
        (abs(z) > DunnZCrit(1)).as("significant"))
  }

  private lazy val qJonckheereSql =
    s"""WITH base AS (
         SELECT month(o_orderdate) AS g, CAST(l_quantity AS BIGINT) AS x
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       cells AS (SELECT g, x, count(*) AS c FROM base GROUP BY g, x),
       grid AS (SELECT gg.g, xx.x, coalesce(c.c, 0) AS c
                FROM (SELECT DISTINCT g FROM cells) gg
                CROSS JOIN (SELECT DISTINCT x FROM cells) xx
                LEFT JOIN cells c ON c.g = gg.g AND c.x = xx.x),
       cum AS (SELECT g, x, c,
                 sum(c) OVER (PARTITION BY g ORDER BY x) - c AS cumlt
               FROM grid),
       jt AS (SELECT CAST(sum(CAST(b.c AS HUGEINT)
                  * CAST(2 * a.cumlt + a.c AS HUGEINT)) AS HUGEINT) AS jt2
              FROM cum a JOIN cum b ON a.x = b.x AND a.g < b.g),
       gm AS (SELECT CAST(count(*) AS BIGINT) AS k,
                CAST(sum(n_i) AS HUGEINT) AS n,
                CAST(sum(n_i * n_i) AS HUGEINT) AS sn2,
                CAST(sum(n_i * (n_i - 1)) AS HUGEINT) AS sn_1,
                CAST(sum(n_i * (n_i - 1) * (n_i - 2)) AS HUGEINT) AS sn_2,
                CAST(sum(n_i * (n_i - 1) * (n_i * 2 + 5)) AS HUGEINT) AS sn25
              FROM (SELECT g, CAST(sum(c) AS HUGEINT) AS n_i
                    FROM cells GROUP BY g)),
       tm AS (SELECT CAST(sum(t_u * (t_u - 1)) AS HUGEINT) AS st_1,
                CAST(sum(t_u * (t_u - 1) * (t_u - 2)) AS HUGEINT) AS st_2,
                CAST(sum(t_u * (t_u - 1) * (t_u * 2 + 5)) AS HUGEINT) AS st25
              FROM (SELECT x, CAST(sum(c) AS HUGEINT) AS t_u
                    FROM cells GROUP BY x))
       SELECT k, CAST(n AS BIGINT) AS n,
         round(CAST(jt2 AS DOUBLE) / 2, 1) AS jt,
         round((CAST(jt2 AS DOUBLE) / 2 - CAST(n * n - sn2 AS DOUBLE) / 4)
           / sqrt(CAST(n * (n - 1) * (n * 2 + 5) - sn25 - st25 AS DOUBLE) / 72
             + CAST(sn_2 AS DOUBLE) * CAST(st_2 AS DOUBLE)
               / (36.0 * CAST(n * (n - 1) * (n - 2) AS DOUBLE))
             + CAST(sn_1 AS DOUBLE) * CAST(st_1 AS DOUBLE)
               / (8.0 * CAST(n * (n - 1) AS DOUBLE))), 6) AS z,
         abs((CAST(jt2 AS DOUBLE) / 2 - CAST(n * n - sn2 AS DOUBLE) / 4)
           / sqrt(CAST(n * (n - 1) * (n * 2 + 5) - sn25 - st25 AS DOUBLE) / 72
             + CAST(sn_2 AS DOUBLE) * CAST(st_2 AS DOUBLE)
               / (36.0 * CAST(n * (n - 1) * (n - 2) AS DOUBLE))
             + CAST(sn_1 AS DOUBLE) * CAST(st_1 AS DOUBLE)
               / (8.0 * CAST(n * (n - 1) AS DOUBLE))))
           > ${DunnZCrit(1)} AS significant
       FROM jt CROSS JOIN gm CROSS JOIN tm"""

  /** Kruskal–Wallis core over a (g, x) relation — see [[qKruskal]].
    * The cumulative tie count over distinct values runs through the
    * DISTRIBUTED exclusive prefix sum (Ranks.globalPrefixSum — range
    * partition + per-partition offsets), never a bare one-task global
    * window: the distinct-value relation is domain-bounded here, but the
    * same core then holds for unbounded value domains unchanged. */
  def kruskalWallis(vals: DataFrame): DataFrame = {
    val byGx = vals.groupBy("g", "x").agg(count(lit(1)).as("d"))
    val tx = byGx.groupBy("x").agg(sum(col("d")).as("t"))
    val ar = graft.functions.Ranks.globalPrefixSum(tx, "t", col("x").asc)
      .select(col("x"), col("t"),
        (col("cum_before").cast("decimal(19,1)") +
          (col("t") + 1).cast("decimal(19,1)") / 2)
          .cast("decimal(19,1)").as("ar"))
    // t widens to DECIMAL before cubing: a tie depth past ~2×10⁶ wraps
    // t³ in int64 (the q_tcloseness decimal rule)
    val td = col("t").cast("decimal(38,0)")
    val ties = ar.agg(
      sum(td * td * td - td).cast("decimal(38,0)").as("tie_num"))
    val rj = byGx.join(ar.select(col("x"), col("ar")), Seq("x"))
      .groupBy("g")
      .agg(sum(col("d")).as("nj"), sum(col("d") * col("ar")).as("rj"))
      .select(col("g"), col("nj"),
        (col("rj").cast("double") * col("rj").cast("double") /
          col("nj").cast("double")).as("term"))
    val m = rj.agg(
      count(lit(1)).as("k"),
      sum(col("nj")).as("n"),
      OrderedFold.sum(col("term"), col("g")).as("sr"))
      .crossJoin(broadcast(ties))
    val nn = col("n").cast("double")
    val h = lit(12.0) / (nn * (nn + 1)) * col("sr") - lit(3.0) * (nn + 1)
    val corr = lit(1.0) -
      col("tie_num").cast("double") / (nn * nn * nn - nn)
    val hc = h / corr
    m.select(col("k"), col("n"), round(h, 6).as("h"),
      round(hc, 6).as("h_tie_corrected"),
      (col("k") - 1).as("df"),
      // df outside the 1..10 critical table → NULL, never a silent
      // false: a caller reusing the core with >11 groups must see the
      // missing-row condition, not a fake true negative (r10 advice).
      (hc > KruskalChiCrit.foldLeft(lit(null).cast("double")) {
        case (acc, (df, crit)) => when(col("k") - 1 === df, crit).otherwise(acc)
      }).as("significant"))
  }

  /** Bonferroni-adjusted two-sided z critical values Φ⁻¹(1 − 0.025/m)
    * keyed by the COMPARISON count m = k(k−1)/2 — the m=10 (k=5
    * languages) entry is the one the corpus-gated query and its oracle
    * share. Out-of-table m → NULL significance (the KruskalChiCrit
    * discipline). */
  val DunnZCrit: Map[Int, Double] = Map(
    1 -> 1.959964, 3 -> 2.393980, 6 -> 2.638257, 10 -> 2.807034,
    15 -> 2.935199, 21 -> 3.038074, 28 -> 3.123735, 36 -> 3.196950,
    45 -> 3.260767)

  /** q_dunn: Dunn's post-hoc after q_kruskal — WHICH language pairs
    * differ in location once the omnibus H says "some do", on the SAME
    * tie-averaged global ranks (q_mannwhitney re-ranks every pair
    * independently — Dunn is the test that reuses the omnibus ranking,
    * which is what makes it the standard KW follow-up), with Bonferroni
    * FWER control over the m = k(k−1)/2 comparisons. Per pair:
    * z = (R̄ᵢ − R̄ⱼ) / √(σ²·(1/nᵢ + 1/nⱼ)), σ² = (N(N+1) − Σ(t³−t)/(N−1))/12.
    * Rank sums stay exact DECIMAL through the same distributed prefix
    * sum as the omnibus (Ranks.globalPrefixSum — never a one-task
    * window); ties widen to DECIMAL(38,0) before cubing; the pair join
    * is k², bounded by the group count at any SF. Honest true negatives
    * here (one generating distribution per language; the spec trips a
    * pair on a shifted fixture). */
  def qDunn(s: SparkSession, dir: String): DataFrame =
    dunnOf(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))

  /** Dunn core over a (g, x) relation — see [[qDunn]]. */
  def dunnOf(vals: DataFrame): DataFrame = {
    val byGx = vals.groupBy("g", "x").agg(count(lit(1)).as("d"))
    val tx = byGx.groupBy("x").agg(sum(col("d")).as("t"))
    val ar = graft.functions.Ranks.globalPrefixSum(tx, "t", col("x").asc)
      .select(col("x"), col("t"),
        (col("cum_before").cast("decimal(19,1)") +
          (col("t") + 1).cast("decimal(19,1)") / 2)
          .cast("decimal(19,1)").as("ar"))
    val td = col("t").cast("decimal(38,0)")
    val ties = ar.agg(
      sum(td * td * td - td).cast("decimal(38,0)").as("tie_num"))
    val rj = byGx.join(ar.select(col("x"), col("ar")), Seq("x"))
      .groupBy("g")
      .agg(sum(col("d")).as("nj"),
        sum(col("d") * col("ar")).cast("decimal(38,1)").as("rj"))
    val m = rj.agg(count(lit(1)).as("k"), sum(col("nj")).as("n"))
      .crossJoin(broadcast(ties))
    val a = rj.select(col("g").as("g_a"), col("nj").as("n_a"), col("rj").as("r_a"))
    val b = rj.select(col("g").as("g_b"), col("nj").as("n_b"), col("rj").as("r_b"))
    val nD = col("n").cast("double")
    val sig2 = (nD * (nD + 1) -
      col("tie_num").cast("double") / (nD - 1)) / 12.0
    val meanA = col("r_a").cast("double") / col("n_a").cast("double")
    val meanB = col("r_b").cast("double") / col("n_b").cast("double")
    val z = (meanA - meanB) / sqrt(sig2 *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    val mPairs = (col("k") * (col("k") - 1) / 2).cast("int")
    val crit = DunnZCrit.foldLeft(lit(null).cast("double")) {
      case (acc, (mm, c)) => when(mPairs === mm, c).otherwise(acc)
    }
    // broadcast the k-row build side (the qTukey rule: a non-equi join
    // of two fresh aggregates otherwise plans as CartesianProduct)
    a.join(broadcast(b), col("g_a") < col("g_b")).crossJoin(broadcast(m))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        round(meanA, 6).as("mean_rank_a"), round(meanB, 6).as("mean_rank_b"),
        round(z, 6).as("z"), (abs(z) > crit).as("significant"))
  }

  private lazy val qDunnSql =
    s"""WITH v AS (SELECT lang AS g, n_chars AS x FROM documents),
       gx AS (SELECT g, x, CAST(count(*) AS BIGINT) AS d FROM v GROUP BY 1, 2),
       tx AS (SELECT x, CAST(sum(d) AS BIGINT) AS t FROM gx GROUP BY 1),
       ar AS (SELECT x, t,
                CAST(CAST(sum(t) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - t
                    AS DECIMAL(19,1))
                  + CAST(t + 1 AS DECIMAL(19,1)) / 2 AS DECIMAL(19,1)) AS ar
              FROM tx),
       ties AS (SELECT CAST(sum(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
                  * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS tie_num FROM ar),
       rj AS (SELECT g, CAST(sum(d) AS BIGINT) AS nj,
                CAST(sum(d * ar) AS DECIMAL(38,1)) AS rj
              FROM gx JOIN ar USING (x) GROUP BY 1),
       m AS (SELECT CAST(sum(nj) AS BIGINT) AS n FROM rj)
       SELECT a.g AS g_a, b.g AS g_b, a.nj AS n_a, b.nj AS n_b,
         round(CAST(a.rj AS DOUBLE) / a.nj, 6) AS mean_rank_a,
         round(CAST(b.rj AS DOUBLE) / b.nj, 6) AS mean_rank_b,
         round((CAST(a.rj AS DOUBLE) / a.nj - CAST(b.rj AS DOUBLE) / b.nj)
           / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)
               - CAST(tie_num AS DOUBLE) / (CAST(n AS DOUBLE) - 1)) / 12.0
             * (1.0 / a.nj + 1.0 / b.nj)), 6) AS z,
         abs((CAST(a.rj AS DOUBLE) / a.nj - CAST(b.rj AS DOUBLE) / b.nj)
           / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)
               - CAST(tie_num AS DOUBLE) / (CAST(n AS DOUBLE) - 1)) / 12.0
             * (1.0 / a.nj + 1.0 / b.nj))) > ${DunnZCrit(10)} AS significant
       FROM rj a JOIN rj b ON a.g < b.g CROSS JOIN m CROSS JOIN ties"""

  private lazy val qKruskalSql =
    s"""WITH v AS (SELECT lang AS g, n_chars AS x FROM documents),
       gx AS (SELECT g, x, CAST(count(*) AS BIGINT) AS d FROM v GROUP BY 1, 2),
       tx AS (SELECT x, CAST(sum(d) AS BIGINT) AS t FROM gx GROUP BY 1),
       ar AS (SELECT x, t,
                CAST(CAST(sum(t) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - t
                    AS DECIMAL(19,1))
                  + CAST(t + 1 AS DECIMAL(19,1)) / 2 AS DECIMAL(19,1)) AS ar
              FROM tx),
       ties AS (SELECT CAST(sum(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
                  * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS tie_num FROM ar),
       rj AS (SELECT g, CAST(sum(d) AS BIGINT) AS nj, sum(d * ar) AS rj
              FROM gx JOIN ar USING (x) GROUP BY 1),
       tm AS (SELECT g, nj,
                CAST(rj AS DOUBLE) * CAST(rj AS DOUBLE) / CAST(nj AS DOUBLE) AS term
              FROM rj),
       m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(nj) AS BIGINT) AS n,
               list_sum(list(term ORDER BY g)) AS sr
             FROM tm)
       SELECT k, n,
         round(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) * sr
           - 3 * (CAST(n AS DOUBLE) + 1), 6) AS h,
         round((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) * sr
             - 3 * (CAST(n AS DOUBLE) + 1))
           / (1.0 - CAST(tie_num AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               - CAST(n AS DOUBLE))), 6) AS h_tie_corrected,
         k - 1 AS df,
         (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) * sr
             - 3 * (CAST(n AS DOUBLE) + 1))
           / (1.0 - CAST(tie_num AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               - CAST(n AS DOUBLE))) > ${KruskalChiCrit(4)} AS significant
       FROM m CROSS JOIN ties"""

  /** Package-visible: Inference.qBhFdr wraps this matrix as a derived
    * table to attach p-values and the BH correction. */
  private[operators] lazy val qMannwhitneySql =
    """WITH v AS (SELECT lang AS g, n_chars AS x FROM documents),
       n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g),
       pr AS (SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
              FROM n a JOIN n b ON a.g < b.g),
       tg AS (SELECT ga, gb, na, nb, v.g, v.x
              FROM pr JOIN v ON v.g = pr.ga OR v.g = pr.gb),
       rk AS (SELECT ga, gb, na, nb, g,
                CAST(CAST(rank() OVER (PARTITION BY ga, gb ORDER BY x) AS DECIMAL(19,1))
                  + CAST(count(*) OVER (PARTITION BY ga, gb, x) - 1 AS DECIMAL(19,1)) / 2
                  AS DECIMAL(19,1)) AS ar
              FROM tg),
       agg AS (SELECT ga, gb, na, nb, sum(ar) AS r1
               FROM rk WHERE g = ga GROUP BY 1, 2, 3, 4),
       u AS (SELECT ga, gb, na, nb,
               na * nb + CAST(na * (na + 1) AS DECIMAL(19,1)) / 2 - r1 AS u1,
               CAST(na * nb AS DECIMAL(19,1)) / 2 AS mu,
               sqrt(CAST(na * nb * (na + nb + 1) AS DOUBLE) / 12.0) AS sigma
             FROM agg)
       SELECT ga AS g_a, gb AS g_b, na AS n_a, nb AS n_b,
         round(CAST(u1 AS DOUBLE), 6) AS u1,
         round((CAST(u1 AS DOUBLE) - CAST(mu AS DOUBLE)) / sigma, 6) AS z,
         abs((CAST(u1 AS DOUBLE) - CAST(mu AS DOUBLE)) / sigma) > 1.96 AS significant
       FROM u"""

  /** q_ks_test: the KS drift matrix over document-length distributions
    * per language — the distribution-level counterpart of q_psi's binned
    * drift gate (KS needs no binning choice). On the synthetic corpus all
    * ten pairs are honest true negatives (one generating distribution —
    * the spec proves the flag trips on shifted fixtures); D and its
    * critical value still vary per pair, so the gate hashes real
    * structure. */
  def qKsTest(s: SparkSession, dir: String): DataFrame =
    ksPairs(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))

  private lazy val qKsTestSql =
    s"""WITH v AS (SELECT lang AS g, n_chars AS x FROM documents),
       n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g),
       pr AS (SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
              FROM n a JOIN n b ON a.g < b.g),
       tg AS (SELECT ga, gb, na, nb, x,
                sum(CASE WHEN v.g = pr.ga THEN 1 ELSE 0 END) AS d1,
                sum(CASE WHEN v.g = pr.gb THEN 1 ELSE 0 END) AS d2
              FROM pr JOIN v ON v.g = pr.ga OR v.g = pr.gb
              GROUP BY 1, 2, 3, 4, 5),
       c AS (SELECT ga, gb, na, nb,
               sum(d1) OVER (PARTITION BY ga, gb ORDER BY x
                 ROWS UNBOUNDED PRECEDING) AS c1,
               sum(d2) OVER (PARTITION BY ga, gb ORDER BY x
                 ROWS UNBOUNDED PRECEDING) AS c2
             FROM tg),
       m AS (SELECT ga, gb, na, nb,
               max(abs(c1*nb - c2*na)) AS d_scaled
             FROM c GROUP BY 1, 2, 3, 4)
       SELECT ga AS g_a, gb AS g_b, na AS n_a, nb AS n_b,
         round(CAST(d_scaled AS DOUBLE) / (na * nb), 6) AS d,
         round($KsAlpha005 * sqrt(CAST(na + nb AS DOUBLE) / (na * nb)), 6) AS d_crit,
         CAST(d_scaled AS DOUBLE) / (na * nb) >
           $KsAlpha005 * sqrt(CAST(na + nb AS DOUBLE) / (na * nb)) AS significant
       FROM m"""

  // ------------------------------------------------------------ eb shrink

  /** q_eb_shrink: empirical-Bayes (James–Stein-style) shrinkage of
    * per-source mean document lengths — the estimator a corpus dashboard
    * should show instead of raw per-source means: small sources borrow
    * strength from the corpus (λ→0 pulls to the grand mean), large ones
    * keep their own signal (λ→1). One-way random-effects method of
    * moments, unbalanced form: pooled within-variance σ̂² = ΣSS_i/(N−k),
    * between-mass SSB = Σnᵢ(mᵢ−m̄)², τ̂² = max(0, (SSB−(k−1)σ̂²) /
    * (N−Σnᵢ²/N)), λᵢ = τ̂²/(τ̂²+σ̂²/nᵢ), shrunk = m̄+λᵢ(mᵢ−m̄). All
    * inputs are exact integer moments (n, Σx, Σx² per source, one pass);
    * the two cross-source fp sums (SSB and ΣSS) fold in SOURCE ORDER over
    * the sources-bounded collected list (the q_cramers_v determinism
    * move), so both engines run identical IEEE additions. */
  def qEbShrink(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(s, dir).groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars").cast("decimal(38,0)")).as("sx"),
        // widen BEFORE squaring (the snn rule below): native-int x² would
        // wrap silently for 32-bit inputs while DuckDB errors
        sum(col("n_chars").cast("decimal(38,0)") * col("n_chars")).as("sxx"))
    val tot = m.agg(count(lit(1)).as("k"), sum(col("n")).as("n_tot"),
      sum(col("sx")).as("sx_tot"),
      sum(col("n").cast("decimal(38,0)") * col("n")).as("snn"))
    val mean = col("sx").cast("double") / col("n")
    val grand = col("sx_tot").cast("double") / col("n_tot")
    // SS_i and nᵢ(mᵢ−m̄)² as per-source doubles from exact ints
    val ssw = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") / col("n")
    val ssb = col("n") * (mean - grand) * (mean - grand)
    val terms = m.crossJoin(broadcast(tot))
      .select(col("source"), col("n"), col("k"), col("n_tot"), col("sx_tot"),
        col("snn"), mean.as("m_i"), ssw.as("ss_i"), ssb.as("b_i"))
    val folded = terms
      .groupBy("k", "n_tot", "sx_tot", "snn")
      .agg(OrderedFold.sum(col("ss_i"), col("source")).as("ss_within"),
        OrderedFold.sum(col("b_i"), col("source")).as("ss_between"))
    val sigma2 = col("ss_within") / (col("n_tot") - col("k"))
    val denom = col("n_tot").cast("double") -
      col("snn").cast("double") / col("n_tot")
    val tau2 = greatest(lit(0.0),
      (col("ss_between") - (col("k") - 1) * sigma2) / denom)
    val lam = col("tau2") / (col("tau2") + col("sigma2") / col("n"))
    terms.join(broadcast(folded
        .select(col("k").as("k2"), sigma2.as("sigma2"), tau2.as("tau2"))),
        col("k") === col("k2"))
      .select(col("source"), col("n"),
        round(col("m_i"), 6).as("mean"),
        round(col("sx_tot").cast("double") / col("n_tot") +
          lam * (col("m_i") - col("sx_tot").cast("double") / col("n_tot")), 6)
          .as("shrunk"),
        round(lam, 6).as("lambda"))
  }

  private lazy val qEbShrinkSql =
    """WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
               sum(CAST(n_chars AS DECIMAL(38,0))) AS sx,
               sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS sxx
             FROM documents GROUP BY source),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_tot,
                 sum(sx) AS sx_tot, sum(CAST(n AS DECIMAL(38,0)) * n) AS snn
               FROM m),
       terms AS (SELECT source, n, k, n_tot, sx_tot, snn,
                   CAST(sx AS DOUBLE) / n AS m_i,
                   CAST(n * sxx - sx * sx AS DOUBLE) / n AS ss_i,
                   n * (CAST(sx AS DOUBLE) / n - CAST(sx_tot AS DOUBLE) / n_tot)
                     * (CAST(sx AS DOUBLE) / n - CAST(sx_tot AS DOUBLE) / n_tot) AS b_i
                 FROM m CROSS JOIN tot),
       folded AS (SELECT k, n_tot, sx_tot, snn,
                    list_sum(list(ss_i ORDER BY source)) AS ss_within,
                    list_sum(list(b_i ORDER BY source)) AS ss_between
                  FROM terms GROUP BY 1, 2, 3, 4),
       hyper AS (SELECT k,
                   ss_within / (n_tot - k) AS sigma2,
                   greatest(0.0, (ss_between - (k - 1) * (ss_within / (n_tot - k)))
                     / (CAST(n_tot AS DOUBLE) - CAST(snn AS DOUBLE) / n_tot)) AS tau2
                 FROM folded)
       SELECT source, n, round(m_i, 6) AS mean,
         round(CAST(sx_tot AS DOUBLE) / n_tot +
           (tau2 / (tau2 + sigma2 / n)) *
             (m_i - CAST(sx_tot AS DOUBLE) / n_tot), 6) AS shrunk,
         round(tau2 / (tau2 + sigma2 / n), 6) AS lambda
       FROM terms JOIN hyper ON hyper.k = terms.k"""

  // ---------------------------------------------------- quantile normalize

  /** Quantile normalization of a (g, x) relation with INTEGRAL x: map
    * each group's value to the POOLED distribution's value at the same
    * quantile — the classic batch-effect correction (microarray lineage,
    * now feature alignment across data sources) that makes per-group
    * distributions identical while preserving within-group order. Runs
    * entirely at DISTINCT-VALUE granularity: per-group ECDF positions
    * c_g(x) from one cumulative window bounded by the value domain (the
    * ksPairs posture), target rank k = ⌈c_g(x)·N / n_g⌉ cross-multiplied
    * in exact integers, and the pooled value at rank k found by a
    * bounded broadcast range-join against the pooled distinct-value
    * cumulative table (C_prev < k ≤ C). Every output column is an exact
    * integer — the strongest possible hash gate. (c·N needs DECIMAL
    * widening past ~10¹⁸ rows; long is exact to that point.) */
  def quantileNormalizeOf(vals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perG = vals.groupBy("g", "x").agg(count(lit(1)).as("cnt"))
    val wg = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gcum = perG.withColumn("c", sum(col("cnt")).over(wg))
    val ng = vals.groupBy("g").agg(count(lit(1)).as("n_g"))
    val tot = vals.agg(count(lit(1)).as("n_all"))
    val wp = Window.orderBy("px")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pooled = vals.groupBy(col("x").as("px")).agg(count(lit(1)).as("pcnt"))
      .withColumn("cc", sum(col("pcnt")).over(wp))
      .withColumn("cp", col("cc") - col("pcnt"))
    gcum.join(ng, Seq("g")).crossJoin(broadcast(tot))
      .withColumn("k", expr("(c * n_all + n_g - 1) div n_g"))
      .join(broadcast(pooled), col("k") > col("cp") && col("k") <= col("cc"))
      .select(col("g"), col("x"), col("cnt"), col("k").as("pooled_rank"),
        col("px").as("mapped"))
  }

  /** q_quantile_norm: document lengths per language, aligned to the
    * pooled length distribution — after this map every language has the
    * same length histogram (the cross-source feature-alignment step a
    * mixed-corpus curriculum needs). */
  def qQuantileNorm(s: SparkSession, dir: String): DataFrame =
    quantileNormalizeOf(Tables.documents(s, dir)
      .select(col("lang").as("g"), col("n_chars").as("x")))

  private lazy val qQuantileNormSql =
    """WITH v AS (SELECT lang AS g, n_chars AS x FROM documents),
       pg AS (SELECT g, x, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY g, x),
       gc AS (SELECT g, x, cnt,
                CAST(sum(cnt) OVER (PARTITION BY g ORDER BY x
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
              FROM pg),
       ng AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g FROM v GROUP BY g),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM v),
       pooled AS (SELECT x AS px, CAST(count(*) AS BIGINT) AS pcnt
                  FROM v GROUP BY x),
       pc AS (SELECT px, pcnt,
                CAST(sum(pcnt) OVER (ORDER BY px ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc
              FROM pooled),
       pr AS (SELECT px, cc, cc - pcnt AS cp FROM pc),
       kk AS (SELECT gc.g, gc.x, gc.cnt,
                (gc.c * n_all + ng.n_g - 1) // ng.n_g AS k
              FROM gc JOIN ng ON ng.g = gc.g CROSS JOIN tot)
       SELECT g, x, cnt, k AS pooled_rank, px AS mapped
       FROM kk JOIN pr ON kk.k > pr.cp AND kk.k <= pr.cc"""

  /** The Box–Cox λ grid — every member's power is expressible through
    * sqrt / multiply / divide (IEEE-correctly-rounded in BOTH engines),
    * which is what makes the log-likelihood hash-gateable at all: a
    * libm pow(x, λ) would be the exact cross-engine seam the
    * q_oracle_canary family exists to keep OFF hash-gated surfaces. */
  val BoxCoxLambdas = Seq("-2.0", "-1.0", "-0.5", "0.0", "0.5", "1.0", "2.0")

  /** q_boxcox: Box–Cox power-transform selection over document lengths
    * per language — the variance-stabilization step a modeling pipeline
    * runs before Gaussian-assuming statistics (q_quantile_norm forces a
    * reference shape; Box–Cox picks the PARAMETRIC transform): for each
    * λ on [[BoxCoxLambdas]], the profile log-likelihood
    * LL(λ) = −n/2·ln(σ̂²_λ) + (λ−1)·Σln x over y = (x^λ−1)/λ (ln x at
    * λ=0), maximized in λ. Scale shape: one scan collapses to the
    * (lang × distinct length) grid — value-domain-sized — and the λ
    * sweep runs on that grid; the three moment sums are ordered by x;
    * powers use only sqrt/·/÷ (see [[BoxCoxLambdas]]);
    * σ̂² and LL are single mirrored expressions; best-λ rank breaks ties
    * on λ. */
  def qBoxCox(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dist = Tables.documents(s, dir)
      .groupBy(col("lang"), col("n_chars").as("x"))
      .agg(count(lit(1)).as("c"))
    val grid = s.range(1).select(explode(array(
      BoxCoxLambdas.map(l => lit(l.toDouble)): _*)).as("lam"))
    val xd = col("x").cast("double")
    val y = when(col("lam") === -2.0, (lit(1.0) / (xd * xd) - 1.0) / -2.0)
      .when(col("lam") === -1.0, (lit(1.0) / xd - 1.0) / -1.0)
      .when(col("lam") === -0.5, (lit(1.0) / sqrt(xd) - 1.0) / -0.5)
      .when(col("lam") === 0.0, log(xd))
      .when(col("lam") === 0.5, (sqrt(xd) - 1.0) / 0.5)
      .when(col("lam") === 1.0, xd - 1.0)
      .otherwise((xd * xd - 1.0) / 2.0)
    val cD = col("c").cast("double")
    val m = dist.crossJoin(broadcast(grid))
      .select(col("lang"), col("lam"), col("x"), col("c"), y.as("y"))
      .groupBy("lang", "lam")
      .agg(sum(col("c")).as("n"), OrderedFold.sum(col("y") * cD, col("x")).as("sy"),
        OrderedFold.sum(col("y") * col("y") * cD, col("x")).as("syy"),
        OrderedFold.sum(log(col("x").cast("double")) * cD, col("x")).as("slx"))
    val nD = col("n").cast("double")
    val varE = col("syy") / nD - (col("sy") / nD) * (col("sy") / nD)
    // var > 0 guard: a single-length group has σ̂² = 0 (or cancellation
    // can drive it a hair negative) — Spark's log(≤0) is NULL but DuckDB's
    // ln(≤0) THROWS, crashing the whole oracle. Both engines must emit
    // NULL ll for the degenerate cell.
    val ll = when(varE > 0.0,
      lit(-0.5) * nD * log(varE) + (col("lam") - 1.0) * col("slx"))
    val w = Window.partitionBy("lang").orderBy(col("ll").desc, col("lam").asc)
    m.select(col("lang"), col("lam"), col("n"), ll.as("ll"))
      .withColumn("best", row_number().over(w) === 1)
      .select(col("lang"), col("lam").as("lambda"), col("n"),
        round(col("ll"), 6).as("ll"), col("best"))
  }

  private lazy val qBoxCoxSql = {
    val lams = BoxCoxLambdas.map(l => s"SELECT CAST($l AS DOUBLE) AS lam")
      .mkString(" UNION ALL ")
    s"""WITH dist AS (SELECT lang, n_chars AS x, CAST(count(*) AS BIGINT) AS c
           FROM documents GROUP BY 1, 2),
       grid AS ($lams),
       ev AS (SELECT lang, lam, x, c,
                CASE WHEN lam = -2.0 THEN (1.0 / (CAST(x AS DOUBLE) * x) - 1.0) / -2.0
                     WHEN lam = -1.0 THEN (1.0 / CAST(x AS DOUBLE) - 1.0) / -1.0
                     WHEN lam = -0.5 THEN (1.0 / sqrt(CAST(x AS DOUBLE)) - 1.0) / -0.5
                     WHEN lam = 0.0 THEN ln(CAST(x AS DOUBLE))
                     WHEN lam = 0.5 THEN (sqrt(CAST(x AS DOUBLE)) - 1.0) / 0.5
                     WHEN lam = 1.0 THEN CAST(x AS DOUBLE) - 1.0
                     ELSE (CAST(x AS DOUBLE) * x - 1.0) / 2.0 END AS y
              FROM dist CROSS JOIN grid),
       m AS (SELECT lang, lam, CAST(sum(c) AS BIGINT) AS n,
               list_sum(list(y * CAST(c AS DOUBLE) ORDER BY x)) AS sy,
               list_sum(list(y * y * CAST(c AS DOUBLE) ORDER BY x)) AS syy,
               list_sum(list(ln(CAST(x AS DOUBLE)) * CAST(c AS DOUBLE)
                 ORDER BY x)) AS slx
             FROM ev GROUP BY 1, 2),
       sc AS (SELECT lang, lam, n,
                CASE WHEN syy / n - (sy / n) * (sy / n) > 0.0
                  THEN -0.5 * n * ln(syy / n - (sy / n) * (sy / n))
                    + (lam - 1.0) * slx END AS ll
              FROM m)
       SELECT lang, lam AS lambda, n, round(ll, 6) AS ll,
         row_number() OVER (PARTITION BY lang ORDER BY ll DESC, lam ASC) = 1
           AS best
       FROM sc"""
  }

  override def registry: Seq[Q] = Seq(
    Q("q_eb_shrink", qEbShrink, Oracle(qEbShrinkSql)),
    Q("q_quantile_norm", qQuantileNorm, Oracle(qQuantileNormSql)),
    Q("q_ks_test", qKsTest, Oracle(qKsTestSql)),
    Q("q_kuiper", qKuiper, Oracle(qKuiperSql)),
    Q("q_cvm", qCvm, Oracle(qCvmSql)),
    Q("q_ansari", qAnsari, Oracle(qAnsariSql)),
    Q("q_wasserstein", qWasserstein, Oracle(qWassersteinSql)),
    Q("q_energy_dist", qEnergyDist, Oracle(qEnergyDistSql)),
    Q("q_sinkhorn", qSinkhorn, Cert("q_sinkhorn_audit")),
    Q("q_l_moments", qLMoments, Oracle(qLMomentsSql)),
    Q("q_sinkhorn_audit", qSinkhornAudit, Oracle(qSinkhornAuditSql)),
    Q("q_bhattacharyya", qBhattacharyya, Oracle(qBhattacharyyaSql)),
    Q("q_js_terms", qJsTerms, Oracle(qJsTermsSql)),
    Q("q_mannwhitney", qMannwhitney, Oracle(qMannwhitneySql)),
    Q("q_kruskal", qKruskal, Oracle(qKruskalSql)),
    Q("q_jonckheere", qJonckheere, Oracle(qJonckheereSql)),
    Q("q_median_test", qMedianTest, Oracle(qMedianTestSql)),
    Q("q_dunn", qDunn, Oracle(qDunnSql)),
    Q("q_fleiss", qFleiss, Oracle(qFleissSql)),
    Q("q_cochran_q", qCochranQ, Oracle(qCochranQSql)),
    Q("q_cronbach", qCronbach, Oracle(qCronbachSql)),
    Q("q_trimmed_mean", qTrimmedMean, Oracle(qTrimmedMeanSql)),
    Q("q_trimmed_mean_approx", qTrimmedMeanApprox, Oracle(qTrimmedMeanApproxSql)),
    Q("q_iqr_outliers", qIqrOutliers, Oracle(qIqrOutliersSql)),
    Q("q_krippendorff", qKrippendorff, Oracle(qKrippendorffSql)),
    Q("q_dp_counts", qDpCounts, Oracle(qDpCountsSql)),
    Q("q_kanon", qKanon, Oracle(qKanonSql)),
    Q("q_cramers_v", qCramersV, Oracle(qCramersVSql)),
    Q("q_ldiversity", qLdiversity, Oracle(qLdiversitySql)),
    Q("q_tcloseness", qTcloseness, Oracle(qTclosenessSql)),
    Q("q_boxcox", qBoxCox, Oracle(qBoxCoxSql)),
    Q("q_winsorize", qWinsorize, Oracle(qWinsorizeSql)),
    Q("q_winsorize_approx", qWinsorizeApprox, Oracle(qWinsorizeApproxSql)),
    Q("q_mad_approx", qMadApprox, Oracle(qMadApproxSql)),
    Q("q_mad", qMad, Oracle(qMadSql)),
    Q("q_mutual_info", qMutualInfo, Oracle(qMutualInfoSql)))
}
