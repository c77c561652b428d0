package graft.operators

import graft.{Ml, Oracle, Q, QueryModule}
import graft.functions.JaroWinkler
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's evaluation machinery (evaluate.py), distributed:
  *  - confusion matrix + precision/recall/accuracy/F1 (EVResult,
  *    evaluate.py:21-75) as a single aggregation over (prediction, gold);
  *  - gold-standard construction via set ops (evaluate.py:125-174):
  *    wiki-titles ∖ disambiguation-titles, intersect concepts → 0/1/2 label;
  *  - Jaro-Winkler ≥ threshold name matching (evaluate.py:100-106);
  *  - deterministic k-fold assignment (supervised_classifier.py:629).
  */
object Evaluation extends QueryModule {

  /** Generic confusion-matrix metrics for boolean (pred, gold) columns.
    * Ratios are double divisions of exact integer counts; zero denominators
    * yield NULL (DuckDB's x/0 semantics — keeps the oracle in lock-step and
    * avoids ANSI divide-by-zero when a class is empty). */
  def confusionMetrics(scored: DataFrame): DataFrame = {
    def ratio(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den =!= 0, round(num.cast("double") / den, 6))
    scored.agg(
      sum(when(col("pred") && col("gold"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("pred") && !col("gold"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("pred") && !col("gold"), 1L).otherwise(0L)).as("tn"),
      sum(when(!col("pred") && col("gold"), 1L).otherwise(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("tn"), col("fn"),
        ratio(col("tp"), col("tp") + col("fp")).as("precision"),
        ratio(col("tp"), col("tp") + col("fn")).as("recall"),
        ratio(col("tp") + col("tn"),
          col("tp") + col("fp") + col("tn") + col("fn")).as("accuracy"),
        ratio(lit(2.0) * col("tp"),
          lit(2.0) * col("tp") + col("fp") + col("fn")).as("f1"))
  }

  /** q_eval_metrics: language-ID prediction ('en') vs the lang gold label —
    * the EVResult pipeline on a real prediction task. Fused: prediction and
    * gold come from the SAME row of one scan (qLangId's marker-score rule
    * inline), so the whole evaluation is a map + one global aggregate —
    * no self-join of the corpus. The oracle keeps the compositional SQL. */
  def qEvalMetrics(s: SparkSession, dir: String): DataFrame =
    confusionMetrics(
      TextAnalysis.langIdOf(TextPrep.rawDocs(s, dir))
        .select((col("pred_lang") === "en").as("pred"), (col("lang") === "en").as("gold")))

  private val qEvalMetricsSql = {
    s"""WITH pred AS (
         SELECT p.doc_id, p.pred_lang = 'en' AS pred, d.lang = 'en' AS gold
         FROM (${TextAnalysis.qLangIdSql}) p
         JOIN documents d ON p.doc_id = d.doc_id),
       cm AS (
         SELECT
           CAST(sum(CASE WHEN pred AND gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN pred AND NOT gold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN NOT pred AND NOT gold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           CAST(sum(CASE WHEN NOT pred AND gold THEN 1 ELSE 0 END) AS BIGINT) AS fn
         FROM pred)
       SELECT tp, fp, tn, fn,
         round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
         round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
         round(CAST(tp + tn AS DOUBLE) / (tp + fp + tn + fn), 6) AS accuracy,
         round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1
       FROM cm"""
  }

  /** q_kappa: Cohen's kappa for the same lang-ID task — chance-corrected
    * agreement, the standard complement to raw accuracy when classes are
    * imbalanced (here 'en' dominates, so accuracy alone overstates skill).
    * κ = (p_o − p_e)/(1 − p_e) from the exact confusion counts; count
    * products stay in long arithmetic (≤(10⁸)² at 100 TB corpus scale
    * still fits), one double division each for p_o and p_e. */
  def qKappa(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.langIdOf(TextPrep.rawDocs(s, dir))
      .select((col("pred_lang") === "en").as("pred"), (col("lang") === "en").as("gold"))
    val n = (col("tp") + col("fp") + col("tn") + col("fn")).cast("double")
    val po = (col("tp") + col("tn")).cast("double") / n
    val pe = ((col("tp") + col("fp")) * (col("tp") + col("fn"))
      + (col("fn") + col("tn")) * (col("fp") + col("tn"))).cast("double") / (n * n)
    confusionMetrics(scored)
      .select(col("tp"), col("fp"), col("tn"), col("fn"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  private val qKappaSql =
    s"""WITH pred AS (
         SELECT p.doc_id, p.pred_lang = 'en' AS pred, d.lang = 'en' AS gold
         FROM (${TextAnalysis.qLangIdSql}) p
         JOIN documents d ON p.doc_id = d.doc_id),
       cm AS (
         SELECT
           CAST(sum(CASE WHEN pred AND gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN pred AND NOT gold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN NOT pred AND NOT gold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           CAST(sum(CASE WHEN NOT pred AND gold THEN 1 ELSE 0 END) AS BIGINT) AS fn
         FROM pred),
       k AS (
         SELECT tp, fp, tn, fn,
           CAST(tp + tn AS DOUBLE) / CAST(tp + fp + tn + fn AS DOUBLE) AS po,
           CAST((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn) AS DOUBLE)
             / (CAST(tp + fp + tn + fn AS DOUBLE) * CAST(tp + fp + tn + fn AS DOUBLE)) AS pe
         FROM cm)
       SELECT tp, fp, tn, fn, round(po, 6) AS po, round(pe, 6) AS pe,
         round((po - pe) / (1.0 - pe), 6) AS kappa
       FROM k"""

  /** q_gold_standard: conceptInWikiOrDisambiguation labels via set algebra
    * (1 = disambiguation page, 2 = plain wiki page, 0 = neither), modeled on
    * part names: disambiguation ≈ p_size > 25, wiki ≈ brand family 1x. */
  def qGoldStandard(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val concepts = p.select(col("p_name").as("name")).distinct()
    val disamb = p.filter(col("p_size") > 25).select(col("p_name").as("name")).distinct()
    val wiki = p.filter(col("p_brand").startsWith("Brand#1"))
      .select(col("p_name").as("name")).distinct()
      .join(disamb, Seq("name"), "left_anti") // wiki set excludes disambiguation
    concepts
      .join(disamb.withColumn("is_d", lit(1)), Seq("name"), "left_outer")
      .join(wiki.withColumn("is_w", lit(1)), Seq("name"), "left_outer")
      .select(col("name"),
        when(col("is_d") === 1, 1).when(col("is_w") === 1, 2).otherwise(0).as("label"))
  }

  private val qGoldStandardSql =
    """WITH concepts AS (SELECT DISTINCT p_name AS name FROM part),
       disamb AS (SELECT DISTINCT p_name AS name FROM part WHERE p_size > 25),
       wiki AS (
         SELECT DISTINCT p_name AS name FROM part WHERE p_brand LIKE 'Brand#1%'
         AND p_name NOT IN (SELECT name FROM disamb))
       SELECT c.name,
         CASE WHEN d.name IS NOT NULL THEN 1
              WHEN w.name IS NOT NULL THEN 2
              ELSE 0 END AS label
       FROM concepts c
       LEFT JOIN disamb d ON c.name = d.name
       LEFT JOIN wiki w ON c.name = w.name"""

  /** q_jaro_winkler: near-identical name pairs among distinct part names
    * (evaluate.py compareStrings uses ≥0.95; we surface ≥0.8 pairs with the
    * rounded score). Distinct-name set is small → broadcast self-join. */
  def qJaroWinkler(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir).select(col("p_name").as("name")).distinct()
    names.as("a").join(broadcast(names.as("b")), col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        round(JaroWinkler.similarity(col("a.name"), col("b.name")), 6).as("jw"))
      .filter(col("jw") >= 0.8)
  }

  private val qJaroWinklerSql =
    """WITH n AS (SELECT DISTINCT p_name AS name FROM part)
       SELECT a.name AS name_a, b.name AS name_b,
         round(jaro_winkler_similarity(a.name, b.name), 6) AS jw
       FROM n a JOIN n b ON a.name < b.name
       WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.8"""

  /** Levenshtein match threshold for ER candidate generation. */
  val ErMaxDist = 3

  /** q_er_blocking: blocked fuzzy-match candidate generation — the
    * entity-resolution front end that makes pairwise matching feasible at
    * scale (naive ER is n² comparisons; blocking bounds the quadratic to
    * within-block). Blocks = (first name word, p_size). The load-bearing
    * scale move: string distance is computed on the DISTINCT-NAME domain
    * per block (bounded by the name vocabulary, ≤8 nouns per adjective
    * here), and record-level candidate counts come from MULTIPLYING the
    * per-name multiplicities — Σ cnt_a·cnt_b over matching name pairs and
    * Σ cnt·(cnt−1)/2 within identical names — so no record-level pair is
    * ever materialized (at 100 TB the name-pair relation stays vocabulary²
    * while records grow unbounded). Levenshtein is exact-integer in both
    * engines; every count is exact; the block reduction ratio divides
    * once. Cites reference evaluate.py:compareStrings (the thesis matches
    * concept titles fuzzily; blocking is how that survives scale). */
  def qErBlocking(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .select(split(col("p_name"), " ").getItem(0).as("blk"),
        col("p_size"), col("p_name"))
    val names = parts.groupBy("blk", "p_size", "p_name")
      .agg(count(lit(1)).as("cnt"))
    val a = names.select(col("blk"), col("p_size"),
      col("p_name").as("name_a"), col("cnt").as("cnt_a"))
    val b = names.select(col("blk"), col("p_size"),
      col("p_name").as("name_b"), col("cnt").as("cnt_b"))
    val fuzzy = a.join(b, Seq("blk", "p_size"))
      .filter(col("name_a") < col("name_b"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= ErMaxDist)
      .groupBy("blk", "p_size")
      .agg(count(lit(1)).as("n_name_pairs"),
        sum(col("cnt_a") * col("cnt_b")).as("fuzzy_pairs"))
    val blocks = names.groupBy("blk", "p_size")
      .agg(sum(col("cnt")).as("block_n"),
        count(lit(1)).as("n_names"),
        // `div` — Spark's `/` on integers widens to double
        sum(expr("cnt * (cnt - 1) div 2")).as("exact_pairs"))
    blocks.join(fuzzy, Seq("blk", "p_size"), "left")
      .na.fill(0L, Seq("n_name_pairs", "fuzzy_pairs"))
      .select(col("blk"), col("p_size"), col("block_n"), col("n_names"),
        col("exact_pairs"), col("n_name_pairs"), col("fuzzy_pairs"),
        // candidate share of the naive within-block quadratic
        when(col("block_n") < 2, lit(null)).otherwise(
          round((col("exact_pairs") + col("fuzzy_pairs")).cast("double") /
            (col("block_n") * (col("block_n") - 1) / 2), 6)).as("cand_share"))
  }

  private lazy val qErBlockingSql =
    s"""WITH names AS (
         SELECT split_part(p_name, ' ', 1) AS blk, p_size, p_name,
           CAST(count(*) AS BIGINT) AS cnt
         FROM part GROUP BY 1, 2, 3),
       fz AS (
         SELECT a.blk, a.p_size,
           CAST(count(*) AS BIGINT) AS n_name_pairs,
           CAST(sum(a.cnt * b.cnt) AS BIGINT) AS fuzzy_pairs
         FROM names a JOIN names b
           ON a.blk = b.blk AND a.p_size = b.p_size AND a.p_name < b.p_name
         WHERE levenshtein(a.p_name, b.p_name) <= $ErMaxDist
         GROUP BY 1, 2),
       blocks AS (
         SELECT blk, p_size, CAST(sum(cnt) AS BIGINT) AS block_n,
           CAST(count(*) AS BIGINT) AS n_names,
           CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS exact_pairs
         FROM names GROUP BY 1, 2)
       SELECT blocks.blk, blocks.p_size, block_n, n_names, exact_pairs,
         coalesce(n_name_pairs, 0) AS n_name_pairs,
         coalesce(fuzzy_pairs, 0) AS fuzzy_pairs,
         CASE WHEN block_n < 2 THEN NULL ELSE
           round(CAST(exact_pairs + coalesce(fuzzy_pairs, 0) AS DOUBLE) /
             (block_n * (block_n - 1) // 2), 6) END AS cand_share
       FROM blocks LEFT JOIN fz
         ON fz.blk = blocks.blk AND fz.p_size = blocks.p_size"""

  /** Sorted-neighborhood window size (candidates = names within w−1 sort
    * positions). */
  val SnmWindow = 5

  /** q_er_sorted: sorted-neighborhood ER candidate generation (Hernández
    * & Stolfo 1995) — the OTHER classic blocking strategy beside
    * q_er_blocking's equi-key blocks: sort the match domain by key and
    * take every pair within a w-record window. Its selling point is the
    * pairs BLOCKING MISSES — near-misses in the first block token (a
    * typo'd leading word lands in a different block but sorts adjacently)
    * still become candidates here. Distributed shape: the sort runs on
    * the DISTINCT-NAME domain (vocabulary-sized, the q_er_blocking rule)
    * through the range-partitioned global ranking — never a
    * single-partition window — and the w-window expands as ONE equi-join
    * on rn+d (d exploded from 1..w−1), never a non-equi join (which
    * plans as a cartesian product against a fresh aggregate). Record-
    * level candidate mass is the multiplicity product; Levenshtein stays
    * exact-integer in both engines. */
  def qErSorted(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir).groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("cnt"))
    val r = graft.functions.Ranks.globalRowNumber(names, col("name").asc)
    val probes = r.select(col("name").as("name_a"), col("cnt").as("cnt_a"),
        explode(array((1 until SnmWindow).map(lit): _*)).as("d"),
        col("rn"))
      .select(col("name_a"), col("cnt_a"), col("d"), (col("rn") + col("d")).as("rn"))
    probes.join(r.select(col("name").as("name_b"), col("cnt").as("cnt_b"), col("rn")),
        Seq("rn"))
      .select(col("name_a"), col("name_b"), col("d").as("w_dist"),
        levenshtein(col("name_a"), col("name_b")).as("lev"),
        (col("cnt_a") * col("cnt_b")).as("cand_pairs"))
      .withColumn("matched", col("lev") <= ErMaxDist)
  }

  private lazy val qErSortedSql =
    s"""WITH names AS (SELECT p_name AS name, CAST(count(*) AS BIGINT) AS cnt
           FROM part GROUP BY 1),
       r AS (SELECT name, cnt, row_number() OVER (ORDER BY name) AS rn FROM names)
       SELECT a.name AS name_a, b.name AS name_b,
         CAST(b.rn - a.rn AS INT) AS w_dist,
         CAST(levenshtein(a.name, b.name) AS INT) AS lev,
         CAST(a.cnt * b.cnt AS BIGINT) AS cand_pairs,
         levenshtein(a.name, b.name) <= $ErMaxDist AS matched
       FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + ${SnmWindow - 1}"""

  /** Fellegi–Sunter EM iteration count and probability clamp. */
  val FsIters = 20
  val FsClamp = 0.000001

  /** Bounded pair-universe cap for the FS audit block (the SQL-derivable
    * ground set, the q_cosine_lsh_audit move — production feeds the
    * BLOCKED candidate stream from q_er_blocking instead). */
  val FsBlockCap = 300

  /** q_fellegi: Fellegi–Sunter probabilistic record linkage — the
    * decision-theoretic back end behind q_er_blocking's candidate front
    * end: per comparison pattern γ ∈ {0,1}⁴, EM estimates the
    * match-class probabilities m_k = P(γ_k=1 | match), u_k = P(γ_k=1 |
    * non-match) and the prevalence λ, then scores each pattern with its
    * posterior and log-likelihood-ratio weight (the 1969 JASA model;
    * every modern linker — Splink et al. — is this machinery).
    *
    * The scale split is the whole point: the DISTRIBUTED part reduces
    * the pair stream to the ≤2⁴-cell pattern CONTINGENCY (one groupBy —
    * at 100 TB the cells stay 16 rows while pairs grow unbounded), and
    * EM runs driver-side on those cells — model-sized, like the BPE
    * merge table. Comparison fields here are scalar equalities (lang,
    * source, |Δn_chars| ≤ 20, same length centile) over a bounded
    * doc_id < FsBlockCap universe so the ORACLE can rebuild the exact
    * ground set; production swaps in the blocked candidates unchanged.
    *
    * HASH-GATED EM: the oracle unrolls all FsIters iterations as
    * generated CTE pairs with every cross-cell fp sum an ordered fold
    * (list_sum(list(… ORDER BY cell)) ↔ the identical foldLeft in cell
    * order), every update the identical IEEE expression tree, and the
    * clamp mirrored — EM uses no transcendentals, so 20 iterations are
    * bit-identical across engines; the single ln in the output weight is
    * rounded to 6 like every libm call in this repo. */
  def qFellegi(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).filter(col("doc_id") < FsBlockCap)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val cells = d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        (col("a.lang") === col("b.lang")).cast("int").as("g1"),
        (col("a.source") === col("b.source")).cast("int").as("g2"),
        (abs(col("a.n_chars") - col("b.n_chars")) <= 20).cast("int").as("g3"),
        (expr("a.n_chars div 100") === expr("b.n_chars div 100")).cast("int").as("g4"))
      .groupBy("g1", "g2", "g3", "g4").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .sortBy { case (g1, g2, g3, g4, _) => g1 * 8 + g2 * 4 + g3 * 2 + g4 }
    def lik(g: Int, p: Double): Double = if (g == 1) p else 1 - p
    def clamp(x: Double): Double = math.max(math.min(x, 1 - FsClamp), FsClamp)
    var m = Array(0.9, 0.9, 0.9, 0.9)
    var u = Array(0.1, 0.1, 0.1, 0.1)
    var lam = 0.5
    def fmOf(c: (Int, Int, Int, Int, Long)): Double =
      lam * lik(c._1, m(0)) * lik(c._2, m(1)) * lik(c._3, m(2)) * lik(c._4, m(3))
    def fuOf(c: (Int, Int, Int, Int, Long)): Double =
      (1 - lam) * lik(c._1, u(0)) * lik(c._2, u(1)) * lik(c._3, u(2)) * lik(c._4, u(3))
    for (_ <- 1 to FsIters) {
      // every cross-cell sum folds in ascending cell order — the exact
      // sequence the oracle's list_sum(list(… ORDER BY cell)) runs
      val post = cells.map { c => val fm = fmOf(c); (c, fm / (fm + fuOf(c))) }
      val gOf = Array[((Int, Int, Int, Int, Long)) => Int](_._1, _._2, _._3, _._4)
      val sPostN = post.foldLeft(0.0) { case (a, (c, p)) => a + p * c._5 }
      val sNotN = post.foldLeft(0.0) { case (a, (c, p)) => a + (1 - p) * c._5 }
      val sN = cells.foldLeft(0L)(_ + _._5)
      val m2 = Array.tabulate(4) { k =>
        clamp(post.foldLeft(0.0) { case (a, (c, p)) =>
          a + p * c._5 * gOf(k)(c) } / sPostN)
      }
      val u2 = Array.tabulate(4) { k =>
        clamp(post.foldLeft(0.0) { case (a, (c, p)) =>
          a + (1 - p) * c._5 * gOf(k)(c) } / sNotN)
      }
      lam = sPostN / sN
      m = m2; u = u2
    }
    import s.implicits._
    // raw doubles leave the driver; the 6-digit cut runs through Spark's
    // own `round` so HALF_UP semantics mirror DuckDB's round exactly
    cells.toSeq.map { c =>
      val fm = fmOf(c); val fu = fuOf(c)
      (c._1, c._2, c._3, c._4, c._5,
        fm / (fm + fu), math.log((fm / lam) / (fu / (1 - lam))))
    }.toDF("g_lang", "g_source", "g_len", "g_bucket", "n", "posterior0", "weight0")
      .select(col("g_lang"), col("g_source"), col("g_len"), col("g_bucket"),
        col("n"), round(col("posterior0"), 6).as("posterior"),
        round(col("weight0"), 6).as("weight"))
  }

  private lazy val qFellegiSql = {
    def likSql(g: String, p: String) = s"(CASE WHEN $g = 1 THEN $p ELSE 1 - $p END)"
    def fmSql = s"lam * ${likSql("g1", "m1")} * ${likSql("g2", "m2")} * " +
      s"${likSql("g3", "m3")} * ${likSql("g4", "m4")}"
    def fuSql = s"(1 - lam) * ${likSql("g1", "u1")} * ${likSql("g2", "u2")} * " +
      s"${likSql("g3", "u3")} * ${likSql("g4", "u4")}"
    val lo = FsClamp; val hi = s"1 - $FsClamp"
    def mUpd(k: Int) =
      s"""greatest(least(
         list_sum(list(fm / (fm + fu) * n * g$k ORDER BY cell)) /
         list_sum(list(fm / (fm + fu) * n ORDER BY cell)), $hi), $lo) AS m$k"""
    def uUpd(k: Int) =
      s"""greatest(least(
         list_sum(list((1 - fm / (fm + fu)) * n * g$k ORDER BY cell)) /
         list_sum(list((1 - fm / (fm + fu)) * n ORDER BY cell)), $hi), $lo) AS u$k"""
    val iters = (1 to FsIters).map { i =>
      s"""post$i AS (SELECT cell, n, g1, g2, g3, g4, $fmSql AS fm, $fuSql AS fu
           FROM cells CROSS JOIN par${i - 1}),
         par$i AS (SELECT ${(1 to 4).map(mUpd).mkString(", ")},
           ${(1 to 4).map(uUpd).mkString(", ")},
           list_sum(list(fm / (fm + fu) * n ORDER BY cell)) / sum(n) AS lam
           FROM post$i)"""
    }.mkString(",\n       ")
    s"""WITH d AS (SELECT doc_id, lang, source, n_chars FROM documents
           WHERE doc_id < $FsBlockCap),
       pairs AS (SELECT
           CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS g1,
           CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS g2,
           CASE WHEN abs(a.n_chars - b.n_chars) <= 20 THEN 1 ELSE 0 END AS g3,
           CASE WHEN a.n_chars // 100 = b.n_chars // 100 THEN 1 ELSE 0 END AS g4
         FROM d a JOIN d b ON a.doc_id < b.doc_id),
       cells AS (SELECT g1, g2, g3, g4, g1*8 + g2*4 + g3*2 + g4 AS cell,
           CAST(count(*) AS BIGINT) AS n
         FROM pairs GROUP BY 1, 2, 3, 4),
       par0 AS (SELECT CAST(0.9 AS DOUBLE) AS m1, CAST(0.9 AS DOUBLE) AS m2,
           CAST(0.9 AS DOUBLE) AS m3, CAST(0.9 AS DOUBLE) AS m4,
           CAST(0.1 AS DOUBLE) AS u1, CAST(0.1 AS DOUBLE) AS u2,
           CAST(0.1 AS DOUBLE) AS u3, CAST(0.1 AS DOUBLE) AS u4,
           CAST(0.5 AS DOUBLE) AS lam),
       $iters,
       scored AS (SELECT cell, n, g1, g2, g3, g4, $fmSql AS fm, $fuSql AS fu, lam
         FROM cells CROSS JOIN par$FsIters)
       SELECT g1 AS g_lang, g2 AS g_source, g3 AS g_len, g4 AS g_bucket, n,
         round(fm / (fm + fu), 6) AS posterior,
         round(ln((fm / lam) / (fu / (1 - lam))), 6) AS weight
       FROM scored"""
  }

  /** q_cv_folds: deterministic STRATIFIED fold assignment + per-fold
    * class balance — the distributed twin of the reference's
    * StratifiedKFold(kfold, shuffle=True, random_state=42)
    * (supervised_classifier.py:629): per-class md5-shuffle rank mod k
    * (Classification.stratifiedFolds, the same assignment q_cv_train
    * trains on), so every fold carries each gold class to within one
    * row. The base excludes Classification.ExcludedLabels — the
    * reference's CV loop runs over train_corpus, which never contains
    * the held-out concepts (supervised_classifier.py:118-150, 629). */
  def qCvFolds(s: SparkSession, dir: String): DataFrame =
    Classification.stratifiedFolds(
      Tables.embeddings(s, dir)
        .filter(!col("label").isin(Classification.ExcludedLabels: _*))
        .select(col("vec_id"), col("label"),
          when(col("label") < 5, 1.0).otherwise(0.0).as("y")),
      Classification.CvK)
      .groupBy("fold")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("label")).as("n_classes"),
        sum(when(col("label") < 5, 1L).otherwise(0L)).as("n_class0"))

  private lazy val qCvFoldsSql =
    s"""WITH e AS (SELECT vec_id, label,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
             md5(CAST(vec_id AS VARCHAR)) AS h
           FROM embeddings
           WHERE label NOT IN (${Classification.ExcludedLabels.mkString(", ")})),
       f AS (SELECT label, y,
               CAST((row_number() OVER (PARTITION BY y ORDER BY h, vec_id) - 1)
                 % ${Classification.CvK} AS INT) AS fold
             FROM e)
       SELECT fold, count(*) AS n, count(DISTINCT label) AS n_classes,
         CAST(sum(y) AS BIGINT) AS n_class0
       FROM f GROUP BY 1"""

  /** q_auc: ROC AUC of the continuous quality score against the boolean
    * Gopher gate — the threshold-free ranking metric beside the
    * confusion-matrix family (18/55), via the rank-sum identity
    * AUC = (R₊ − n₊(n₊+1)/2) / (n₊·n₋) with tie-averaged ranks. Ranks
    * are computed at DISTINCT-VALUE granularity (the Mann–Whitney
    * machinery: per-score tie counts, rank sum = Σ d₊·(c_before +
    * (t+1)/2)), so the only window scans distinct rounded scores —
    * bounded by the score domain, never the corpus. Everything stays in
    * exact decimals until the single final division; gini = 2·AUC − 1
    * rides along. */
  def qAuc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val j = TextAnalysis.qQuality(s, dir).select(col("doc_id"), col("quality"))
      .join(TextAnalysis.qQualityRules(s, dir).select(col("doc_id"), col("passes")),
        Seq("doc_id"))
    val byVal = j.groupBy(col("quality").as("x"))
      .agg(sum(when(col("passes"), 1L).otherwise(0L)).as("d1"),
        sum(when(!col("passes"), 1L).otherwise(0L)).as("d2"))
    val wCum = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val auc = (col("r_pos") -
      (col("n_pos") * (col("n_pos") + 1)).cast("decimal(19,1)") / 2).cast("double") /
      (col("n_pos") * col("n_neg"))
    byVal
      .withColumn("t", col("d1") + col("d2"))
      .withColumn("c", sum(col("t")).over(wCum))
      .withColumn("ar", ((col("c") - col("t")).cast("decimal(19,1)") +
        (col("t") + 1).cast("decimal(19,1)") / 2).cast("decimal(19,1)"))
      .agg(sum(col("d1")).as("n_pos"), sum(col("d2")).as("n_neg"),
        sum(col("d1") * col("ar")).as("r_pos"))
      .select(col("n_pos"), col("n_neg"),
        round(auc, 6).as("auc"), round(auc * 2 - 1, 6).as("gini"))
  }

  private lazy val qAucSql =
    s"""WITH q AS (${TextAnalysis.qQualitySql}),
       r AS (${TextAnalysis.qQualityRulesSql}),
       j AS (SELECT q.doc_id, q.quality AS x, r.passes
             FROM q JOIN r ON r.doc_id = q.doc_id),
       bv AS (SELECT x, CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                CAST(sum(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT) AS d2
              FROM j GROUP BY x),
       c AS (SELECT x, d1, d2, d1 + d2 AS t,
               sum(d1 + d2) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS c
             FROM bv),
       rk AS (SELECT d1, d2,
                CAST(CAST(c - t AS DECIMAL(19,1))
                  + CAST(t + 1 AS DECIMAL(19,1)) / 2 AS DECIMAL(19,1)) AS ar
              FROM c),
       a AS (SELECT CAST(sum(d1) AS BIGINT) AS n_pos,
               CAST(sum(d2) AS BIGINT) AS n_neg, sum(d1 * ar) AS r_pos FROM rk)
       SELECT n_pos, n_neg,
         round(CAST(r_pos - CAST(n_pos * (n_pos + 1) AS DECIMAL(19,1)) / 2 AS DOUBLE)
           / (n_pos * n_neg), 6) AS auc,
         round(CAST(r_pos - CAST(n_pos * (n_pos + 1) AS DECIMAL(19,1)) / 2 AS DOUBLE)
           / (n_pos * n_neg) * 2 - 1, 6) AS gini
       FROM a"""

  override def registry: Seq[Q] = Seq(
    Q("q_eval_metrics", qEvalMetrics, Oracle(qEvalMetricsSql)),
    Q("q_gold_standard", qGoldStandard, Oracle(qGoldStandardSql)),
    Q("q_jaro_winkler", qJaroWinkler, Oracle(qJaroWinklerSql)),
    Q("q_kappa", qKappa, Oracle(qKappaSql)),
    Q("q_auc", qAuc, Oracle(qAucSql)),
    Q("q_er_blocking", qErBlocking, Oracle(qErBlockingSql)),
    Q("q_er_sorted", qErSorted, Oracle(qErSortedSql)),
    Q("q_fellegi", qFellegi, Oracle(qFellegiSql)),
    Q("q_cv_folds", qCvFolds, Oracle(qCvFoldsSql), Ml))
}
