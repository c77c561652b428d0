package graft.operators

import graft.{Cert, Ml, Oracle, Q, QueryModule}
import graft.sources.Tables
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Latent-factor collaborative filtering — the missing member of the
  * recommender family (r16 verdict task 4). q_copurchase / q_item_sim /
  * q_link_pred cover counting, normalization, and graph topology over
  * the customer→part interaction data; ALS learns the latent-factor
  * model over the same relation (MLlib ALS, implicit-feedback — the
  * Hu/Koren/Volinsky 2008 formulation — seeded, fixed rank/iters).
  * This is also the reference's "learn embeddings from interactions"
  * shape (supervised_classifier.py trains on LDA topic vectors; ALS is
  * the interaction-matrix analogue the LLM-pipeline brief wants).
  *
  * Scale posture: ALS is THE distributed factorization (blocked
  * alternating least squares: each sweep solves per-user/per-item
  * rank×rank normal equations with only the factor blocks shuffled —
  * never the interaction matrix against itself). The interaction
  * relation is one join+groupBy of lineitem×orders (one shuffle, then
  * persisted + memoized via ModelCache like the copurchase family).
  * Query surfaces are bounded: recommendations only for a fixed
  * [[AlsAnchorUsers]]-user anchor set (recommendForUserSubset — never
  * the users×items cross product), and the audit's score probes are
  * anchor×anchor-bounded broadcasts. Iterative training is excluded
  * from the Bench headline per the documented ML-training rule. */
object Recommender extends QueryModule {

  val AlsRank = 8
  val AlsIters = 10
  val AlsSeed = 20260815L
  val AlsReg = 0.1
  val AlsAlpha = 8.0
  /** Bounded anchor set: the [[AlsAnchorUsers]] smallest custkeys with
    * any interaction (deterministic; bounded-state rule — the collect
    * below is over a k-row relation). */
  val AlsAnchorUsers = 50
  val AlsTopK = 3

  /** (user, item, strength): distinct-order count per (customer, part) —
    * the implicit-feedback confidence input. Memoized + persisted per
    * (session, dir): shared by q_als, q_als_audit, and the spec. */
  def interactions(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"rec.inter:$dir") {
      val df = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").cast("int").as("user"),
          col("l_partkey").cast("int").as("item"))
        .agg(countDistinct(col("l_orderkey")).cast("double").as("strength"))
        .cache()
      df.count() // materialize once under the cache lock
      df
    }

  def fit(s: SparkSession, dir: String): ALSModel =
    graft.ModelCache.getOrElseUpdate(s, s"rec.als:$dir") {
      new ALS()
        .setUserCol("user").setItemCol("item").setRatingCol("strength")
        .setImplicitPrefs(true)
        .setRank(AlsRank).setMaxIter(AlsIters)
        .setRegParam(AlsReg).setAlpha(AlsAlpha)
        .setSeed(AlsSeed)
        .setColdStartStrategy("drop")
        .fit(interactions(s, dir))
    }

  /** q_als: top-[[AlsTopK]] part recommendations for the bounded anchor
    * users (rows-only — iterative training; q_als_audit is the
    * hash-gated certificate). recommendForUserSubset scores only the
    * anchor block against the item factors — the users×items cross
    * product never materializes. */
  def qAls(s: SparkSession, dir: String): DataFrame = {
    val anchors = interactions(s, dir)
      .select(col("user")).distinct()
      .orderBy(col("user").asc).limit(AlsAnchorUsers)
    fit(s, dir).recommendForUserSubset(anchors, AlsTopK)
      .select(col("user"), posexplode(col("recommendations")).as(Seq("pos", "rec")))
      .select(col("user").as("custkey"),
        col("rec.item").as("partkey"),
        (col("pos") + 1).as("rank"),
        round(col("rec.rating").cast("double"), 6).as("score"))
  }

  /** q_als_audit: factorization certificate (the q_bpe_audit /
    * q_kmeans_audit shape). SQL-derivable anchors the oracle recomputes
    * independently: n_users / n_items / n_interactions of the distinct
    * (customer, part) relation, plus the fixed rank. Guarantees asserted
    * Spark-side, oracle emits TRUE:
    *  - `factors_ok`: the model factorizes the FULL relation (one factor
    *    row per distinct user and item — a dropped block breaks it) and
    *    every factor vector has exactly `rank` entries;
    *  - `finite_ok`: no NaN/Inf anywhere in either factor matrix (a
    *    diverged normal-equation solve is loud, not silent);
    *  - `separation_ok`: the model RANKS observed interactions above
    *    unobserved ones — mean ⟨u,i⟩ over the anchor users' observed
    *    pairs exceeds mean ⟨u,i⟩ over their unobserved probes from the
    *    same bounded item block (the implicit-ALS training objective,
    *    verified through plain column algebra on the factor tables — a
    *    different arithmetic path than MLlib's blocked predict);
    *  - `coverage_ok`: every anchor user received exactly
    *    [[AlsTopK]] recommendations. */
  def qAlsAudit(s: SparkSession, dir: String): DataFrame = {
    val inter = interactions(s, dir)
    val m = fit(s, dir)
    val nUsers = inter.select("user").distinct().count()
    val nItems = inter.select("item").distinct().count()
    val nInter = inter.count()

    val uf = m.userFactors.select(col("id").as("user"),
      transform(col("features"), x => x.cast("double")).as("uv"))
    val itf = m.itemFactors.select(col("id").as("item"),
      transform(col("features"), x => x.cast("double")).as("iv"))
    val lenOk = uf.filter(size(col("uv")) =!= AlsRank).count() == 0 &&
      itf.filter(size(col("iv")) =!= AlsRank).count() == 0
    val factorsOk = m.userFactors.count() == nUsers &&
      m.itemFactors.count() == nItems && lenOk
    val bad = (v: org.apache.spark.sql.Column) =>
      exists(v, x => isnan(x) || x === Double.PositiveInfinity ||
        x === Double.NegativeInfinity)
    val finiteOk = uf.filter(bad(col("uv"))).count() == 0 &&
      itf.filter(bad(col("iv"))).count() == 0

    // Bounded probe block: anchor users × the 100 smallest item ids.
    val anchorU = inter.select("user").distinct()
      .orderBy(col("user").asc).limit(AlsAnchorUsers)
    val probeI = inter.select("item").distinct()
      .orderBy(col("item").asc).limit(100)
    val dot = aggregate(zip_with(col("uv"), col("iv"), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    val scored = anchorU.crossJoin(probeI)
      .join(uf, Seq("user")).join(itf, Seq("item"))
      .join(inter.select(col("user"), col("item"), lit(true).as("obs")),
        Seq("user", "item"), "left")
      .select(coalesce(col("obs"), lit(false)).as("obs"), dot.as("score"))
    val sep = scored.groupBy("obs").agg(avg(col("score")).as("mu"))
      .collect().map(r => r.getAs[Boolean]("obs") -> r.getAs[Double]("mu")).toMap
    val separationOk = sep.getOrElse(true, Double.NegativeInfinity) >
      sep.getOrElse(false, Double.PositiveInfinity)

    val coverageOk = qAls(s, dir).groupBy("custkey").count()
      .filter(col("count") =!= AlsTopK).count() == 0 &&
      qAls(s, dir).select("custkey").distinct().count() ==
        math.min(AlsAnchorUsers.toLong, nUsers)

    import s.implicits._
    Seq((nUsers, nItems, nInter, AlsRank.toLong,
      factorsOk, finiteOk, separationOk, coverageOk))
      .toDF("n_users", "n_items", "n_interactions", "k",
        "factors_ok", "finite_ok", "separation_ok", "coverage_ok")
  }

  private lazy val qAlsAuditSql =
    s"""WITH ui AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
       SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_users,
         CAST(count(DISTINCT i) AS BIGINT) AS n_items,
         CAST(count(*) AS BIGINT) AS n_interactions,
         CAST($AlsRank AS BIGINT) AS k,
         TRUE AS factors_ok, TRUE AS finite_ok,
         TRUE AS separation_ok, TRUE AS coverage_ok
       FROM ui"""

  /** Probe-block width shared by the audit and the fold-in separation
    * check. */
  val AlsProbeItems = 100

  /** The implicit-ALS fold-in solve for ONE user (Hu, Koren & Volinsky
    * 2008 eq. 4 with the item factors FROZEN):
    * x_u = (YᵀY + Yᵀ(Cᵤ−I)Y + λI)⁻¹ Yᵀ Cᵤ p(u).
    * `gram` carries Σ w·y yᵀ where every item contributes w = 1 (the
    * YᵀY term) and each OBSERVED item additionally w = cᵢ−1 = α·strength;
    * `rhs` is Σ cᵢ yᵢ over observed items (p = 1). The distributed work
    * is the two aggregates (rank² + rank sums, map-side combinable over
    * the full item-factor table); the rank×rank solve is driver-side
    * Gaussian elimination — 8×8, the q_pca driver-digest convention. */
  private def foldInUser(s: SparkSession, dir: String,
      obs: DataFrame): Array[Double] = {
    val itf = fit(s, dir).itemFactors.select(col("id").as("item"),
      transform(col("features"), x => x.cast("double")).as("iv"))
    // carry an EXPLICIT observed flag rather than keying off the weight
    // value (w = 1.0 is a reachable α·strength for other α/strength
    // choices — a magic-sentinel filter would silently drop such rows)
    val weighted = itf.select(col("iv"), lit(1.0).as("w"),
        lit(false).as("is_observed"))
      .unionByName(itf.join(obs, Seq("item"))
        .select(col("iv"), (lit(AlsAlpha) * col("strength")).as("w"),
          lit(true).as("is_observed")))
    val k = AlsRank
    val gramSums = (for (i <- 0 until k; j <- i until k) yield
      sum(col("w") * element_at(col("iv"), i + 1) *
        element_at(col("iv"), j + 1)).as(s"g_${i}_$j"))
    val rhsSums = (0 until k).map(i =>
      sum(when(col("is_observed"), // c = 1 + α·strength
        (lit(1.0) + col("w")) * element_at(col("iv"), i + 1))
        .otherwise(lit(0.0))).as(s"b_$i"))
    val row = weighted.agg((gramSums ++ rhsSums).head,
      (gramSums ++ rhsSums).tail: _*).collect()(0)
    val a = Array.ofDim[Double](k, k)
    var idx = 0
    for (i <- 0 until k; j <- i until k) {
      a(i)(j) = row.getDouble(idx); a(j)(i) = a(i)(j); idx += 1
    }
    for (i <- 0 until k) a(i)(i) += AlsReg
    val b = Array.tabulate(k)(i => row.getDouble(idx + i))
    // 8×8 Gaussian elimination with partial pivoting
    for (p <- 0 until k) {
      var mx = p
      for (r <- p + 1 until k) if (math.abs(a(r)(p)) > math.abs(a(mx)(p))) mx = r
      val tmp = a(p); a(p) = a(mx); a(mx) = tmp
      val tb = b(p); b(p) = b(mx); b(mx) = tb
      for (r <- p + 1 until k) {
        val f = a(r)(p) / a(p)(p)
        for (c <- p until k) a(r)(c) -= f * a(p)(c)
        b(r) -= f * b(p)
      }
    }
    val x = new Array[Double](k)
    for (p <- k - 1 to 0 by -1) {
      var acc = b(p)
      for (c <- p + 1 until k) acc -= a(p)(c) * x(c)
      x(p) = acc / a(p)(p)
    }
    x
  }

  /** The fold-in template: the LARGEST custkey with interactions plays
    * the "unseen user" — the fold-in consumes only its interaction LIST
    * (the cold-start input a production system has), never its trained
    * factor, so the solve exercises the true new-user path while the
    * audit can compare against the trained twin. */
  private def templateObs(s: SparkSession, dir: String): (Long, DataFrame) = {
    val inter = interactions(s, dir)
    val tu = inter.agg(max(col("user"))).collect()(0).getInt(0).toLong
    (tu, inter.filter(col("user") === tu).select(col("item"), col("strength")))
  }

  /** q_als_foldin: production cold-start inference — top-[[AlsTopK]]
    * recommendations for a user NOT looked up in the factor table, from
    * one closed-form least-squares fold-in against the frozen item
    * factors (rows-only — the trained factors are iterative;
    * q_als_foldin_audit is the hash-gated certificate). Scoring touches
    * only the bounded [[AlsProbeItems]] probe block. */
  def qAlsFoldin(s: SparkSession, dir: String): DataFrame = {
    val (tu, obs) = templateObs(s, dir)
    val x = foldInUser(s, dir, obs)
    val xu = array(x.map(lit): _*)
    val itf = fit(s, dir).itemFactors.select(col("id").as("item"),
      transform(col("features"), v => v.cast("double")).as("iv"))
    val probes = interactions(s, dir).select("item").distinct()
      .orderBy(col("item").asc).limit(AlsProbeItems)
    val dot = aggregate(zip_with(xu, col("iv"), (a, b) => a * b),
      lit(0.0), (acc, v) => acc + v)
    probes.join(itf, Seq("item"))
      .select(col("item"), dot.as("score"))
      .orderBy(col("score").desc, col("item").asc)
      .limit(AlsTopK)
      .select(lit(tu).as("folded_user"), col("item").as("partkey"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("item").asc)).as("rank"),
        round(col("score"), 6).as("score"))
  }

  /** q_als_foldin_audit: the fold-in certificate (q_als_audit shape).
    * SQL-derivable anchors: template user id (max custkey with
    * interactions) and its observed-interaction count. Guarantees
    * asserted Spark-side, oracle emits TRUE:
    *  - `finite_ok`: the solved x_u is finite in every coordinate (a
    *    singular normal matrix is loud, not silent — λI makes it SPD);
    *  - `coverage_ok`: exactly [[AlsTopK]] recommendations with ranks
    *    1..K were emitted for the folded user;
    *  - `separation_ok`: mean ⟨x_u, yᵢ⟩ over the template's OBSERVED
    *    items exceeds the mean over unobserved probe items — the
    *    folded-in vector reproduces the implicit-ALS objective for a
    *    user the factor table never saw;
    *  - `align_ok`: cosine(x_u, trained factor of the template user)
    *    > 0.8 — the fold-in lands next to the full solve's answer for
    *    the same interaction list (measured ≈ 0.99; the slack absorbs
    *    MLlib's block-solver reg-weighting differences). */
  def qAlsFoldinAudit(s: SparkSession, dir: String): DataFrame = {
    val (tu, obs) = templateObs(s, dir)
    val x = foldInUser(s, dir, obs)
    val finiteOk = x.forall(v => !v.isNaN && !v.isInfinite)

    val recs = qAlsFoldin(s, dir).collect()
    val coverageOk = recs.length == AlsTopK &&
      recs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to AlsTopK)

    val xu = array(x.map(lit): _*)
    val itf = fit(s, dir).itemFactors.select(col("id").as("item"),
      transform(col("features"), v => v.cast("double")).as("iv"))
    val probes = interactions(s, dir).select("item").distinct()
      .orderBy(col("item").asc).limit(AlsProbeItems)
    val dot = aggregate(zip_with(xu, col("iv"), (a, b) => a * b),
      lit(0.0), (acc, v) => acc + v)
    // observed side = the template's own interaction list (ALL of it);
    // unobserved side = the probe block minus those items — the probe
    // block alone can miss every observed item at larger scales (it did
    // at sf0.1), which would compare an empty set
    val muObs = obs.join(itf, Seq("item"))
      .agg(avg(dot)).collect()(0).getDouble(0)
    val muUnobs = probes
      .join(obs.select("item"), Seq("item"), "left_anti")
      .join(itf, Seq("item"))
      .agg(avg(dot)).collect()(0).getDouble(0)
    val separationOk = muObs > muUnobs

    val trained = fit(s, dir).userFactors
      .filter(col("id") === tu.toInt).collect()
      .headOption.map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val alignOk = trained.exists { t =>
      val num = x.zip(t).map { case (a, b) => a * b }.sum
      val den = math.sqrt(x.map(v => v * v).sum) *
        math.sqrt(t.map(v => v * v).sum)
      den > 0 && num / den > 0.8
    }

    val nObs = obs.count()
    import s.implicits._
    Seq((tu, nObs, AlsRank.toLong, AlsTopK.toLong,
      finiteOk, coverageOk, separationOk, alignOk))
      .toDF("template_user", "n_obs", "k", "topk",
        "finite_ok", "coverage_ok", "separation_ok", "align_ok")
  }

  private lazy val qAlsFoldinAuditSql =
    s"""WITH ui AS (SELECT o_custkey AS u, l_partkey AS i
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1, 2),
       t AS (SELECT max(u) AS tu FROM ui)
       SELECT CAST(t.tu AS BIGINT) AS template_user,
         CAST((SELECT count(*) FROM ui WHERE ui.u = t.tu) AS BIGINT) AS n_obs,
         CAST($AlsRank AS BIGINT) AS k, CAST($AlsTopK AS BIGINT) AS topk,
         TRUE AS finite_ok, TRUE AS coverage_ok,
         TRUE AS separation_ok, TRUE AS align_ok
       FROM t"""

  override def registry: Seq[Q] = Seq(
    Q("q_als", qAls, Cert("q_als_audit"), Ml),
    Q("q_als_foldin", qAlsFoldin, Cert("q_als_foldin_audit"), Ml),
    Q("q_als_foldin_audit", qAlsFoldinAudit, Oracle(qAlsFoldinAuditSql), Ml),
    Q("q_als_audit", qAlsAudit, Oracle(qAlsAuditSql), Ml))
}
