package graft.operators

import graft.{Cert, Ml, Oracle, Q, QueryModule}
import graft.sources.Tables
import org.apache.spark.ml.classification._
import org.apache.spark.ml.feature.StandardScaler
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's supervised zoo (supervised_classifier.py) on MLlib:
  * LogisticRegression (≈ LR + SGD `log` loss — a loss-level identity;
  * the modified-huber SGD variant is its own first-class gradient
  * trainer, q_classify_sgdh), LinearSVC, NaiveBayes
  * (GaussianNB slot), RandomForest, GBT, DecisionTree, MLP, and a
  * broadcast brute-force KNN (no MLlib equivalent). StandardScaler before
  * linear models, class rebalancing via instance weights (the distributed
  * stand-in for class_weight='balanced'/SMOTE/Tomek — resampling driver
  * state doesn't scale; weights do), deterministic split by id hash,
  * binary F1 via Evaluation.confusionMetrics.
  *
  * Task: embeddings table, gold = (label < 5). Rows-only oracles
  * (iterative optimizers aren't SQL-expressible); seeds fixed.
  *
  * The reference's kernel SVC (rbf/poly, supervised_classifier
  * .py:316-334) has no EXACT MLlib equivalent — kernel methods need the
  * Gram matrix (quadratic in rows, inherently non-distributable at this
  * scale). Two coverages: LinearSVC (q_classify_svc, the linear member)
  * and random-Fourier-features + LinearSVC (q_classify_rbf — the
  * standard bounded RBF approximation, kernel contract SQL-anchored by
  * q_rbf_audit).
  */
object Classification extends QueryModule {

  val Seed = 42L

  /** The excluded-CONCEPTS holdout (supervised_classifier.py:546-561,
    * testModelonExcluded: documents excluded from the training corpus are
    * scored separately from the regular test split). Two whole label
    * concepts — 4 (gold-positive) and 9 (gold-negative) — never enter
    * train OR test; q_classify_excluded scores the train-fitted model on
    * them, answering the reference's question: does the classifier
    * generalize to concepts it never saw? */
  val ExcludedLabels: Seq[Int] = Seq(4, 9)

  /** features = scaled embedding vector; deterministic 80/20 split via
    * vec_id % 5 == 0 (test) over the non-excluded concepts — the
    * distributed analogue of train_test_split(random_state=42). */
  def dataset(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (train, test, _) = datasetAll(s, dir)
    (train, test)
  }

  /** The excluded-concepts partition, transformed with the TRAIN-fitted
    * scaler. The reference re-fits the scaler on the excluded set
    * (supervised_classifier.py:553-554, `scaler.fit_transform(X)`) — a
    * train-statistics leak deliberately NOT reproduced here: the model
    * saw train moments, so its inputs must be scaled by train moments. */
  def excludedSet(s: SparkSession, dir: String): DataFrame =
    datasetAll(s, dir)._3

  private def datasetAll(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    graft.ModelCache.getOrElseUpdate(s, s"clf.dataset:$dir")(buildDataset(s, dir))

  private def buildDataset(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        array_to_vector(transform(col("embedding"), x => x.cast("double"))).as("raw"),
        when(col("label") < 5, 1.0).otherwise(0.0).as("y"))
    val kept = base.filter(!col("label").isin(ExcludedLabels: _*)).drop("label")
    val excluded = base.filter(col("label").isin(ExcludedLabels: _*)).drop("label")
    val scaler = new StandardScaler().setInputCol("raw").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
    // scaler fit on train only (reference: fit_transform(train), transform(test))
    val train = kept.filter(col("vec_id") % 5 =!= 0)
    val test = kept.filter(col("vec_id") % 5 === 0)
    val sm = scaler.fit(train)
    // class_weight='balanced': w_c = n / (2 * n_c)
    val counts = train.groupBy("y").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    val wPos = n / (2.0 * counts.getOrElse(1.0, 1L))
    val wNeg = n / (2.0 * counts.getOrElse(0.0, 1L))
    val weighted = (df: DataFrame) => df.withColumn("w",
      when(col("y") === 1.0, wPos).otherwise(wNeg))
    (weighted(sm.transform(train)).cache(), weighted(sm.transform(test)).cache(),
      sm.transform(excluded).cache())
  }

  /** Train, predict on test, emit one metrics row via confusionMetrics. */
  private def metricsRow(name: String, predictions: DataFrame): DataFrame =
    Evaluation.confusionMetrics(
      predictions.select((col("prediction") === 1.0).as("pred"), (col("y") === 1.0).as("gold")))
      .select(lit(name).as("model"), col("*"))

  /** Memoize a MODEL-SIZED relation per (session, key) as collected rows:
    * every zoo query's confusion row is consumed twice per driver run —
    * once by its own query, once by the per-model q_classify_audit — and
    * without this each consumer would re-fit the model. Only for
    * relations that are a handful of rows (the fit's confusion), never
    * corpus-sized data. */
  private def cachedMetrics(s: SparkSession, key: String)
      (build: => DataFrame): DataFrame = {
    val (schema, rows) = graft.ModelCache.getOrElseUpdate(s, key) {
      val df = build
      (df.schema, df.collect().toIndexedSeq)
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, schema)
  }

  def qClassifyLr(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.metrics:$dir:logistic_regression")(buildClassifyLr(s, dir))

  private def buildClassifyLr(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    val m = new LogisticRegression().setLabelCol("y").setWeightCol("w")
      .setMaxIter(100).setRegParam(0.1).fit(train) // C=0.1 ≈ reference LR
    metricsRow("logistic_regression", m.transform(test))
  }

  /** q_classify_excluded: the excluded-concepts evaluation
    * (supervised_classifier.py:546-561) — the train-fitted LR scored on
    * the two held-out concepts with the TRAIN-fitted scaler (see
    * [[excludedSet]] for the scaler-leak divergence). Hash-gated the
    * audit way: the oracle recomputes the excluded partition's size and
    * gold positives from embeddings; `cells_ok` pins that the confusion
    * accounts for exactly that partition, `metrics_ok` that every emitted
    * ratio is a probability. The confusion VALUES stay spec-pinned
    * (iterative fit). */
  def qClassifyExcluded(s: SparkSession, dir: String): DataFrame = {
    val (train, _) = dataset(s, dir)
    val ex = excludedSet(s, dir)
    val m = new LogisticRegression().setLabelCol("y").setWeightCol("w")
      .setMaxIter(100).setRegParam(0.1).fit(train)
    val r = Evaluation.confusionMetrics(
      m.transform(ex)
        .select((col("prediction") === 1.0).as("pred"), (col("y") === 1.0).as("gold")))
      .collect().head
    val t = ex.agg(count(lit(1)).as("n"),
      sum(col("y")).cast("long").as("npos")).collect().head
    val (nEx, nExPos) = (t.getAs[Long]("n"), t.getAs[Long]("npos"))
    val cellsOk = r.getAs[Long]("tp") + r.getAs[Long]("fp") +
      r.getAs[Long]("tn") + r.getAs[Long]("fn") == nEx &&
      r.getAs[Long]("tp") + r.getAs[Long]("fn") == nExPos
    val metricsOk = Seq("precision", "recall", "accuracy", "f1").forall { c =>
      Option(r.getAs[java.lang.Double](c)).forall(v => v >= 0.0 && v <= 1.0)
    }
    import s.implicits._
    Seq((nEx, nExPos, cellsOk, metricsOk))
      .toDF("n_excluded", "n_excluded_pos", "cells_ok", "metrics_ok")
  }

  private lazy val qClassifyExcludedSql =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_excluded,
         CAST(sum(CASE WHEN label < 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_excluded_pos,
         TRUE AS cells_ok, TRUE AS metrics_ok
       FROM embeddings WHERE label IN (${ExcludedLabels.mkString(", ")})"""

  def qClassifySvc(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.metrics:$dir:linear_svc")(buildClassifySvc(s, dir))

  private def buildClassifySvc(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    val m = new LinearSVC().setLabelCol("y").setWeightCol("w")
      .setMaxIter(100).setTol(1e-3).fit(train)
    metricsRow("linear_svc", m.transform(test))
  }

  /** Dimensionality of the random-Fourier-feature map (D). Error of the
    * kernel estimate decays as 1/√D; at D=256 the per-pair std is ≤
    * 1/√D ≈ 0.06 — tight enough that the audit's thresholds are
    * meaningful while the projected design matrix stays n×256. */
  val RffDim = 256

  /** Probe-id ceiling for the kernel-approximation certificate: test
    * vectors with vec_id < 500 — a CONSTANT-size probe set (≤100
    * vectors, ≤4950 pairs) at every SF, the q_ann_pq_audit
    * scale-invariance rule. */
  val RffProbeMaxId = 500L

  /** Deterministic Rahimi–Recht random Fourier projection for the RBF
    * kernel k(x,y) = exp(−γ‖x−y‖²): W rows ~ N(0, 2γI), phases
    * b ~ U[0, 2π), both drawn from a FIXED-seed java.util.Random stream
    * (its nextGaussian/nextDouble algorithms are pinned by the JDK spec,
    * so the projection is bit-identical run to run and machine to
    * machine — the no-driver-RNG discipline's seeded exception, same as
    * KMeans setSeed). γ follows sklearn's gamma='scale' on standardized
    * features: 1/(d·Var[x]) = 1/d. Model-sized (D×d doubles). */
  private def rffPlanes(d: Int,
      gamma: Double): (Array[Array[Double]], Array[Double]) = {
    val rng = new scala.util.Random(Seed)
    val sd = math.sqrt(2.0 * gamma)
    val w = Array.fill(RffDim)(Array.fill(d)(rng.nextGaussian() * sd))
    val b = Array.fill(RffDim)(rng.nextDouble() * 2.0 * math.Pi)
    (w, b)
  }

  /** z(x) = √(2/D)·cos(Wx + b) as a UDF over the array-typed feature
    * column — the W matrix ships once per executor as a broadcast
    * variable (the q_bloom_audit discipline), and E[z(x)·z(y)] =
    * k(x,y), so a LINEAR model on z approximates the kernel machine.
    * γ defaults to sklearn's gamma='scale' on standardized features
    * (1/d); the kernel sweep passes the reference's explicit grid. The
    * Gaussian draws are SHARED across γ values (same seed, scaled by
    * √(2γ)) — common random numbers, so sweep cells differ only by
    * bandwidth, never by draw. */
  private def rffMap(s: SparkSession, d: Int, gammaOpt: Option[Double] = None) = {
    val (w, b) = rffPlanes(d, gammaOpt.getOrElse(1.0 / d))
    val bcW = s.sparkContext.broadcast(w)
    val bcB = s.sparkContext.broadcast(b)
    val scale = math.sqrt(2.0 / RffDim)
    udf((x: Seq[Double]) => {
      val xa = x.toArray
      val ww = bcW.value; val bb = bcB.value
      Array.tabulate(RffDim) { i =>
        val wi = ww(i); var acc = 0.0; var j = 0
        while (j < xa.length) { acc += wi(j) * xa(j); j += 1 }
        scale * math.cos(acc + bb(i))
      }
    })
  }

  /** q_classify_rbf: kernel (RBF) SVC via random Fourier features +
    * LinearSVC — the honest DISTRIBUTED equivalent of the reference's
    * SVC(kernel='rbf') (supervised_classifier.py:316-334). An exact
    * kernel SVC needs the n×n Gram matrix (quadratic in rows — the
    * documented divergence above); the RFF map is the standard bounded
    * workaround: project once (map-only, no shuffle), then the existing
    * linear path. q_rbf_audit SQL-anchors the map's kernel contract. */
  def qClassifyRbf(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.metrics:$dir:svc_rbf")(buildClassifyRbf(s, dir))

  private def buildClassifyRbf(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    val d = train.select(vector_to_array(col("features")).as("x"))
      .head.getSeq[Double](0).size
    val rff = rffMap(s, d)
    val z = (df: DataFrame) => df.withColumn("zfeat",
      array_to_vector(rff(vector_to_array(col("features")))))
    val m = new LinearSVC().setLabelCol("y").setWeightCol("w")
      .setFeaturesCol("zfeat").setMaxIter(100).setTol(1e-3).fit(z(train))
    metricsRow("svc_rbf", m.transform(z(test)))
  }

  /** q_rbf_audit: random-Fourier-feature kernel certificate — the
    * q_minhash_audit pattern applied to the RFF map. SQL-derivable
    * anchors: the vec_id%5 split sizes, the input dimensionality (len
    * of the embedding array), D, and the probe-pair count over the
    * constant vec_id<500 test window. Guarantees (Spark-side, oracle
    * asserts TRUE): every projected vector has exactly D components
    * with ‖z‖² ≤ 2 (each z_i ∈ [−√(2/D), √(2/D)] by construction —
    * `norm_ok` catches a broken scale), and over every probe pair
    * |z(x)·z(y) − exp(−γ‖x−y‖²)| has MAE ≤ 0.1 and max ≤ 0.4 — at
    * D=256 an honest map lands well inside both (per-pair std ≈ 0.06),
    * while a transposed W, a lost phase, or a mis-scaled γ blows
    * through them. The pair join is a bounded nested-loop over ≤100
    * broadcast rows — constant work at any SF. */
  def qRbfAudit(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    val dAgg = Tables.embeddings(s, dir)
      .agg(min(size(col("embedding"))).as("dmin"),
        max(size(col("embedding"))).as("dmax"),
        count(lit(1)).as("n")).head
    val d = dAgg.getAs[Int]("dmax")
    val gamma = 1.0 / d
    val rff = rffMap(s, d)
    val nTrain = train.count(); val nTest = test.count()
    val all = train.select(col("vec_id"), col("features"))
      .unionByName(test.select(col("vec_id"), col("features")))
      .select(col("vec_id"), vector_to_array(col("features")).as("x"))
      .withColumn("z", rff(col("x")))
    val zs = all.agg(
      min(size(col("z"))).as("zdmin"), max(size(col("z"))).as("zdmax"),
      max(SimilaritySearch.dot(col("z"), col("z"))).as("zn2max")).head
    val probes = all.filter(col("vec_id") % 5 === 0 &&
      col("vec_id") < RffProbeMaxId)
    val d2 = SimilaritySearch.dot(col("xa"), col("xa")) +
      SimilaritySearch.dot(col("xb"), col("xb")) -
      SimilaritySearch.dot(col("xa"), col("xb")) * 2.0
    val err = abs(SimilaritySearch.dot(col("za"), col("zb")) -
      exp(lit(-gamma) * d2))
    val ke = probes
      .select(col("vec_id").as("a_id"), col("x").as("xa"), col("z").as("za"))
      .join(broadcast(probes.select(col("vec_id").as("b_id"),
        col("x").as("xb"), col("z").as("zb"))), col("a_id") < col("b_id"))
      .agg(count(lit(1)).as("n_pairs"), avg(err).as("mae"),
        max(err).as("emax")).head
    val dimsOk = dAgg.getAs[Int]("dmin") == d &&
      zs.getAs[Int]("zdmin") == RffDim && zs.getAs[Int]("zdmax") == RffDim
    val normOk = zs.getAs[Double]("zn2max") <= 2.0 + 1e-9
    val nPairs = ke.getAs[Long]("n_pairs")
    val maeOk = nPairs > 0 && ke.getAs[Double]("mae") <= 0.1
    val maxOk = nPairs > 0 && ke.getAs[Double]("emax") <= 0.4
    import s.implicits._
    Seq((nTrain, nTest, d.toLong, RffDim.toLong, nPairs,
      dimsOk, normOk, maeOk, maxOk))
      .toDF("n_train", "n_test", "d_in", "rff_dim", "n_pairs",
        "dims_ok", "norm_ok", "kernel_mae_ok", "kernel_max_ok")
  }

  private lazy val qRbfAuditSql =
    s"""WITH e AS (SELECT vec_id, len(embedding) AS d FROM embeddings
             WHERE label NOT IN (${ExcludedLabels.mkString(", ")})),
       p AS (SELECT vec_id FROM e
             WHERE vec_id % 5 = 0 AND vec_id < $RffProbeMaxId),
       pc AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs
              FROM p a JOIN p b ON a.vec_id < b.vec_id)
       SELECT
         CAST(sum(CASE WHEN vec_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_test,
         CAST(max(d) AS BIGINT) AS d_in,
         CAST($RffDim AS BIGINT) AS rff_dim,
         (SELECT n_pairs FROM pc) AS n_pairs,
         TRUE AS dims_ok, TRUE AS norm_ok,
         TRUE AS kernel_mae_ok, TRUE AS kernel_max_ok
       FROM e"""

  /** Iteration budget of the modified-huber trainer (GRAFT_SGDH_ITERS;
    * the reference caps at max_iter=10000 with tol early-stop — at α=1
    * strong convexity the 1/(α(t+t₀)) schedule is already inside the
    * optimum's noise floor long before 100). */
  def sgdHuberIters: Int =
    sys.env.get("GRAFT_SGDH_ITERS").map(_.toInt).getOrElse(100)

  /** sklearn's SGDClassifier(alpha=1, loss='modified_huber') L2 weight. */
  val SgdHuberAlpha = 1.0

  /** Distributed full-batch gradient trainer for the modified-huber loss
    * (Zhang 2004's smoothed hinge with probability estimates):
    * L(z) = 0 for z ≥ 1, (1−z)² for −1 ≤ z < 1, −4z for z < −1, with
    * z = y·(w·x + b), instance-weighted + α/2·‖w‖² exactly like
    * sklearn's objective. Each iteration is ONE codegen'd aggregation
    * over the cached training relation — the dot product and the d+1
    * gradient sums are plain column expressions, so a pass is a single
    * map-side-combined job and only d+1 doubles reach the driver
    * (LBFGS-style scan count, the scalable shape at any corpus size; the
    * reference's sequential per-sample SGD cannot shard). Deterministic
    * up to FP summation order: no RNG anywhere — full-batch gradients
    * from w₀ = 0 with the 1/(α(t+t₀)) sklearn 'optimal'-style schedule —
    * but the d+1 plain sum() columns merge across partitions in
    * scheduler order, so the trajectory is bit-reproducible only at a
    * fixed partition count (parts tracks data size AND
    * defaultParallelism below). The repo's ordered-fold discipline would
    * buy byte-stability across cluster sizes, at the cost of a
    * collect_list of the full training relation per iteration — not paid
    * here; the gate is rows-only and q_classify_audit anchors the
    * confusion accounting, not the weight bytes. Returns (w, b). */
  private[graft] def fitModifiedHuber(tr: DataFrame, d: Int,
      iters: Int, alpha: Double): (Array[Double], Double) = {
    // partition count sized to the data (~100k rows per task): the loop
    // schedules `iters` jobs over this relation, so a tiny corpus must
    // not pay 32 near-empty tasks per pass while a 100 TB corpus still
    // fans out to the cluster's full parallelism
    val n = tr.count()
    val parts = math.min(
      math.max(1L, n / 100000L + 1L),
      tr.sparkSession.sparkContext.defaultParallelism.toLong).toInt
    val cached = tr.repartition(parts)
      .cache()
    try {
      val sumW = cached.agg(sum(col("w"))).head.getDouble(0)
      var wv = Array.fill(d)(0.0)
      var b = 0.0
      // step schedule: eta_t = 1/(alpha·(t + t0)), t0 ≈ curvature/alpha
      // (2·d from the (1−z)² branch over unit-scaled features) — the
      // standard strongly-convex rate, stable from the first step
      val t0 = math.max(1.0, 2.0 * d / alpha)
      for (t <- 0 until iters) {
        val z = col("ys") * (SimilaritySearch.dot(col("x"),
          array(wv.map(lit): _*)) + b)
        val c = when(z >= 1.0, 0.0)
          .when(z >= -1.0, (z - 1.0) * 2.0)
          .otherwise(-4.0)
        val g = col("w") * c * col("ys")
        val sums = cached.agg(
          sum(g).as("gb"),
          (0 until d).map(j => sum(g * col("x")(j)).as(s"g$j")): _*).head
        val eta = 1.0 / (alpha * (t + t0))
        var j = 0
        while (j < d) {
          wv(j) -= eta * (sums.getAs[Double](s"g$j") / sumW + alpha * wv(j))
          j += 1
        }
        b -= eta * (sums.getAs[Double]("gb") / sumW)
      }
      (wv, b)
    } finally cached.unpersist()
  }

  /** q_classify_sgdh: the SGD modified-huber zoo member
    * (supervised_classifier.py:268-290: SGDClassifier(alpha=1,
    * loss='modified_huber', class_weight='balanced')) as a FIRST-CLASS
    * gradient implementation — `log` loss ≡ LR folds into
    * q_classify_lr, but modified huber is a genuinely different loss
    * (smoothed hinge), so it gets its own trainer instead of a
    * documented substitution. Full-batch distributed GD (see
    * [[fitModifiedHuber]]); predict = sign of the decision function,
    * sklearn's contract. Rows-only gate; the widened q_classify_audit
    * carries its accounting row. */
  def qClassifySgdHuber(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.metrics:$dir:sgd_modified_huber")(buildClassifySgdHuber(s, dir))

  private def buildClassifySgdHuber(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    // measured from the data like the sibling RBF path — a hardcoded
    // SimilaritySearch.Dim would silently truncate the dot / read nulls
    // if the feature assembly ever widened
    val d = train.select(vector_to_array(col("features")).as("x"))
      .head.getSeq[Double](0).size
    val tr = train.select(vector_to_array(col("features")).as("x"),
      (col("y") * 2.0 - 1.0).as("ys"), col("w"))
    val (wv, b) = fitModifiedHuber(tr, d, sgdHuberIters, SgdHuberAlpha)
    val dec = SimilaritySearch.dot(vector_to_array(col("features")),
      array(wv.map(lit): _*)) + b
    metricsRow("sgd_modified_huber",
      test.withColumn("prediction", when(dec > 0.0, 1.0).otherwise(0.0)))
  }

  def qClassifyNb(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.metrics:$dir:gaussian_nb")(buildClassifyNb(s, dir))

  private def buildClassifyNb(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    // gaussian NB over scaled (± ) features
    val m = new NaiveBayes().setLabelCol("y").setModelType("gaussian").fit(train)
    metricsRow("gaussian_nb", m.transform(test))
  }

  def qClassifyRf(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.metrics:$dir:random_forest")(buildClassifyRf(s, dir))

  private def buildClassifyRf(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    val m = new RandomForestClassifier().setLabelCol("y").setSeed(Seed)
      .setNumTrees(100).fit(train) // reference uses 1000; 100 is the same op
    metricsRow("random_forest", m.transform(test))
  }

  def qClassifyGbt(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.metrics:$dir:gradient_boosting")(buildClassifyGbt(s, dir))

  private def buildClassifyGbt(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    val m = new GBTClassifier().setLabelCol("y").setSeed(Seed)
      .setMaxIter(20).fit(train)
    metricsRow("gradient_boosting", m.transform(test))
  }

  def qClassifyDt(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.metrics:$dir:decision_tree")(buildClassifyDt(s, dir))

  private def buildClassifyDt(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    val m = new DecisionTreeClassifier().setLabelCol("y").setSeed(Seed).fit(train)
    metricsRow("decision_tree", m.transform(test))
  }

  def qClassifyMlp(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.metrics:$dir:mlp")(buildClassifyMlp(s, dir))

  private def buildClassifyMlp(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    val m = new MultilayerPerceptronClassifier().setLabelCol("y").setSeed(Seed)
      .setLayers(Array(64, 32, 2)).setMaxIter(60).fit(train)
    metricsRow("mlp", m.transform(test))
  }

  /** Sign-bucket a feature-vector column: one (id, tbl, bucket) row per
    * vector per LSH table — the SAME hyperplane family and implementation
    * as q_ann_lsh (SimilaritySearch.signBuckets), so the two can never
    * silently desynchronize. Scaled features, not raw embeddings, so the
    * persisted embedding posting is not reusable here. `planes` must be
    * derived ONCE per consumer from its shared corpus size
    * (SimilaritySearch.adaptivePlanes) and passed to EVERY side of a
    * candidate equi-join — per-side adaptation would desync bucket
    * spaces and silently drop all collisions. Below the adaptive floor
    * (every test SF) this is the historical 6-plane posting. */
  private def featureBuckets(df: DataFrame, idCol: String,
      planes: Int = SimilaritySearch.NPlanes): DataFrame =
    SimilaritySearch.signBuckets(df.withColumnRenamed("fv", "v"), idCol,
      nPlanes = planes)
      .select(col(idCol), col("tbl"), col("bucket"))

  /** Top-5-by-cosine vote per query over candidate rows
    * (q_id, y, ty, cos, t_id): majority of the RETRIEVED neighbors —
    * LSH buckets can return fewer than 5 candidates, so a fixed ≥3 cutoff
    * would bias thin-candidate queries negative (a query with 2/2 positive
    * neighbors must predict positive). Ties (impossible with an odd
    * retrieved count, possible with an even one) resolve negative. */
  def voteOf(scored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("t_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .groupBy("q_id", "y")
      .agg((sum(col("ty")) * 2 > count(lit(1))).cast("double").as("prediction"))
  }

  /** KNN (k=5, cosine vote) via LSH-bucketed candidate generation: train and
    * test both post sign-buckets, candidates are bucket collisions (an
    * equi-join on (tbl, bucket) — the test split is PROPORTIONAL to the
    * corpus, so broadcasting it does not survive 100 TB), exact cosine
    * re-ranks the candidates, top-5 vote. Test rows with no collision fall
    * back to the majority train class, so every query is still scored. */
  def qClassifyKnn(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.metrics:$dir:knn_5")(buildClassifyKnn(s, dir))

  private def buildClassifyKnn(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    val tr = train.select(col("vec_id").as("t_id"),
      vector_to_array(col("features")).as("fv"), col("y").as("ty"))
    val te = test.select(col("vec_id").as("q_id"),
      vector_to_array(col("features")).as("fv"), col("y"))
    // ONE plane count from the train-corpus size, shared by both join
    // sides (bucket spaces must agree for collisions to exist)
    val planes = SimilaritySearch.adaptivePlanes(tr.count())
    val cand = featureBuckets(tr.select(col("t_id"), col("fv")), "t_id", planes)
      .join(featureBuckets(te.select(col("q_id"), col("fv")), "q_id", planes),
        Seq("tbl", "bucket"))
      .select("q_id", "t_id").distinct()
    val scored = cand
      .join(te.select(col("q_id"), col("fv").as("qv"), col("y")), Seq("q_id"))
      .join(tr.select(col("t_id"), col("fv").as("tv"), col("ty")), Seq("t_id"))
      .select(col("q_id"), col("y"), col("ty"),
        SimilaritySearch.cosine(col("qv"), col("tv")).as("cos"), col("t_id"))
    val votes = voteOf(scored)
    val majority = tr.groupBy("ty").count()
      .orderBy(col("count").desc, col("ty").asc).head().getDouble(0)
    val unmatched = te.join(votes.select("q_id"), Seq("q_id"), "left_anti")
      .select(col("q_id"), col("y"), lit(majority).as("prediction"))
    metricsRow("knn_5", votes.select("q_id", "y", "prediction").unionByName(unmatched))
  }

  /** q_classify_lr_us: undersample-majority rebalancing — the distributed
    * stand-in for TomekLinks/random undersampling (supervised_classifier
    * .py:578-624): keep a deterministic hash-selected fraction of the
    * majority class so classes balance, then fit unweighted LR. No driver
    * resampling state; the filter is partition-local and reproducible. */
  def qClassifyLrUndersample(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.metrics:$dir:lr_undersampled")(buildClassifyLrUndersample(s, dir))

  private def buildClassifyLrUndersample(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    val counts = train.groupBy("y").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val (majY, majN) = counts.maxBy(_._2)
    val minN = counts.minBy(_._2)._2
    val keep = train.filter(col("y") =!= majY ||
      pmod(xxhash64(col("vec_id")), lit(majN)) < lit(minN))
    val m = new LogisticRegression().setLabelCol("y")
      .setMaxIter(100).setRegParam(0.1).fit(keep)
    metricsRow("lr_undersampled", m.transform(test))
  }

  /** SMOTE-augmented training set (supervised_classifier.py:578-624's
    * imblearn SMOTE, re-expressed for a cluster): for every minority-class
    * training row, the nearest SAME-class neighbor is found among LSH
    * bucket collisions (sklearn's exact minority KNN is quadratic; the
    * sign-hyperplane buckets are the same family as q_ann_lsh and bound
    * candidates at any scale), and a synthetic row is interpolated at
    * x + u·(x_nn − x) with u a content-hash uniform in [0,1) — no driver
    * RNG, bit-reproducible run to run. Each minority row synthesizes
    * ceil(need/minN) replicas (distinct u per replica); the last partial
    * replica is cut to EXACTLY need = majN − minN rows by a distributed
    * global rank over a hash order (Ranks.globalRowNumber — no take/limit
    * on the driver), so the augmented classes balance exactly, matching
    * imblearn's contract. Bucket-orphan minority rows (no candidate) fall
    * back to duplicating themselves — plain random oversampling, which is
    * what SMOTE degenerates to with zero neighbors.
    * Returns (augmented train, minority label). */
  private[graft] def smoteAugmented(s: SparkSession, dir: String): (DataFrame, Double) = {
    val (train, _) = dataset(s, dir)
    val counts = train.groupBy("y").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val (majY, majN) = counts.maxBy(_._2)
    val (minY, minN) = counts.filter(_._1 != majY).minBy(_._2)
    val need = majN - minN
    val base = train.select(col("vec_id"), col("features"), col("y"))
    if (need == 0L) return (base, minY)

    val mino = train.filter(col("y") === minY)
      .select(col("vec_id"), vector_to_array(col("features")).as("fv"))
    val planes = SimilaritySearch.adaptivePlanes(minN)
    val cand = featureBuckets(mino.select(col("vec_id").as("a_id"), col("fv")), "a_id", planes)
      .join(featureBuckets(mino.select(col("vec_id").as("b_id"), col("fv")), "b_id", planes),
        Seq("tbl", "bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct()
    // deterministic nearest neighbor: min (squared euclidean, b_id)
    val d2 = SimilaritySearch.dot(col("av"), col("av")) +
      SimilaritySearch.dot(col("bv"), col("bv")) -
      SimilaritySearch.dot(col("av"), col("bv")) * 2.0
    val nn = cand
      .join(mino.select(col("vec_id").as("a_id"), col("fv").as("av")), Seq("a_id"))
      .join(mino.select(col("vec_id").as("b_id"), col("fv").as("bv")), Seq("b_id"))
      .select(col("a_id"), struct(d2.as("d2"), col("b_id")).as("cd"))
      .groupBy("a_id").agg(min(col("cd")).getField("b_id").as("nn_id"))
    val nRep = ((need + minN - 1) / minN).toInt
    val fullRep = (need / minN).toInt
    val rem = need % minN
    val replicas = mino.select(col("vec_id").as("a_id"), col("fv"))
      .join(nn, Seq("a_id"), "left_outer")
      .join(mino.select(col("vec_id").as("nn_id"), col("fv").as("nv")), Seq("nn_id"), "left_outer")
      .select(col("a_id"), col("fv"), coalesce(col("nv"), col("fv")).as("nv"),
        explode(sequence(lit(0), lit(nRep - 1))).as("rep"))
    val keepFull = replicas.filter(col("rep") < fullRep)
    val partial =
      if (rem == 0L) keepFull.limit(0)
      else graft.functions.Ranks.globalRowNumber(
        replicas.filter(col("rep") === fullRep),
        xxhash64(col("a_id")).asc, col("a_id").asc)
        .filter(col("rn") <= rem).drop("rn")
    val u = conv(substring(md5(concat_ws("_", col("a_id"), col("rep"))), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0) // 2^52
    val synth = keepFull.unionByName(partial)
      .select(col("a_id"), col("rep"),
        zip_with(col("fv"), col("nv"), (x, y) => x + u * (y - x)).as("sv"))
      .select(lit(-1L).as("vec_id"),
        array_to_vector(col("sv")).as("features"), lit(minY).as("y"))
    (base.unionByName(synth), minY)
  }

  /** q_classify_smote: unweighted LR on the SMOTE-balanced training set —
    * closes the reference's third rebalancing strategy (class weights and
    * undersampling are q_classify_lr / q_classify_lr_us). */
  def qClassifySmote(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.metrics:$dir:lr_smote")(buildClassifySmote(s, dir))

  private def buildClassifySmote(s: SparkSession, dir: String): DataFrame = {
    val (aug, _) = smoteAugmented(s, dir)
    val (_, test) = dataset(s, dir)
    val m = new LogisticRegression().setLabelCol("y")
      .setMaxIter(100).setRegParam(0.1).fit(aug)
    metricsRow("lr_smote", m.transform(test))
  }

  /** q_clf_param_sweep: the BayesSearchCV analogue (supervised_classifier
    * .py:210-244, 493-524) as a deterministic grid — one LR fit per
    * (regParam, elasticNet) cell, each fit fully distributed, scored on the
    * held-out split by F1. Emits the whole grid with the argmax flagged.
    *
    * INTENTIONAL DIVERGENCE from the reference: skopt's BayesSearchCV
    * samples the space adaptively (GP surrogate); a distributed engine
    * prefers the deterministic grid — same argmax contract, reproducible
    * run-to-run (no surrogate RNG), and cells are embarrassingly parallel
    * across a cluster instead of sequential by acquisition. */
  /** The declared (regParam, elasticNet) lattice — ONE definition shared
    * by the sweep, its audit and the audit's oracle SQL (a drifted copy
    * would let the certificate certify a different grid than the sweep
    * scores). */
  val ClfGrid: Seq[(Double, Double)] = for {
    reg <- Seq(0.01, 0.1, 1.0)
    en <- Seq(0.0, 0.5)
  } yield (reg, en)

  def qClfParamSweep(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.sweep:$dir")(buildClfParamSweep(s, dir))

  private def buildClfParamSweep(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    val scores = ClfGrid.map { case (reg, en) =>
      val m = new LogisticRegression().setLabelCol("y").setWeightCol("w")
        .setMaxIter(100).setRegParam(reg).setElasticNetParam(en).fit(train)
      // confusionMetrics emits NULL f1 when 2tp+fp+fn = 0 (degenerate
      // cell); getAs[Double] would silently unbox that to 0.0 — read
      // boxed and keep the Option so a degenerate cell scores below every
      // real one and surfaces as NULL in the output
      val f1 = Option(Evaluation.confusionMetrics(
        m.transform(test)
          .select((col("prediction") === 1.0).as("pred"), (col("y") === 1.0).as("gold")))
        .head().getAs[java.lang.Double]("f1"))
        .map(v => math.rint(v.doubleValue * 1e6) / 1e6)
      (reg, en, f1)
    }
    val best = scores.maxBy(_._3.getOrElse(-1.0))
    import s.implicits._
    scores.toDF("reg_param", "elastic_net", "f1")
      .select(col("reg_param"), col("elastic_net"), col("f1"),
        (col("reg_param") === best._1 && col("elastic_net") === best._2).as("selected"))
  }

  /** q_clf_param_sweep_audit: sweep accounting certificate (the
    * q_model_select_audit pattern applied to the classifier grid —
    * supervised_classifier.py:493-524's search space). The oracle
    * re-emits the declared lattice; guarantees per cell: `lattice_ok`
    * (global) — the scored coordinate multiset equals [[ClfGrid]]
    * exactly (a dropped, duplicated or off-lattice cell fails every
    * row AND the row-count gate), `range_ok` — the cell's F1 is NULL
    * (degenerate split) or in [0,1], `argmax_ok` (global) — exactly
    * one cell is selected and it carries the maximum F1. Model-sized
    * collect (|grid| rows). */
  def qClfParamSweepAudit(s: SparkSession, dir: String): DataFrame = {
    val rows = qClfParamSweep(s, dir).collect()
    val coords = rows.toSeq.map(r =>
      (r.getAs[Double]("reg_param"), r.getAs[Double]("elastic_net")))
    val latticeOk = coords.sorted == ClfGrid.sorted
    val f1s = rows.flatMap(r =>
      Option(r.getAs[java.lang.Double]("f1")).map(_.doubleValue))
    val sel = rows.filter(_.getAs[Boolean]("selected"))
    val argmaxOk = sel.length == 1 && f1s.nonEmpty &&
      Option(sel(0).getAs[java.lang.Double]("f1")).map(_.doubleValue)
        .contains(f1s.max)
    import s.implicits._
    rows.toSeq.map { r =>
      val f1 = Option(r.getAs[java.lang.Double]("f1")).map(_.doubleValue)
      (r.getAs[Double]("reg_param"), r.getAs[Double]("elastic_net"),
        latticeOk, f1.forall(v => v >= 0.0 && v <= 1.0), argmaxOk)
    }.toDF("reg_param", "elastic_net", "lattice_ok", "range_ok", "argmax_ok")
  }

  private lazy val qClfParamSweepAuditSql = {
    val cells = ClfGrid.map { case (reg, en) =>
      s"(CAST($reg AS DOUBLE), CAST($en AS DOUBLE), TRUE, TRUE, TRUE)"
    }
    s"""SELECT * FROM (VALUES ${cells.mkString(", ")})
         AS t(reg_param, elastic_net, lattice_ok, range_ok, argmax_ok)"""
  }

  /** Evaluation budget of the Bayesian sweep (reference: BayesSearchCV
    * n_iter=30 — supervised_classifier.py:233; trimmed at test SF, raise
    * via GRAFT_BAYES_ITERS on a cluster, same loop). */
  def bayesIters: Int =
    sys.env.get("GRAFT_BAYES_ITERS").map(_.toInt).getOrElse(14)

  /** q_bayes_sweep: seeded sequential-model-based hyper-parameter search
    * over (regParam, elasticNet) — the reference's ACTUAL optimizer is
    * Bayesian, not a grid (skopt BayesSearchCV, scoring='f1',
    * random_state pinned: supervised_classifier.py:227-235, 507-515;
    * C is Real(1e-5, 100, 'log-uniform') — the same log-uniform span
    * here as regParam = 10^x, x ∈ [-5, 2]). The q_clf_param_sweep GRID
    * is the warm-start design (evaluate the coarse grid first, then
    * refine — so the search matches the grid argmax by construction and
    * spends its remaining budget where the surrogate says improvement is
    * likely; F1 over confusion counts is a cliffy landscape, and a
    * cold-started smooth surrogate can stall on a plateau while the grid
    * sits on a ridge). A GP-EI loop (Smbo.maximize: fixed candidate
    * lattice, exact tie-breaks — fully deterministic, no RNG) proposes
    * each next point; every objective evaluation is one distributed LR
    * fit + F1 score. The surrogate is driver-side and model-sized (n ≤
    * budget points); the data never leaves the cluster. Emits the full
    * trajectory with the argmax flagged; Round10Spec pins the
    * matches-or-beats-the-grid contract and that EI leaves the grid.
    * Rows-only gate (iterative ML). */
  def qBayesSweep(s: SparkSession, dir: String): DataFrame =
    cachedMetrics(s, s"clf.bayes:$dir")(buildBayesSweep(s, dir))

  /** Warm-start design size of the Bayesian sweep (the q_clf_param_sweep
    * grid: 3 regParam decades × 2 elasticNet points). */
  val BayesInitN = 6

  /** q_bayes_audit: SMBO trajectory certificate — the hyper-parameter
    * search's bookkeeping, SQL-anchored (the q_cv_audit shape): the
    * oracle re-emits the full iteration sequence with its declared
    * phase split (warm-start grid first, EI refinements after — both
    * env-aware via GRAFT_BAYES_ITERS). Guarantees per row:
    * `lattice_ok` — the emitted phase matches the declared split AND
    * the proposed point sits inside the reference's search space
    * (C ∈ [1e-5, 100] log-uniform, elasticNet ∈ [0, 1] —
    * supervised_classifier.py:227-235; a surrogate proposing outside
    * the space is a real optimizer bug), and `argmax_ok` (global) —
    * exactly one trajectory point is selected and no point beats its
    * F1. The sweep's fits are memoized, so audit and sweep consume one
    * trajectory. */
  def qBayesAudit(s: SparkSession, dir: String): DataFrame = {
    val rows = qBayesSweep(s, dir).collect()
    val f1s = rows.flatMap(r =>
      Option(r.getAs[java.lang.Double]("f1")).map(_.doubleValue))
    val sel = rows.filter(_.getAs[Boolean]("selected"))
    val argmaxOk = sel.length == 1 && f1s.nonEmpty &&
      Option(sel(0).getAs[java.lang.Double]("f1")).map(_.doubleValue)
        .contains(f1s.max)
    import s.implicits._
    rows.sortBy(_.getAs[Int]("iter")).map { r =>
      val i = r.getAs[Int]("iter")
      val phase = r.getAs[String]("phase")
      val phaseOk = phase == (if (i < BayesInitN) "init" else "ei")
      val boundsOk = r.getAs[Double]("reg_param") >= 1e-5 - 1e-15 &&
        r.getAs[Double]("reg_param") <= 100.0 + 1e-9 &&
        r.getAs[Double]("elastic_net") >= 0.0 &&
        r.getAs[Double]("elastic_net") <= 1.0
      (i, phase, phaseOk && boundsOk, argmaxOk)
    }.toSeq.toDF("iter", "phase", "lattice_ok", "argmax_ok")
  }

  private lazy val qBayesAuditSql =
    s"""SELECT iter,
         CASE WHEN iter < $BayesInitN THEN 'init' ELSE 'ei' END AS phase,
         TRUE AS lattice_ok, TRUE AS argmax_ok
       FROM (SELECT CAST(unnest(generate_series(0, ${bayesIters - 1})) AS INT) AS iter)"""

  private def buildBayesSweep(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    def f1Of(reg: Double, en: Double): Option[Double] = {
      val m = new LogisticRegression().setLabelCol("y").setWeightCol("w")
        .setMaxIter(100).setRegParam(reg).setElasticNetParam(en).fit(train)
      Option(Evaluation.confusionMetrics(
        m.transform(test)
          .select((col("prediction") === 1.0).as("pred"), (col("y") === 1.0).as("gold")))
        .head().getAs[java.lang.Double]("f1"))
        .map(v => math.rint(v.doubleValue * 1e6) / 1e6)
    }
    // raw params are (log10 regParam, elasticNet); warm start = the
    // q_clf_param_sweep grid {0.01, 0.1, 1.0} × {0.0, 0.5}; lattice 29×11
    val init = for {
      x <- Seq(-2.0, -1.0, 0.0); e <- Seq(0.0, 0.5)
    } yield Array(x, e)
    val candidates = for {
      x <- -20 to 8; e <- 0 to 10
    } yield Array(x * 0.25, e * 0.1)
    val lo = Array(-5.0, 0.0); val hi = Array(2.0, 1.0)
    val norm = (p: Array[Double]) =>
      Array.tabulate(2)(i => (p(i) - lo(i)) / (hi(i) - lo(i)))
    val traj = graft.functions.Smbo.maximize(init, candidates, bayesIters,
      norm, p => f1Of(math.pow(10.0, p(0)), p(1)))
    val best = traj.zipWithIndex
      .maxBy { case (e, i) => (e.value.getOrElse(-1.0), -i) }._2
    import s.implicits._
    traj.zipWithIndex.map { case (e, i) =>
      (i, math.rint(math.pow(10.0, e.params(0)) * 1e9) / 1e9, e.params(1),
        e.value, if (e.init) "init" else "ei", i == best)
    }.toDF("iter", "reg_param", "elastic_net", "f1", "phase", "selected")
  }

  /** k of the CV family: GRAFT_CV_K (default 5 at test SF; the reference
    * runs StratifiedKFold(kfold=10) — set GRAFT_CV_K=10 to replay it,
    * same code path). */
  def cvK: Int = sys.env.get("GRAFT_CV_K").map(_.toInt).getOrElse(5)

  /** Deterministic StratifiedKFold twin (supervised_classifier.py:629:
    * StratifiedKFold(kfold, shuffle=True, random_state=42)): within each
    * class, rows rank in a content-keyed shuffle order (md5 of the id —
    * the reproducible analogue of shuffle+seed, computable verbatim by
    * the DuckDB oracle) and fold = rank % k, which puts ⌈n_c/k⌉ or
    * ⌊n_c/k⌋ rows of EVERY class in every fold — sklearn's
    * stratification contract (per-class fold counts differ by ≤ 1).
    * The per-class rank is the distributed ranking (Ranks.globalRowNumber
    * over (y, h, id), minus broadcast per-class offsets — the classes
    * are contiguous runs of the global order), never a single-partition
    * window: the 100 TB path. `df` must carry unique `vec_id` and the
    * class column `y`. */
  private[graft] def stratifiedFolds(df: DataFrame, k: Int): DataFrame = {
    val ranked = graft.functions.Ranks.globalRowNumber(
      df.withColumn("h", md5(col("vec_id").cast("string"))),
      col("y").asc, col("h").asc, col("vec_id").asc)
    val counts = df.groupBy("y").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (y, n) => val o = acc; acc += n; (y, o) }
    val offExpr = offsets.foldLeft(lit(0L)) { case (e, (y, o)) =>
      when(col("y") === y, o).otherwise(e) }
    ranked.withColumn("fold", ((col("rn") - 1L - offExpr) % k).cast("int"))
      .drop("rn", "h")
  }

  /** q_cv_train: REAL k-fold cross-validation for LogisticRegression
    * (supervised_classifier.py:629-691): per fold, the scaler AND the model
    * fit on the other k-1 folds only, then score the held-out fold; emits
    * one confusion row per fold plus the mean-F1 summary row (fold = -1).
    * Folds are the deterministic stratified assignment above. The per-fold
    * loop is driver-side by nature (k sequential fits — the reference's
    * StratifiedKFold loop); each fit/eval is fully distributed and only
    * the 8 confusion counts per fold ever reach the driver. The CV corpus
    * excludes [[ExcludedLabels]] exactly like the zoo's dataset(): in the
    * reference, excluded documents never enter train_corpus at all
    * (supervised_classifier.py:118-150), so its StratifiedKFold loop never
    * sees them either — the CV family and the zoo model the SAME corpus
    * composition. */
  def qCvTrain(s: SparkSession, dir: String): DataFrame = {
    val k = cvK
    val base = stratifiedFolds(
      Tables.embeddings(s, dir)
        .filter(!col("label").isin(ExcludedLabels: _*))
        .select(col("vec_id"),
          array_to_vector(transform(col("embedding"), x => x.cast("double"))).as("raw"),
          when(col("label") < 5, 1.0).otherwise(0.0).as("y")),
      k).cache()
    val folds = (0 until k).map { f =>
      val train = base.filter(col("fold") =!= f)
      val test = base.filter(col("fold") === f)
      val sm = new StandardScaler().setInputCol("raw").setOutputCol("features")
        .setWithMean(true).setWithStd(true).fit(train)
      val m = new LogisticRegression().setLabelCol("y")
        .setMaxIter(100).setRegParam(0.1).fit(sm.transform(train))
      val r = Evaluation.confusionMetrics(
        m.transform(sm.transform(test))
          .select((col("prediction") === 1.0).as("pred"), (col("y") === 1.0).as("gold")))
        .head()
      // boxed read: a degenerate fold (no positives anywhere) has NULL
      // f1, which must stay NULL instead of unboxing to a silent 0.0
      (f, r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("tn"),
        r.getAs[Long]("fn"), Option(r.getAs[java.lang.Double]("f1")).map(_.doubleValue))
    }
    base.unpersist()
    val defined = folds.flatMap(_._6)
    val meanF1 =
      if (defined.isEmpty) None
      else Some(math.rint(defined.sum / defined.size * 1e6) / 1e6)
    import s.implicits._
    (folds :+ ((-1, 0L, 0L, 0L, 0L, meanF1)))
      .toDF("fold", "tp", "fp", "tn", "fn", "f1")
  }

  /** q_features: the reference's getSingleVector (topic-probability vector ⊕
    * doc-length feature, supervised_classifier.py:159-168) — emitted as a
    * per-dimension profile (count, mean, std) of the assembled feature
    * matrix: one posexplode + one groupBy(dim), fully distributed, and the
    * rows-only check pins both the dimensionality and the moments. */
  /** Assembled per-doc feature vectors (topic distribution ⊕ length) —
    * ONE definition shared by q_features and its audit, so the audit can
    * never silently certify a different relation than the query emits. */
  private def featureVectors(s: SparkSession, dir: String): DataFrame = {
    val topics = TopicModeling.docTopics(s, dir)
    val lens = TextPrep.cleanDocs(s, dir)
      .select(col("doc_id"), size(col("toks")).as("len"))
    topics.join(lens, Seq("doc_id"))
      .select(col("doc_id"), col("len"),
        concat(col("dist"), array(col("len").cast("double"))).as("fvec"))
  }

  def qFeatures(s: SparkSession, dir: String): DataFrame =
    featureVectors(s, dir)
      .select(posexplode(col("fvec")).as(Seq("dim_idx", "x")))
      .groupBy("dim_idx")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("x")), 6).as("mean"),
        round(stddev_pop(col("x")), 6).as("std"))

  /** q_isotonic: isotonic (PAV) calibration of the quality score against
    * the Gopher gate — the monotone regression that turns a raw ranking
    * score into calibrated pass-probabilities (the fitted-map companion
    * to q_calibration's reliability TABLE and q_auc's ranking SCALAR).
    * MLlib's IsotonicRegression runs the parallel pool-adjacent-violators
    * algorithm (chunk-wise PAV + merge, distributed); the emitted relation
    * is the fitted step function (boundary, calibrated probability) —
    * model-sized, not corpus-sized. Rows-only gate (iterative pooling is
    * not SQL-expressible); PAV on a fixed input is deterministic, and the
    * spec pins monotonicity + probability range. */
  /** The (score, 0/1 label) training relation shared by q_isotonic and
    * its audit. */
  private def isotonicData(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qQuality(s, dir).select(col("doc_id"), col("quality"))
      .join(TextAnalysis.qQualityRules(s, dir).select(col("doc_id"), col("passes")),
        Seq("doc_id"))
      .select(col("quality").as("features"),
        when(col("passes"), 1.0).otherwise(0.0).as("label"))

  def qIsotonic(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.regression.IsotonicRegression
    val data = isotonicData(s, dir)
    val model = new IsotonicRegression().setIsotonic(true).fit(data)
    val pts = model.boundaries.toArray.zip(model.predictions.toArray).zipWithIndex
      .map { case ((b, p), i) => (i, math.floor(b * 1e6) / 1e6, math.floor(p * 1e6) / 1e6) }
    import s.implicits._
    pts.toSeq.toDF("idx", "boundary", "calibrated")
  }

  /** q_isotonic_audit: PAVA conservation certificate — upgrades rows-only
    * q_isotonic with a DuckDB-hash-gated contract (the q_minhash_audit
    * pattern applied to the calibration path). The data-side anchors are
    * SQL-derivable: `n` (training rows) and `label_mass` (gate passes —
    * labels are 0/1 so the double sum is an exact integer). The
    * guarantees: pool-adjacent-violators replaces each block of labels
    * with its mean, so the fitted values at the training points MUST
    * conserve total label mass (Σfit = Σy, `mass_preserved_ok`, 1e-6·n
    * tolerance absorbing fp summation order), stay inside [0,1]
    * (`range_ok` — block means of 0/1 labels), and be nondecreasing over
    * strictly increasing boundaries (`monotone_ok`). A broken pooling
    * merge, a dropped block, or a miscalibrated prediction path fails
    * the conservation or monotonicity clause. Model transform is one
    * broadcast-model map pass; the audit aggregate is one row. */
  def qIsotonicAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.regression.IsotonicRegression
    val data = isotonicData(s, dir)
    val model = new IsotonicRegression().setIsotonic(true).fit(data)
    val agg = model.transform(data)
      .agg(count(lit(1)).as("n"),
        sum(col("label")).cast("long").as("label_mass"),
        sum(col("prediction")).as("fit_mass"),
        min(col("prediction")).as("minp"),
        max(col("prediction")).as("maxp"))
      .collect().head
    val n = agg.getAs[Long]("n")
    val labelMass = agg.getAs[Long]("label_mass")
    val b = model.boundaries.toArray
    val p = model.predictions.toArray
    val monotone =
      p.sliding(2).forall(a => a.length < 2 || a(0) <= a(1)) &&
        b.sliding(2).forall(a => a.length < 2 || a(0) < a(1))
    val rangeOk = agg.getAs[Double]("minp") >= 0.0 &&
      agg.getAs[Double]("maxp") <= 1.0
    val massOk =
      math.abs(agg.getAs[Double]("fit_mass") - labelMass.toDouble) <= 1e-6 * n
    import s.implicits._
    Seq((n, labelMass, monotone, rangeOk, massOk))
      .toDF("n", "label_mass", "monotone_ok", "range_ok", "mass_preserved_ok")
  }

  /** q_cv_audit: cross-validation accounting certificate — one row per
    * fold, hash-gating the CV harness's bookkeeping: the oracle
    * recomputes each STRATIFIED fold's size and gold-positive count
    * directly from embeddings (per-class rank in md5-shuffle order mod
    * k — the exact assignment, expressible as one SQL window), and each
    * fold's confusion cells (from the REAL per-fold fit/eval in
    * q_cv_train) must account for exactly that held-out fold
    * (tp+fp+tn+fn = n_fold, tp+fn = n_fold_pos). `strat_ok` asserts the
    * stratification invariant itself: gold counts across folds differ by
    * at most 1 (and fold sizes by at most the class count) — an
    * unstratified assignment on imbalanced labels fails it. A leaked
    * row, an overlapping fold, or a per-fold scaler fit on the wrong
    * side shows up as a cell-count mismatch. */
  def qCvAudit(s: SparkSession, dir: String): DataFrame = {
    val cv = qCvTrain(s, dir).filter(col("fold") >= 0).collect()
    val sizes = stratifiedFolds(
      Tables.embeddings(s, dir)
        .filter(!col("label").isin(ExcludedLabels: _*))
        .select(col("vec_id"), when(col("label") < 5, 1.0).otherwise(0.0).as("y")),
      cvK)
      .groupBy("fold")
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("npos"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val stratOk =
      sizes.values.map(_._2).max - sizes.values.map(_._2).min <= 1L &&
        sizes.values.map(_._1).max - sizes.values.map(_._1).min <= 2L
    import s.implicits._
    cv.map { r =>
      val f = r.getInt(0)
      val cells = r.getAs[Long]("tp") + r.getAs[Long]("fp") +
        r.getAs[Long]("tn") + r.getAs[Long]("fn")
      val goldPos = r.getAs[Long]("tp") + r.getAs[Long]("fn")
      val (n, npos) = sizes(f)
      (f, n, npos, cells == n, goldPos == npos, stratOk)
    }.toSeq.toDF("fold", "n_fold", "n_fold_pos", "cells_ok", "gold_ok", "strat_ok")
  }

  private lazy val qCvAuditSql =
    s"""WITH e AS (SELECT vec_id,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
             md5(CAST(vec_id AS VARCHAR)) AS h
           FROM embeddings
           WHERE label NOT IN (${ExcludedLabels.mkString(", ")})),
       f AS (SELECT y,
               CAST((row_number() OVER (PARTITION BY y ORDER BY h, vec_id) - 1)
                 % $cvK AS INT) AS fold
             FROM e)
       SELECT fold, CAST(count(*) AS BIGINT) AS n_fold,
         CAST(sum(y) AS BIGINT) AS n_fold_pos,
         TRUE AS cells_ok, TRUE AS gold_ok, TRUE AS strat_ok
       FROM f GROUP BY 1"""

  /** Every zoo member the per-model audit accounts for, keyed by its
    * emitted `model` name — the SAME query functions the driver runs
    * (cachedMetrics dedupes the fits between the two consumers). */
  private def zooMembers: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "logistic_regression" -> (qClassifyLr _),
    "linear_svc" -> (qClassifySvc _),
    "svc_rbf" -> (qClassifyRbf _),
    "sgd_modified_huber" -> (qClassifySgdHuber _),
    "gaussian_nb" -> (qClassifyNb _),
    "random_forest" -> (qClassifyRf _),
    "gradient_boosting" -> (qClassifyGbt _),
    "decision_tree" -> (qClassifyDt _),
    "mlp" -> (qClassifyMlp _),
    "knn_5" -> (qClassifyKnn _),
    "lr_undersampled" -> (qClassifyLrUndersample _),
    "lr_smote" -> (qClassifySmote _))

  /** q_classify_audit: supervised-harness accounting certificate, ONE ROW
    * PER ZOO MEMBER — the classifier WEIGHTS can't be SQL-oracled
    * (iterative fits), but the shared train/eval harness is pure
    * relational algebra the oracle recomputes end-to-end: the
    * deterministic vec_id%5 split sizes over the non-excluded concepts,
    * the test-side gold positives, and the class_weight='balanced'
    * values w_c = n/(2·n_c) (read back from the ACTUAL per-row weight
    * column, with per-class min=max consistency — a drifted weight
    * formula or a leaked test row changes a value the oracle computes
    * independently). EVERY model's confusion must then account for
    * exactly the test partition (tp+fp+tn+fn = n_test, tp+fn =
    * n_test_pos) with each emitted ratio a probability — a broken model
    * wrapper that silently drops or double-scores rows fails its own
    * row, not just a rows-only smoke. */
  def qClassifyAudit(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = dataset(s, dir)
    val w = train.groupBy("y")
      .agg(count(lit(1)).as("n"), min(col("w")).as("wmin"), max(col("w")).as("wmax"))
      .collect().map(r => r.getDouble(0) -> r).toMap
    val weightsConsistent = w.values.forall(r =>
      r.getAs[Double]("wmin") == r.getAs[Double]("wmax"))
    val nTrain = w.values.map(_.getAs[Long]("n")).sum
    val t = test.agg(count(lit(1)).as("n"),
      sum(col("y")).cast("long").as("npos")).collect().head
    val (nTest, nTestPos) = (t.getAs[Long]("n"), t.getAs[Long]("npos"))
    // HALF-UP like DuckDB round() — math.rint is HALF_EVEN and would
    // diverge from the oracle on exact .5 ties of these positive rationals
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val wPos = r6(w(1.0).getAs[Double]("wmax"))
    val wNeg = r6(w(0.0).getAs[Double]("wmax"))
    import s.implicits._
    zooMembers.map { case (name, q) =>
      val m = q(s, dir).collect().head
      require(m.getAs[String]("model") == name,
        s"zoo registry desync: $name emitted ${m.getAs[String]("model")}")
      val cellsOk = m.getAs[Long]("tp") + m.getAs[Long]("fp") +
        m.getAs[Long]("tn") + m.getAs[Long]("fn") == nTest &&
        m.getAs[Long]("tp") + m.getAs[Long]("fn") == nTestPos
      val metricsOk = Seq("precision", "recall", "accuracy", "f1").forall { c =>
        Option(m.getAs[java.lang.Double](c)).forall(v => v >= 0.0 && v <= 1.0)
      }
      (name, nTrain, nTest, nTestPos, wPos, wNeg,
        cellsOk && weightsConsistent, metricsOk)
    }.toDF("model", "n_train", "n_test", "n_test_pos", "w_pos", "w_neg",
      "cells_ok", "metrics_ok")
  }

  private lazy val qClassifyAuditSql = {
    val models = zooMembers.map { case (n, _) => s"('$n')" }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
             FROM embeddings
             WHERE label NOT IN (${ExcludedLabels.mkString(", ")})),
       tr AS (SELECT CAST(count(*) AS BIGINT) AS n_train,
                CAST(sum(y) AS BIGINT) AS n_pos
              FROM e WHERE vec_id % 5 <> 0),
       te AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
                CAST(sum(y) AS BIGINT) AS n_test_pos
              FROM e WHERE vec_id % 5 = 0),
       m(model) AS (VALUES $models)
       SELECT model, n_train, n_test, n_test_pos,
         round(CAST(n_train AS DOUBLE) / (2.0 * n_pos), 6) AS w_pos,
         round(CAST(n_train AS DOUBLE) / (2.0 * (n_train - n_pos)), 6) AS w_neg,
         TRUE AS cells_ok, TRUE AS metrics_ok
       FROM tr CROSS JOIN te CROSS JOIN m"""
  }

  /** q_features_audit: feature-assembly + StandardScaler certificate —
    * upgrades rows-only q_features with SQL-derivable anchors: `n_docs`
    * is the distinct-document count of the (hash-gated) doc2bow
    * relation — exactly the rows the LDA transform emits and the
    * length join preserves — and `len_mass` is the exact-integer total
    * of the appended length feature over those documents (the oracle
    * recomputes both from the clean-token pipeline SQL). Guarantees:
    * the assembled dimensionality is k+1, and after
    * StandardScaler(withMean, withStd) every dimension is centered
    * (|mean| ≤ 1e-9) and unit-scaled (|sd−1| ≤ 1e-6, constant dims
    * exempt — scaler leaves σ=0 dims at 0). A dropped join row, a
    * mis-appended length column, or a scaler fed the wrong moments
    * fails an anchor or a clause. */
  def qFeaturesAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.StandardScaler
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val j = featureVectors(s, dir).select(col("len"), col("fvec")).persist()
    // try/finally so a failed fit/aggregate can't leak the cached
    // DataFrame for the session (the qLevene/qMad discipline).
    val (anchor, dims) = try {
      val anchor = j
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("len_mass"),
          min(size(col("fvec"))).as("dmin"), max(size(col("fvec"))).as("dmax"))
        .collect().head
      val vecs = j.select(array_to_vector(col("fvec")).as("features"))
      val model = new StandardScaler().setWithMean(true).setWithStd(true)
        .setInputCol("features").setOutputCol("scaled").fit(vecs)
      val dims = model.transform(vecs)
        .select(posexplode(vector_to_array(col("scaled"))).as(Seq("dim", "x")))
        .groupBy("dim")
        .agg(avg(col("x")).as("m"), stddev_samp(col("x")).as("sd"))
        .collect()
      (anchor, dims)
    } finally j.unpersist()
    val k1 = TopicModeling.DefaultK + 1
    val dimsOk = anchor.getAs[Int]("dmin") == k1 &&
      anchor.getAs[Int]("dmax") == k1 && dims.length == k1
    val centeredOk = dims.forall(r => math.abs(r.getAs[Double]("m")) <= 1e-9)
    val unitOk = dims.forall { r =>
      val sd = r.getAs[Double]("sd")
      math.abs(sd - 1.0) <= 1e-6 || sd == 0.0
    }
    import s.implicits._
    Seq((anchor.getAs[Long]("n_docs"), anchor.getAs[Long]("len_mass"),
      k1.toLong, dimsOk, centeredOk, unitOk))
      .toDF("n_docs", "len_mass", "n_dims", "dims_ok", "centered_ok", "unit_ok")
  }

  private lazy val qFeaturesAuditSql = {
    val k1 = TopicModeling.DefaultK + 1
    s"""WITH bow AS (SELECT DISTINCT doc_id FROM (${TextPrep.qDoc2bowSql})),
       l AS (SELECT doc_id,
               len(${graft.functions.TextFns.cleanTokensSql("text")}) AS len
             FROM documents)
       SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len) AS BIGINT) AS len_mass,
         CAST($k1 AS BIGINT) AS n_dims,
         TRUE AS dims_ok, TRUE AS centered_ok, TRUE AS unit_ok
       FROM bow JOIN l USING (doc_id)"""
  }

  private lazy val qIsotonicAuditSql =
    s"""WITH q AS (${TextAnalysis.qQualitySql}),
       r AS (${TextAnalysis.qQualityRulesSql}),
       j AS (SELECT q.doc_id, r.passes FROM q JOIN r ON r.doc_id = q.doc_id)
       SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS label_mass,
         TRUE AS monotone_ok, TRUE AS range_ok, TRUE AS mass_preserved_ok
       FROM j"""

  override def registry: Seq[Q] = Seq(
    Q("q_isotonic", qIsotonic, Cert("q_isotonic_audit"), Ml),
    Q("q_isotonic_audit", qIsotonicAudit, Oracle(qIsotonicAuditSql), Ml),
    Q("q_features_audit", qFeaturesAudit, Oracle(qFeaturesAuditSql), Ml),
    Q("q_classify_audit", qClassifyAudit, Oracle(qClassifyAuditSql), Ml),
    Q("q_cv_audit", qCvAudit, Oracle(qCvAuditSql), Ml),
    Q("q_classify_lr", qClassifyLr, Cert("q_classify_audit"), Ml),
    Q("q_classify_excluded", qClassifyExcluded, Oracle(qClassifyExcludedSql), Ml),
    Q("q_classify_svc", qClassifySvc, Cert("q_classify_audit"), Ml),
    Q("q_classify_rbf", qClassifyRbf, Cert("q_rbf_audit"), Ml),
    Q("q_rbf_audit", qRbfAudit, Oracle(qRbfAuditSql), Ml),
    Q("q_classify_sgdh", qClassifySgdHuber, Cert("q_classify_audit"), Ml),
    Q("q_classify_nb", qClassifyNb, Cert("q_classify_audit"), Ml),
    Q("q_classify_rf", qClassifyRf, Cert("q_classify_audit"), Ml),
    Q("q_classify_gbt", qClassifyGbt, Cert("q_classify_audit"), Ml),
    Q("q_classify_dt", qClassifyDt, Cert("q_classify_audit"), Ml),
    Q("q_classify_mlp", qClassifyMlp, Cert("q_classify_audit"), Ml),
    Q("q_classify_knn", qClassifyKnn, Cert("q_classify_audit"), Ml),
    Q("q_classify_lr_us", qClassifyLrUndersample, Cert("q_classify_audit"), Ml),
    Q("q_classify_smote", qClassifySmote, Cert("q_classify_audit"), Ml),
    Q("q_clf_param_sweep", qClfParamSweep, Cert("q_clf_param_sweep_audit"), Ml),
    Q("q_clf_param_sweep_audit", qClfParamSweepAudit, Oracle(qClfParamSweepAuditSql), Ml),
    Q("q_bayes_sweep", qBayesSweep, Cert("q_bayes_audit"), Ml),
    Q("q_bayes_audit", qBayesAudit, Oracle(qBayesAuditSql), Ml),
    Q("q_cv_train", qCvTrain, Cert("q_cv_audit"), Ml),
    Q("q_features", qFeatures, Cert("q_features_audit"), Ml))
}
