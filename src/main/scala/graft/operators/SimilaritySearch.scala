package graft.operators

import graft.{Cert, Ml, Oracle, Q, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Baseline: brute-force cosine top-k with the QUERY side broadcast (the
  * corpus is never collected or crossed with itself — at 100 TB the plan is
  * broadcast(queries) ⋈ scan(corpus) → per-query top-k, one shuffle of size
  * |queries|·k).
  *
  * Scale path: random-hyperplane LSH bucketing (deterministic planes from a
  * seeded hash), candidates only within matching buckets — q_ann_lsh.
  */
object SimilaritySearch extends QueryModule {

  /** Codegen vector kernels (graft.functions.VectorMath) — sequential
    * accumulation, bit-identical to the HOF folds they replaced and to
    * DuckDB's list_dot_product, but inside whole-stage codegen instead of
    * CodegenFallback interpretation. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorMath.dot(a, b)

  def cosine(a: Column, b: Column): Column = graft.functions.VectorMath.cosine(a, b)

  /** q_knn_search: top-5 neighbors for query vectors (vec_id < 10) among the
    * rest, ranked by (cos desc, vec_id asc). */
  def qKnnSearch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val corpus = e.filter(col("vec_id") >= 10)
    val scored = corpus.join(broadcast(queries))
      .select(col("q_id"), col("vec_id").as("nb_id"),
        cosine(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nb_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("nb_id"), round(col("cos"), 6).as("cos_sim"))
  }

  private val qKnnSearchSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       c AS (SELECT vec_id, v FROM e WHERE vec_id >= 10),
       scored AS (
         SELECT q_id, vec_id AS nb_id,
           list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
         FROM c CROSS JOIN q),
       ranked AS (
         SELECT q_id, nb_id, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id ASC) AS rank
         FROM scored)
       SELECT q_id, rank, nb_id, round(cos, 6) AS cos_sim FROM ranked WHERE rank <= 5"""

  /** MMR panel width / selection size / trade-off (λ = 0.5 is dyadic —
    * exact in both engines). */
  val MmrPanel = 100
  val MmrK = 10

  /** q_mmr: maximal marginal relevance — diversified top-k selection
    * (Carbonell & Goldstein 1998), the retrieval member q_knn_search
    * cannot express (plain top-k returns ten near-copies of the best
    * hit; MMR penalizes each candidate by its similarity to what is
    * ALREADY selected, so the result covers the neighborhood instead of
    * re-ranking it): seed = the panel's min vec_id, relevance = cosine
    * to the seed, greedy step = argmax rel(d) − λ·max_{s∈S} cos(d, s),
    * ties on vec_id. The panel is bounded ([[MmrPanel]] lowest ids — the
    * q_lof fixed-panel convention, with the ANN candidate paths as the
    * full-corpus story), relevance and the pairwise sims compute
    * DISTRIBUTED with the same codegen cosine the knn gate proves
    * DuckDB-identical, and the greedy walks the collected bounded panel
    * driver-side; the oracle replays the identical greedy as a
    * recursive CTE with a LATERAL argmax step — selection-by-selection,
    * the q_dtw fold↔CTE discipline applied to a greedy. */
  def qMmr(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .filter(col("vec_id") < MmrPanel)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val seed = e.orderBy(col("vec_id").asc).limit(1)
      .select(col("vec_id").as("s_id"), col("v").as("sv"))
    val rel = e.join(broadcast(seed), col("vec_id") =!= col("s_id"))
      .select(col("vec_id"), cosine(col("v"), col("sv")).as("rel"))
    val relRows = rel.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sims = e.as("a").join(e.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        cosine(col("a.v"), col("b.v")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.TreeSet.empty[Long] ++ relRows.keys
    while (selected.length < MmrK && remaining.nonEmpty) {
      val scored = remaining.toSeq.map { d =>
        val pen =
          if (selected.isEmpty) 0.0
          else selected.map { case (sid, _) => sims((d, sid)) }.max
        d -> (if (selected.isEmpty) relRows(d) else relRows(d) - 0.5 * pen)
      }
      val (best, sc) = scored.minBy { case (d, v) => (-v, d) }
      selected += ((best, sc))
      remaining -= best
    }
    import s.implicits._
    // HALF_UP to mirror both engines' round() (rint would be HALF_EVEN)
    selected.zipWithIndex
      .map { case ((vid, sc), i) => (i + 1, vid,
        BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toSeq.toDF("rank", "vec_id", "mmr_score")
  }

  private lazy val qMmrSql =
    s"""WITH RECURSIVE
       e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings WHERE vec_id < $MmrPanel),
       sd AS (SELECT vec_id AS s_id, v AS sv FROM e ORDER BY vec_id LIMIT 1),
       rel AS MATERIALIZED (
         SELECT e.vec_id, list_dot_product(e.v, sd.sv)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(sd.sv, sd.sv)))
           AS rel
         FROM e CROSS JOIN sd WHERE e.vec_id <> sd.s_id),
       sim AS MATERIALIZED (
         SELECT a.vec_id AS va, b.vec_id AS vb,
           list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             AS c
         FROM e a JOIN e b ON a.vec_id <> b.vec_id),
       walk(step, sel, vec_id, score) AS (
         SELECT 1, [vec_id], vec_id, rel FROM (
           SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT 1)
         UNION ALL
         SELECT w.step + 1, list_append(w.sel, c.vec_id), c.vec_id, c.score
         FROM walk w, LATERAL (
           SELECT r.vec_id,
             r.rel - 0.5 * (SELECT max(s.c) FROM sim s
               WHERE s.va = r.vec_id AND list_contains(w.sel, s.vb)) AS score
           FROM rel r WHERE NOT list_contains(w.sel, r.vec_id)
           ORDER BY score DESC, r.vec_id LIMIT 1) c
         WHERE w.step < $MmrK)
       SELECT CAST(step AS INT) AS rank, vec_id, round(score, 6) AS mmr_score
       FROM walk"""

  /** q_hard_negatives: hard-negative mining for contrastive/embedding
    * training — for each anchor (vec_id < 10), the top-3 most-similar
    * vectors with a DIFFERENT label: maximally confusable cross-class
    * pairs, the negatives that actually move an embedding model. Same
    * broadcast-blocked exact shape as q_knn_search (anchors are a
    * mini-batch, the corpus is the index; the LSH/IVF candidate paths
    * apply unchanged when the anchor set grows), plus one label-inequality
    * filter BEFORE ranking so every ranked candidate is a true negative.
    * Ranked (cos desc, neg_id asc) — deterministic cut. */
  def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val anchors = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"), col("v").as("av"))
    val corpus = e.filter(col("vec_id") >= 10)
    val scored = corpus.join(broadcast(anchors))
      .filter(col("label") =!= col("a_label"))
      .select(col("a_id"), col("vec_id").as("neg_id"), col("label").as("neg_label"),
        cosine(col("av"), col("v")).as("cos"))
    val w = Window.partitionBy("a_id").orderBy(col("cos").desc, col("neg_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("a_id"), col("rank"), col("neg_id"), col("neg_label"),
        round(col("cos"), 6).as("cos_sim"))
  }

  private val qHardNegativesSql =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       a AS (SELECT vec_id AS a_id, label AS a_label, v AS av FROM e WHERE vec_id < 10),
       c AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 10),
       scored AS (
         SELECT a_id, vec_id AS neg_id, c.label AS neg_label,
           list_dot_product(av, v) / (sqrt(list_dot_product(av, av)) * sqrt(list_dot_product(v, v))) AS cos
         FROM c CROSS JOIN a WHERE c.label <> a.a_label),
       ranked AS (
         SELECT a_id, neg_id, neg_label, cos,
           row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, neg_id ASC) AS rank
         FROM scored)
       SELECT a_id, rank, neg_id, neg_label, round(cos, 6) AS cos_sim
       FROM ranked WHERE rank <= 3"""

  /** q_class_centroids: per-label mean embedding (class prototypes — the
    * nearest-centroid classifier's model, SemDeDup's seed points, and the
    * drift monitor's per-class reference). Emitted LONG (label, dim, n,
    * centroid) so the output is flat-sortable. Determinism: floating sums
    * are order-sensitive, so each (label, dim) group's values are summed
    * in vec_id order via a sorted-collect fold — the same ordered-fold
    * pattern as q_entropy, matched by ORDER BY inside DuckDB's list() —
    * making both engines run the identical IEEE addition sequence. This is
    * the exact audit formulation; a production 100 TB run uses plain avg()
    * (map-side combining, no per-group collect) and tolerates last-ulp
    * drift. Group state here is bounded by class size at test SF. */
  def qClassCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"), col("vec_id"), col("v").cast("double").as("v"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
        aggregate(
          transform(array_sort(collect_list(struct(col("vec_id"), col("v")))),
            x => x.getField("v")),
          lit(0.0), (acc, x) => acc + x).as("s"))
      .select(col("label"), col("dim"), col("n"),
        round(col("s") / col("n"), 6).as("centroid"))

  /** The centroid CTE block (… → `cent(label, dim, n, centroid)`) — ONE
    * definition shared by the q_class_centroids oracle and the Rocchio
    * classifier oracle (q_rocchio), whose Spark twin genuinely consumes
    * qClassCentroids. Callers prepend WITH. */
  private[operators] lazy val classCentroidCtes =
    """x AS (
         SELECT label, vec_id,
           CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
           unnest(CAST(embedding AS DOUBLE[])) AS v
         FROM embeddings),
       cent AS (
         SELECT label, dim, count(*) AS n,
           round(list_sum(list(v ORDER BY vec_id)) / count(*), 6) AS centroid
         FROM x GROUP BY label, dim)"""

  private lazy val qClassCentroidsSql =
    s"""WITH $classCentroidCtes
       SELECT label, dim, n, centroid FROM cent"""

  /** q_rocchio: nearest-centroid (Rocchio) classification — assign every
    * vector to the class whose prototype (q_class_centroids, ROUNDED at
    * 1e-6 so both engines score against identical prototypes) it is most
    * cosine-similar to. The centroid table is labels×dims tiny, so the
    * model broadcasts and scoring is a per-row loop over k classes — the
    * no-shuffle classifier a 100 TB corpus can afford (vs KNN's
    * candidate joins). Argmax via (cos DESC, label ASC) rank — the
    * deterministic-cut rule; cosine is the sequential-fold kernel, bit-
    * identical to DuckDB's list_dot_product. */
  def qRocchio(s: SparkSession, dir: String): DataFrame = {
    val cv = qClassCentroids(s, dir)
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("centroid")))),
        x => x.getField("centroid")).as("cv"))
      .select(col("label").as("pred_label"), col("cv"))
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").as("true_label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("pred_label").asc)
    e.crossJoin(broadcast(cv))
      .select(col("vec_id"), col("true_label"), col("pred_label"),
        cosine(col("v"), col("cv")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("true_label"), col("pred_label"),
        round(col("cos"), 6).as("score"),
        (col("true_label") === col("pred_label")).as("correct"))
  }

  private lazy val qRocchioSql =
    s"""WITH $classCentroidCtes,
       cv AS (SELECT label AS pred_label, list(centroid ORDER BY dim) AS cv
              FROM cent GROUP BY label),
       e AS (SELECT vec_id, label AS true_label, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
       scored AS (
         SELECT vec_id, true_label, pred_label,
           list_dot_product(v, cv) /
             (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS cos
         FROM e CROSS JOIN cv),
       ranked AS (
         SELECT vec_id, true_label, pred_label, cos,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY cos DESC, pred_label ASC) AS rk
         FROM scored)
       SELECT vec_id, true_label, pred_label, round(cos, 6) AS score,
         true_label = pred_label AS correct
       FROM ranked WHERE rk = 1"""

  /** Own-class cosine below which a vector is flagged as a label-noise
    * suspect (negative = pointing away from its own class prototype). */
  val EmbedOutlierTau = -0.1

  /** q_embed_outliers: label-noise / contamination audit for the
    * embedding table — every vector whose cosine to its OWN class
    * centroid falls below τ (the vectors most likely mislabeled,
    * corrupted, or out-of-distribution; the audit a pipeline runs before
    * trusting labels for SemDeDup cells or Rocchio prototypes). Same
    * broadcast-prototype shape as q_rocchio but joined on the vector's
    * own label — one labels×dims broadcast, per-row cosine fold
    * (bit-identical to DuckDB's list_dot_product), no shuffle beyond
    * the centroid aggregate. τ = −0.1 flags a stable 2–8% at every SF
    * (19/12/170 rows at sf0.001/0.01/0.1 — never vacuous). */
  def qEmbedOutliers(s: SparkSession, dir: String): DataFrame = {
    val cv = qClassCentroids(s, dir)
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("centroid")))),
        x => x.getField("centroid")).as("cv"))
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    e.join(broadcast(cv), Seq("label"))
      .select(col("vec_id"), col("label"), cosine(col("v"), col("cv")).as("cos"))
      .filter(col("cos") < EmbedOutlierTau)
      .select(col("vec_id"), col("label"), round(col("cos"), 6).as("cos"))
  }

  private lazy val qEmbedOutliersSql =
    s"""WITH $classCentroidCtes,
       cv AS (SELECT label, list(centroid ORDER BY dim) AS cv
              FROM cent GROUP BY label),
       e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
       scored AS (
         SELECT vec_id, e.label,
           list_dot_product(v, cv) /
             (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS cos
         FROM e JOIN cv ON cv.label = e.label)
       SELECT vec_id, label, round(cos, 6) AS cos
       FROM scored WHERE cos < $EmbedOutlierTau"""

  /** Truncation width for the Matryoshka-style dimension audit. */
  val MrlDims = 16

  /** q_mrl_audit: dimension-truncation retrieval audit (the Matryoshka-
    * representation question: can the index serve the FIRST 16 of 64
    * dims and still find what full-precision search finds?). For each
    * query vector: the full-space top-1 neighbor, the RANK that same
    * neighbor lands at under truncated cosine (how far the cheap index
    * must probe before rescoring recovers it — the nProbe/rerank-depth
    * sizing input), and the top-5 set overlap. Exact and deterministic:
    * both cosines are the sequential fold kernel on the same scored
    * join, rankings break ties on nb_id, and the audit emits ranks and
    * counts, never averaged floats. Same broadcast-query shape as
    * q_knn_search — the corpus is scanned once for both scores. */
  def qMrlAudit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val corpus = e.filter(col("vec_id") >= 10)
    val scored = corpus.join(broadcast(queries))
      .select(col("q_id"), col("vec_id").as("nb_id"),
        cosine(col("qv"), col("v")).as("cf"),
        cosine(slice(col("qv"), 1, MrlDims), slice(col("v"), 1, MrlDims)).as("ct"))
    val wF = Window.partitionBy("q_id").orderBy(col("cf").desc, col("nb_id").asc)
    val wT = Window.partitionBy("q_id").orderBy(col("ct").desc, col("nb_id").asc)
    val ranked = scored
      .withColumn("rf", row_number().over(wF))
      .withColumn("rt", row_number().over(wT))
    val top1 = ranked.filter(col("rf") === 1)
      .select(col("q_id"), col("nb_id"), col("rt").as("trunc_rank_of_top1"))
    val overlap = ranked.filter(col("rf") <= 5 && col("rt") <= 5)
      .groupBy("q_id").agg(count(lit(1)).as("overlap5"))
    top1.join(overlap, Seq("q_id"), "left")
      .na.fill(0L, Seq("overlap5"))
      .select(col("q_id"), col("nb_id"), col("trunc_rank_of_top1"), col("overlap5"))
  }

  private lazy val qMrlAuditSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       c AS (SELECT vec_id, v FROM e WHERE vec_id >= 10),
       s AS (
         SELECT q_id, vec_id AS nb_id,
           list_dot_product(qv, v) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cf,
           list_dot_product(qv[1:$MrlDims], v[1:$MrlDims]) /
             (sqrt(list_dot_product(qv[1:$MrlDims], qv[1:$MrlDims]))
              * sqrt(list_dot_product(v[1:$MrlDims], v[1:$MrlDims]))) AS ct
         FROM c CROSS JOIN q),
       r AS (
         SELECT q_id, nb_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cf DESC, nb_id ASC) AS rf,
           row_number() OVER (PARTITION BY q_id ORDER BY ct DESC, nb_id ASC) AS rt
         FROM s),
       t1 AS (SELECT q_id, nb_id, CAST(rt AS INT) AS trunc_rank_of_top1
              FROM r WHERE rf = 1),
       ov AS (SELECT q_id, CAST(count(*) AS BIGINT) AS overlap5
              FROM r WHERE rf <= 5 AND rt <= 5 GROUP BY q_id)
       SELECT t1.q_id, t1.nb_id, t1.trunc_rank_of_top1,
         coalesce(ov.overlap5, 0) AS overlap5
       FROM t1 LEFT JOIN ov ON ov.q_id = t1.q_id"""

  /** Deterministic pseudo-random hyperplanes: plane p, dim d component is
    * derived from a splitmix-style integer mix — reproducible everywhere. */
  def hyperplaneComponent(p: Int, d: Int): Double = {
    var z = (p.toLong * 0x9E3779B97F4A7C15L) + (d.toLong * 0xBF58476D1CE4E5B9L) + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    // map to [-1, 1)
    (z.toDouble / 9.223372036854776e18)
  }

  /** LSH family sizing. Defaults suit the test corpus; both are
    * env-overridable for real deployments. Sizing rule: each table splits
    * the corpus into 2^planes sign-buckets, so expected bucket occupancy is
    * N / 2^planes — pick planes ≈ log₂(N) − log₂(target candidates per
    * probe) (e.g. N = 10⁹, ~1k-vector buckets → planes ≈ 20), then add
    * tables until recall is met (recall rises ~ 1−(1−p^planes)^tables). */
  val NTables: Int = sys.env.getOrElse("GRAFT_LSH_TABLES", "8").toInt
  val NPlanes: Int = sys.env.getOrElse("GRAFT_LSH_PLANES", "6").toInt

  /** Expected vectors per LSH bucket the posting targets. With a FIXED
    * plane count, bucket load grows ∝ n and candidate PAIRS grow ∝ n² —
    * the r11 scaling run measured exactly that (q_dedup_cosine_lsh
    * slope ≈ 1.4 at fixed 6 planes). Growing planes with log₂(n/load)
    * keeps per-bucket load ~constant, so candidates stay ~linear — the
    * standard LSH sizing rule at 100 TB. */
  val TargetBucketLoad = 32L

  /** Data-adaptive plane count: ceil(log₂(n / TargetBucketLoad)),
    * floored at [[NPlanes]] so every test-SF corpus (n ≤ 2000 →
    * adaptive ≤ 6) keeps the EXACT historical posting — hash-gated
    * audits and rows-only fixtures are unchanged below the floor. */
  def adaptivePlanes(n: Long): Int = {
    val cells = math.max(1L, (n + TargetBucketLoad - 1) / TargetBucketLoad)
    val ceilLog2 =
      if (cells <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(cells - 1)
    math.max(NPlanes, ceilLog2)
  }

  /** Embedding dimensionality of the corpus (embeddings.parquet). */
  val Dim = 64

  /** Sign-bucket an (idCol, v: array<double>) frame: one (idCol, v, tbl,
    * bucket) row per vector per LSH table, from the shared deterministic
    * hyperplane family. The ONE implementation used by ANN search,
    * embedding dedup, and KNN classification — candidate generation
    * downstream is ALWAYS an equi-join on (tbl, bucket), never a cross
    * join. */
  def signBuckets(df: DataFrame, idCol: String,
      nTables: Int = NTables, nPlanes: Int = NPlanes, dim: Int = Dim): DataFrame = {
    def bucketFor(t: Int): Column =
      (0 until nPlanes).map { k =>
        val planeId = t * nPlanes + k
        val proj = dot(col("v"),
          array((0 until dim).map(d => lit(hyperplaneComponent(planeId, d))): _*))
        when(proj >= 0, lit(1L << k)).otherwise(0L)
      }.reduce(_ + _)
    df.select(col(idCol), col("v"),
      explode(array((0 until nTables).map(t =>
        struct(lit(t).as("tbl"), bucketFor(t).as("bucket"))): _*)).as("tb"))
      .select(col(idCol), col("v"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** The embedding corpus' sign-bucket posting — memoized per session and
    * persisted (MEMORY_AND_DISK), because THREE consumers scan it
    * (q_ann_lsh, q_dedup_cosine_lsh, and each builds candidates from both
    * sides): 48 hyperplane projections per vector are paid once, not per
    * consumer. Same treatment as Dedup.docShingles — at 100 TB a shared
    * stage this hot is materialized once, never recomputed. */
  def postedBuckets(s: SparkSession, dir: String): DataFrame = {
    // adaptive plane count from the corpus size — constant bucket load at
    // any scale, identical posting to the historical 6-plane one at every
    // test SF (n ≤ 2000). The resolved count is memoized per (session,
    // dir) so only the FIRST consumer pays the count job; repeat callers
    // hit the posting cache without re-scanning the corpus.
    val planes = graft.ModelCache.getOrElseUpdate(s, s"ann.planes:$dir") {
      adaptivePlanes(Tables.embeddings(s, dir).count())
    }
    graft.ModelCache.getOrElseUpdate(s, s"ann.buckets:$dir:$NTables:$planes") {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      signBuckets(e, "vec_id", nPlanes = planes)
        .cache()
    }
  }

  /** q_ann_lsh: multi-table random-hyperplane LSH (8 tables × 6 planes).
    * Each vector posts one (table, bucket) key per table; candidates are the
    * union of bucket collisions across tables, then exact cosine re-ranks.
    * This is the 100 TB path: candidate generation is an equi-join on
    * (table, bucket), never a cross join; tables/planes trade recall vs
    * candidate volume. Rows-only oracle (hash mixing isn't SQL-portable). */
  /** The scored LSH candidate stream (q_id, nb_id, cos) — ONE definition
    * consumed by both the q_ann_lsh query (rank ≤ 1) and the q_ann_recall
    * audit (rank ≤ 5), so the audit always measures the candidate
    * pipeline the index actually serves. */
  private def lshCandidates(s: SparkSession, dir: String): DataFrame = {
    val posted = postedBuckets(s, dir)
    val queries = posted.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("tbl"), col("bucket"))
    posted.filter(col("vec_id") >= 10)
      .join(broadcast(queries), Seq("tbl", "bucket"))
      .select(col("q_id"), col("vec_id").as("nb_id"), col("qv"), col("v"))
      .distinct()
      .select(col("q_id"), col("nb_id"), cosine(col("qv"), col("v")).as("cos"))
  }

  def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nb_id").asc)
    lshCandidates(s, dir)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 1)
      .select(col("q_id"), col("nb_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** q_ann_recall: recall@5 of the LSH index against the brute-force
    * ground truth — the metric that decides whether an ANN index is
    * usable at all, computed as a pipeline would at scale: the exact
    * top-5 (q_knn_search's plan) inner-joined with the LSH candidate
    * top-5 (q_ann_lsh's posting join, rank ≤ 5) on (q_id, nb_id); recall
    * = matched/5 per query. Rows-only (LSH bucketing is not
    * SQL-expressible); the spec lower-bounds the mean recall so an index
    * regression fails loudly. */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val exact = qKnnSearch(s, dir).select(col("q_id"), col("nb_id"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nb_id").asc)
    val approx = lshCandidates(s, dir)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("nb_id"))
    exact.join(approx, Seq("q_id", "nb_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_matched"))
      .join(exact.select("q_id").distinct(), Seq("q_id"), "right")
      .na.fill(0L, Seq("n_matched"))
      .select(col("q_id"), col("n_matched"),
        round(col("n_matched").cast("double") / k, 6).as("recall_at_5"))
  }

  /** q_ann_ivf: inverted-file ANN — the coarse-quantizer scale path beside
    * LSH (the two standard families). A seeded KMeans (nlist cells) indexes
    * the corpus: every vector joins its nearest-centroid cell; a query
    * probes only its nProbe nearest cells, and exact cosine re-ranks just
    * those candidates. Candidate volume ≈ corpus · nProbe / nlist via an
    * equi-join on cell id — never a cross join. Centroids are bounded
    * (nlist × dim) BY CONSTRUCTION, so inlining them as literals is the
    * rare broadcast that is always safe. Rows-only oracle (iterative
    * clustering isn't SQL-expressible); seed fixed. */
  def qAnnIvf(s: SparkSession, dir: String): DataFrame =
    ivfTop1(s, dir, "ivf.km", trainIsFullCorpus = true)

  /** The IVF search pipeline shared by [[qAnnIvf]] (centroids trained on
    * the full corpus) and [[qAnnIvfFoldin]] (centroids trained on the
    * BASE corpus only and FROZEN — the delta batch is assigned, never
    * re-clustered). Train-set choice is the only difference; the index
    * assignment, probe, and exact re-rank stages are identical. */
  private def ivfTop1(s: SparkSession, dir: String, kmKey: String,
      trainIsFullCorpus: Boolean): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val nlist = 16
    val nProbe = 4
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val trainSet =
      if (trainIsFullCorpus) e.filter(col("vec_id") >= 10)
      else e.filter(col("vec_id") >= 10 && col("vec_id") % 5 =!= 4)
    val km = graft.ModelCache.getOrElseUpdate(s, s"$kmKey:$dir") {
      new KMeans().setK(nlist).setSeed(42L).setMaxIter(20)
        .setFeaturesCol("features")
        .fit(trainSet.select(array_to_vector(col("v")).as("features")))
    }
    val cents = km.clusterCenters.map(_.toArray)
    def dist2(cell: Int): Column = aggregate(
      zip_with(col("v"), array(cents(cell).map(lit): _*), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x)
    val cellRank = Window.partitionBy("vec_id").orderBy(col("d2").asc, col("cell").asc)
    val withDists = e.select(col("vec_id"), col("v"),
      explode(array((0 until nlist).map(c =>
        struct(lit(c).as("cell"), dist2(c).as("d2"))): _*)).as("cd"))
      .select(col("vec_id"), col("v"), col("cd.cell").as("cell"), col("cd.d2").as("d2"))
      .withColumn("crk", row_number().over(cellRank))
    // the corpus cell ASSIGNMENT is the offline index build (the q_ann_pq
    // `codes` convention: "construction is the offline path, search is the
    // repeated operation") — memoized per (quantizer, dir); before r22
    // every invocation re-ran the 16-way distance explode + per-vector
    // argmin window over the whole corpus. The query-side probes and the
    // exact cosine re-rank stay live — they ARE the search.
    val indexed = graft.ModelCache.getOrElseUpdate(s, s"$kmKey.assign:$dir") {
      withDists.filter(col("vec_id") >= 10 && col("crk") === 1)
        .select(col("vec_id").as("nb_id"), col("v").as("nv"), col("cell"))
        .cache()
    }
    val probes = withDists.filter(col("vec_id") < 10 && col("crk") <= nProbe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nb_id").asc)
    // broadcast the BOUNDED query side (|queries|·nProbe rows): a shuffle
    // join on `cell` would collapse the corpus onto nlist partitions
    indexed.join(broadcast(probes), Seq("cell"))
      .select(col("q_id"), col("nb_id"), cosine(col("qv"), col("nv")).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 1)
      .select(col("q_id"), col("nb_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** q_embed_quant: int8 symmetric quantization of the embedding column
    * (4× storage cut for the ANN index is how a 100 TB vector corpus stays
    * affordable) with per-vector scale and reconstruction-error stats.
    * floor(x + 0.5) instead of round() — Spark rounds half-up, DuckDB
    * half-even; floor is engine-identical. */
  def qEmbedQuant(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(col("vec_id"), col("v"),
        array_max(transform(col("v"), x => abs(x))).as("scale"))
      .filter(col("scale") > 0)
    // raw errors FIRST, rounding in a separate select: a sibling alias
    // `round(scale).as("scale")` would lateral-shadow col("scale") in the
    // same projection and silently quantize against the ROUNDED scale
    e.select(col("vec_id"), col("scale"),
      array_max(zip_with(col("v"),
          transform(col("v"), x => floor(x / col("scale") * 127 + 0.5)),
          (x, q) => abs(x - q * col("scale") / 127))).as("max_err_raw"),
      aggregate(zip_with(col("v"),
          transform(col("v"), x => floor(x / col("scale") * 127 + 0.5)),
          (x, q) => (x - q * col("scale") / 127) * (x - q * col("scale") / 127)),
        lit(0.0), (acc, x) => acc + x).as("sq_err_raw"))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        round(col("max_err_raw"), 6).as("max_err"),
        round(col("sq_err_raw"), 9).as("sq_err"))
  }

  private val qEmbedQuantSql =
    """WITH e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS scale
         FROM embeddings),
       f AS (SELECT vec_id, v, scale FROM e WHERE scale > 0),
       q AS (
         SELECT vec_id, v, scale,
           list_transform(v, x -> floor(x / scale * 127 + 0.5)) AS qv
         FROM f)
       SELECT vec_id, round(scale, 6) AS scale,
         round(list_max(list_transform(list_zip(v, qv),
           p -> abs(p[1] - p[2] * scale / 127))), 6) AS max_err,
         round(list_sum(list_transform(list_zip(v, qv),
           p -> (p[1] - p[2] * scale / 127) * (p[1] - p[2] * scale / 127))), 9) AS sq_err
       FROM q"""

  /** PQ geometry: M subspaces of SubDim dims each, K centroids per
    * subspace codebook — a 64-float vector compresses to M code bytes
    * (32× vs float32, 8× beyond int8). */
  val PqM = 8
  val PqSubDim = 8
  val PqK = 16

  /** Train the M per-subspace codebooks (seeded KMeans each — small fits:
    * K centroids of SubDim dims; the codebook is bounded by construction,
    * never corpus-proportional). Trained on a DETERMINISTIC ~5% sample
    * (id-mod gate) — the standard PQ practice: codebook quality saturates
    * at a few thousand training points per subspace, and at 100 TB a
    * full-corpus K-means per subspace would be pure waste. Returns
    * (m, code, centroid). */
  def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    pqCodebooksOf(s,
      Tables.embeddings(s, dir)
        .filter(col("vec_id") % 20 === 0 || col("vec_id") < 200) // ≥ 200 rows at any SF
        .select(transform(col("embedding"), x => x.cast("double")).as("v")),
      seedBase = 42L)

  /** [[pqCodebooks]] over an arbitrary training relation (one `v`
    * double-array column) — the seam IVFADC uses to train its codebooks
    * on RESIDUALS instead of raw vectors. */
  def pqCodebooksOf(s: SparkSession, train: DataFrame,
      seedBase: Long): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val base = train.select(col("v")).cache()
    // the M fits are independent — submit them CONCURRENTLY (Spark's
    // scheduler interleaves jobs from multiple threads on one session),
    // so wall time is ~one fit, not M sequential fixed costs
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fits = (0 until PqM).map { m =>
      Future {
        val sub = base.select(array_to_vector(slice(col("v"), m * PqSubDim + 1, PqSubDim)).as("features"))
        val km = new org.apache.spark.ml.clustering.KMeans()
          .setK(PqK).setSeed(seedBase + m).setInitMode("random").setMaxIter(10).fit(sub)
        km.clusterCenters.zipWithIndex.toSeq
          .map { case (c, i) => (m, i, c.toArray.toSeq) }
      }
    }
    val rows = Await.result(Future.sequence(fits), Duration.Inf).flatten
    base.unpersist()
    import s.implicits._
    rows.toDF("m", "code", "centroid")
  }

  /** Encode every corpus vector as M sub-codes: explode per subspace,
    * join the (bounded, broadcast) codebook, keep the argmin-distance
    * code — candidate volume is corpus × K per subspace, an equi-join
    * fan-out bounded by the codebook size. Returns (vec_id, m, code). */
  def pqEncode(vectors: DataFrame, codebooks: DataFrame): DataFrame = {
    val subs = vectors
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> slice(v, m * $PqSubDim + 1, $PqSubDim))"))
        .as(Seq("m", "sub")))
    val w = Window.partitionBy("vec_id", "m")
      .orderBy(col("dist").asc, col("code").asc)
    subs.join(broadcast(codebooks), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"),
        aggregate(zip_with(col("sub"), col("centroid"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("dist"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("vec_id", "m", "code")
  }

  /** q_ann_pq: product-quantization ANN — codebook train → corpus encode
    * (M bytes per vector) → ADC search: each query precomputes an M×K
    * distance table (bounded), candidates sum M table lookups via an
    * equi-join on (m, code) — the memory-bound regime's standard answer
    * (the index is 32× smaller than the vectors; the scan never touches
    * floats). Exact re-rank is deliberately OMITTED: the query reports
    * the pure-ADC top-1 per query so the spec can measure PQ fidelity
    * itself. Rows-only (iterative clustering isn't SQL). */
  def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    // the PQ index (codebooks + corpus codes) is built once per session —
    // construction is the offline path, search is the repeated operation
    // (the postedBuckets treatment; persisted codes are M small ints/vector)
    val (books, codes) = graft.ModelCache.getOrElseUpdate(s, s"ann.pq:$dir") {
      val b = pqCodebooks(s, dir)
        .cache()
      val base0 = Tables.embeddings(s, dir)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      // store the posting partitioned by vec_id, not pqEncode's
      // (vec_id, m) window layout: the ADC search aggregates by
      // (q_id, vec_id), and with a vector's M code rows scattered over M
      // partitions the partial agg reduced nothing (plan metrics:
      // 159,200 joined rows → 142,480 partials shuffled at sf0.1);
      // colocating each vector's codes makes the map-side agg emit one
      // partial per (query, vector) — an M× smaller exchange, paid with
      // one repartition at the memoized index build (guide §2.3/§2.4)
      val c = pqEncode(base0.filter(col("vec_id") >= 10), b)
        .repartition(col("vec_id"))
        .cache()
      (b, c)
    }
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    // per-query ADC table: distance from each query subvector to every centroid
    val qsubs = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> slice(v, m * $PqSubDim + 1, $PqSubDim))"))
        .as(Seq("m", "sub")))
    val table = qsubs.join(broadcast(books), Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        aggregate(zip_with(col("sub"), col("centroid"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("pdist"))
    val w = Window.partitionBy("q_id").orderBy(col("adc").asc, col("nb_id").asc)
    codes.join(broadcast(table), Seq("m", "code"))
      .groupBy(col("q_id"), col("vec_id").as("nb_id"))
      .agg(sum(col("pdist")).as("adc"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 1)
      .select(col("q_id"), col("nb_id"), round(col("adc"), 6).as("adc_dist"))
  }

  /** q_ann_ivfpq: IVF-PQ residual composition (FAISS IVFADC — the
    * memory-bound 100 TB index standard): the coarse quantizer's cell
    * explains most of a vector's magnitude, so PQ codebooks trained on
    * the RESIDUALS r = v − centroid(cell) spend their 16 codes on the
    * fine structure instead of re-encoding cell geometry — the reason
    * IVFADC beats flat PQ at equal code budget. Composition of the two
    * existing halves, on residuals:
    *
    *  - coarse: the SAME memoized nlist=16 quantizer as q_ann_ivf (one
    *    index family, shared training cost);
    *  - fine: M=8 × K=16 codebooks trained on a deterministic residual
    *    sample via [[pqCodebooksOf]] (seed offset so they can never
    *    silently alias the flat-PQ books), every indexed vector stored
    *    as (cell, M codes) — 1 small int + M bytes per vector;
    *  - search: a query probes its nProbe=4 nearest cells; PER PROBED
    *    CELL it builds the ADC table from its OWN residual against that
    *    cell's centroid (the table is (q × nProbe × M × K)-bounded and
    *    broadcast); candidates sum M lookups via the (cell, m, code)
    *    equi-join — the scan touches codes only, never floats.
    *
    * Rows-only (two iterative clusterings upstream);
    * [[qAnnIvfPqAudit]] gates it with the scale-invariant top-decile
    * rank contract (63c's: containment-at-k is wrong for lossy codes). */
  def qAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val nlist = 16
    val nProbe = 4
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    // the SAME coarse quantizer as q_ann_ivf (memoized under its key)
    val km = graft.ModelCache.getOrElseUpdate(s, s"ivf.km:$dir") {
      new KMeans().setK(nlist).setSeed(42L).setMaxIter(20)
        .setFeaturesCol("features")
        .fit(e.filter(col("vec_id") >= 10)
          .select(array_to_vector(col("v")).as("features")))
    }
    val cents = km.clusterCenters.map(_.toArray)
    def dist2(cell: Int): Column = aggregate(
      zip_with(col("v"), array(cents(cell).map(lit): _*), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x)
    val centRel = {
      import s.implicits._
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "cent")
    }
    val cellRank = Window.partitionBy("vec_id").orderBy(col("d2").asc, col("cell").asc)
    val withDists = e.select(col("vec_id"), col("v"),
      explode(array((0 until nlist).map(c =>
        struct(lit(c).as("cell"), dist2(c).as("d2"))): _*)).as("cd"))
      .select(col("vec_id"), col("v"), col("cd.cell").as("cell"), col("cd.d2").as("d2"))
      .withColumn("crk", row_number().over(cellRank))
    // offline index build, memoized: residual codebooks + per-vector
    // (cell, m, code) rows — the 1-int-plus-M-bytes posting list
    val (books, codes) = graft.ModelCache.getOrElseUpdate(s, s"ann.ivfpq:$dir") {
      val assigned = withDists.filter(col("vec_id") >= 10 && col("crk") === 1)
        .join(broadcast(centRel), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          zip_with(col("v"), col("cent"), (a, b) => a - b).as("rv"))
        .localCheckpoint(true)
      val b = graft.ModelCache.checkpoint(pqCodebooksOf(s,
        assigned.filter(col("vec_id") % 20 === 0 || col("vec_id") < 200)
          .select(col("rv").as("v")),
        seedBase = 1042L))
      // same vec_id colocation as the flat-PQ posting: the IVFADC search
      // aggregates by (q_id, vec_id) too
      val c = graft.ModelCache.checkpoint(
        pqEncode(assigned.select(col("vec_id"), col("rv").as("v")), b)
          .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
          .repartition(col("vec_id")))
      (b, c)
    }
    // query side: nProbe probed cells, ADC table per (query, cell) from
    // the query's residual against THAT cell's centroid
    val probes = withDists.filter(col("vec_id") < 10 && col("crk") <= nProbe)
      .join(broadcast(centRel), Seq("cell"))
      .select(col("vec_id").as("q_id"), col("cell"),
        zip_with(col("v"), col("cent"), (a, b) => a - b).as("qr"))
    val qsubs = probes.select(col("q_id"), col("cell"), posexplode(expr(
      s"transform(sequence(0, ${PqM - 1}), m -> slice(qr, m * $PqSubDim + 1, $PqSubDim))"))
      .as(Seq("m", "sub")))
    val table = qsubs.join(broadcast(books), Seq("m"))
      .select(col("q_id"), col("cell"), col("m"), col("code"),
        aggregate(zip_with(col("sub"), col("centroid"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("pdist"))
    val w = Window.partitionBy("q_id").orderBy(col("adc").asc, col("nb_id").asc)
    codes.join(broadcast(table), Seq("cell", "m", "code"))
      .groupBy(col("q_id"), col("vec_id").as("nb_id"))
      .agg(sum(col("pdist")).as("adc"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 1)
      .select(col("q_id"), col("nb_id"), round(col("adc"), 6).as("adc_dist"))
  }

  /** Recall floors of the two quantizer indexes, cross-multiplied
    * (Den·hits ≥ Num·queries — no fp ratio in the gate), sitting WELL
    * below the measured deterministic values (seeded quantizers: each
    * number is a corpus property, not a draw) so an honest corpus
    * regeneration passes while a broken codebook/cell join fails loudly:
    * - IVF: top-1 lands in the exact top-5 (measured 10/10 at every SF;
    *   floor 1/2; chance is 5/|corpus|).
    * - PQ: ADC is lossy by design and fixed-k containment is not
    *   scale-stable (measured top-5 hits 2/10…6/10 move with corpus
    *   size), so its contract is scale-INVARIANT: top-1's exact rank in
    *   the top DECILE of the corpus ranking (measured 6–8/10 across
    *   SFs; floor 1/2; chance is 1/10 per query, so all-broken sits far
    *   below the floor). */
  val AnnAuditRecallNum = 1
  val AnnAuditRecallDen = 2

  /** The exact corpus ⋈ queries cosine relation (q_id, nb_id, cos) —
    * the shared INPUT of the whole ANN-audit family (r21 verdict item:
    * one memoized assembly, gated consumers). Every audit needs the
    * exact ranking as ground truth (top-1 mass, exact top-5, decile rank
    * counting), and before this substrate each audit re-ran the
    * broadcast(queries) ⋈ scan(corpus) cosine pass up to FIVE times per
    * invocation (plan audit: 5 BroadcastNestedLoopJoin nodes × 19,900
    * scored rows at sf0.1). q_knn_search itself stays fully live — the
    * brute-force scan IS that query's measured artifact; only the
    * audits, whose measured artifact is the certificate computation,
    * read the memoized ground truth (the jaccardEdges/rawDocs
    * shared-input convention). */
  private def knnScored(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"ann.exact.scored:$dir") {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      e.filter(col("vec_id") >= 10)
        .join(broadcast(queries))
        .select(col("q_id"), col("vec_id").as("nb_id"),
          cosine(col("qv"), col("v")).as("cos"))
        .cache()
    }

  /** Exact top-k (q_id, nb_id, cos) off the shared scored substrate —
    * identical ranking expressions to q_knn_search (window by (cos desc,
    * nb_id asc)), so the audits' ground truth is the same relation the
    * brute-force query emits. */
  private def knnExactTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nb_id").asc)
    knnScored(s, dir).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** One-row accuracy certificate shared by the IVF and PQ audits:
    * n_queries and the exact top-1 cosine mass are SQL-derivable (DuckDB
    * recomputes them from the embeddings table — they hash-gate the
    * ground truth), and the index's recall floor is a boolean the oracle
    * asserts literally (the q_cosine_lsh_audit pattern). The exact side
    * reads the memoized [[knnScored]] ground truth (same expressions as
    * q_knn_search's plan); the index side is the audited operator itself
    * — so the certificate exercises the REAL search path, not a copy.
    * The top-1 cosine sum folds in q_id order over the ≤ n_queries
    * collected values (fp order discipline). `hits` is any 1-row (n_hit)
    * relation counting queries that meet the index's contract. */
  private def annAudit(s: SparkSession, dir: String,
      hits: DataFrame, okCol: String): DataFrame = {
    val top1 = knnExactTopK(s, dir, 1)
      .select(col("q_id"), round(col("cos"), 6).as("cos_sim"))
    top1.crossJoin(broadcast(hits))
      .groupBy("n_hit")
      .agg(count(lit(1)).as("n_queries"),
        aggregate(
          transform(array_sort(collect_list(struct(col("q_id"), col("cos_sim").as("t")))),
            x => x.getField("t")),
          lit(0.0), (acc, x) => acc + x).as("cos_mass"))
      .select(col("n_queries"),
        round(col("cos_mass"), 6).as("exact_top1_cos_mass"),
        (col("n_hit") * AnnAuditRecallDen >= col("n_queries") * AnnAuditRecallNum)
          .as(okCol))
  }

  /** q_ann_ivf_audit: the IVF index's certificate — its top-1 must land
    * in the exact top-5 for at least Num/Den of the queries. Upgrades
    * q_ann_ivf from rows-only to a DuckDB-hash-gated contract. */
  def qAnnIvfAudit(s: SparkSession, dir: String): DataFrame = {
    val exact5 = knnExactTopK(s, dir, 5).select(col("q_id"), col("nb_id"))
    val hits = qAnnIvf(s, dir).select(col("q_id"), col("nb_id"))
      .join(exact5, Seq("q_id", "nb_id"))
      .agg(count(lit(1)).as("n_hit"))
    annAudit(s, dir, hits, "ivf_recall_ok")
  }

  /** q_ann_ivf_foldin: IVF index maintenance by FOLD-IN (the ANN twin of
    * the ALS cold-start solve, r18 verdict task 5): production vector
    * indexes do not re-cluster on every ingest — a new-vector batch is
    * ASSIGNED to the frozen coarse quantizer (nearest existing centroid,
    * the same nlist-bounded distance explode as indexing), and the
    * KMeans re-train runs only when distribution drift trips. Here the
    * centroids train on the BASE corpus only (vec_id % 5 ≠ 4 — the
    * incremental family's 80/20 convention) and the delta batch folds
    * into those frozen cells; queries probe nProbe cells and exact
    * cosine re-ranks exactly as q_ann_ivf. RE-TRAIN TRIGGER WIRING: the
    * repo's drift gate is q_embed_drift (per-label centroid shift +
    * dispersion ratio) — a production pipeline runs it over
    * (base ∪ folded) vs base each ingest and schedules the re-cluster
    * when the drift flag fires; until then every batch is one
    * assignment pass, never a Lloyd iteration. Rows-only (clustering is
    * not SQL-expressible); [[qAnnIvfFoldinAudit]] gates recall on the
    * FOLDED index against the exact brute-force top-5. */
  def qAnnIvfFoldin(s: SparkSession, dir: String): DataFrame =
    ivfTop1(s, dir, "ivf.km.base", trainIsFullCorpus = false)

  /** q_ann_ivf_foldin_audit: the folded index's certificate — top-1 from
    * the frozen-centroid index (delta assigned, never re-clustered) must
    * land in the exact top-5 for at least Num/Den of the queries. The
    * contract that proves fold-in maintenance does not silently degrade
    * the index between re-trains. */
  def qAnnIvfFoldinAudit(s: SparkSession, dir: String): DataFrame = {
    val exact5 = knnExactTopK(s, dir, 5).select(col("q_id"), col("nb_id"))
    val hits = qAnnIvfFoldin(s, dir).select(col("q_id"), col("nb_id"))
      .join(exact5, Seq("q_id", "nb_id"))
      .agg(count(lit(1)).as("n_hit"))
    annAudit(s, dir, hits, "ivf_foldin_recall_ok")
  }

  /** q_ann_pq_audit: the ADC product-quantizer certificate — top-1's
    * exact rank must fall in the corpus top decile for at least Num/Den
    * of the queries (see AnnAuditRecallNum doc for why containment-at-k
    * is the wrong contract for a lossy code). The rank is computed by
    * counting corpus vectors that beat the pick under the exact
    * (cos desc, nb_id asc) order — one more broadcast(10-row) ⋈ scan
    * pass, never a global sort. */
  def qAnnPqAudit(s: SparkSession, dir: String): DataFrame =
    decileRankAudit(s, dir,
      qAnnPq(s, dir).select(col("q_id"), col("nb_id")), "pq_recall_ok")

  /** q_ann_ivfpq_audit: the IVFADC certificate — the residual-composed
    * index's top-1 must ALSO land in the corpus top decile for at least
    * Num/Den of the queries (same scale-invariant contract as flat PQ:
    * the composition may only narrow the searched cells and refine the
    * codes, never silently degrade below the lossy-code floor). */
  def qAnnIvfPqAudit(s: SparkSession, dir: String): DataFrame =
    decileRankAudit(s, dir,
      qAnnIvfPq(s, dir).select(col("q_id"), col("nb_id")), "ivfpq_recall_ok")

  /** The shared top-decile rank certificate (see [[qAnnPqAudit]]): the
    * picked neighbor's exact rank is computed by counting corpus vectors
    * that beat it under the exact (cos desc, nb_id asc) order — one more
    * broadcast(10-row) ⋈ scan pass, never a global sort. */
  private def decileRankAudit(s: SparkSession, dir: String,
      pickRel: DataFrame, okCol: String): DataFrame = {
    // the exact scoring is the memoized family substrate; `picks` is
    // query-count-sized but sits in TWO join positions (`better` and
    // `hits`) with the audited index's whole search plan behind it —
    // checkpoint so the ADC scan runs once per audit, not twice
    val scored = knnScored(s, dir)
    val picks = scored.join(broadcast(pickRel), Seq("q_id", "nb_id"))
      .select(col("q_id"), col("nb_id").as("pq_nb"), col("cos").as("pq_cos"))
      .localCheckpoint(true)
    val n = Tables.embeddings(s, dir).filter(col("vec_id") >= 10)
      .agg(count(lit(1)).as("n_corpus"))
    val better = scored.join(broadcast(picks), Seq("q_id"))
      .filter(col("cos") > col("pq_cos") ||
        (col("cos") === col("pq_cos") && col("nb_id") < col("pq_nb")))
      .groupBy("q_id").agg(count(lit(1)).as("n_better"))
    val hits = picks.join(better, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_better"))
      .crossJoin(broadcast(n))
      .filter((col("n_better") + 1) * 10 <= col("n_corpus"))
      .agg(count(lit(1)).as("n_hit"))
    annAudit(s, dir, hits, okCol)
  }

  private def annAuditSql(okCol: String) =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       c AS (SELECT vec_id, v FROM e WHERE vec_id >= 10),
       scored AS (
         SELECT q_id, vec_id AS nb_id,
           list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
         FROM c CROSS JOIN q),
       top1 AS (
         SELECT q_id, round(cos, 6) AS cos_sim FROM (
           SELECT q_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id ASC) AS rank
           FROM scored) WHERE rank = 1)
       SELECT CAST(count(*) AS BIGINT) AS n_queries,
         round(list_sum(list(cos_sim ORDER BY q_id)), 6) AS exact_top1_cos_mass,
         TRUE AS $okCol
       FROM top1"""

  private lazy val qAnnIvfAuditSql = annAuditSql("ivf_recall_ok")
  private lazy val qAnnIvfFoldinAuditSql = annAuditSql("ivf_foldin_recall_ok")
  private lazy val qAnnPqAuditSql = annAuditSql("pq_recall_ok")
  private lazy val qAnnIvfPqAuditSql = annAuditSql("ivfpq_recall_ok")

  /** q_pca: PCA whitening of the embedding space — the standard pre-step
    * before quantization/clustering in an embedding pipeline (most
    * variance in few dims → cheaper ANN, better IVF cells). Distributed
    * covariance accumulation in MLlib, eigendecomposition on the driver
    * (d×d, corpus-size-independent). Emits per-component explained
    * variance plus the cumulative curve. Rows-only (eigensolvers aren't
    * one SQL query); PcaSpec pins orthonormality, monotone variance, and
    * the reconstruction-error ordering. */
  def qPca(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val feats = Tables.embeddings(s, dir)
      .select(array_to_vector(transform(col("embedding"), x => x.cast("double"))).as("features"))
    val model = new org.apache.spark.ml.feature.PCA()
      .setK(8).setInputCol("features").setOutputCol("pc")
      .fit(feats)
    import s.implicits._
    val ev = model.explainedVariance.toArray
    ev.zipWithIndex.map { case (v, i) =>
      (i + 1, math.rint(v * 1e6) / 1e6, math.rint(ev.take(i + 1).sum * 1e6) / 1e6)
    }.toSeq.toDF("component", "explained_var", "cum_var")
  }

  /** q_pca_audit: eigen-spectrum accuracy certificate for the PCA path —
    * upgrades rows-only q_pca with a DuckDB-hash-gated contract (the
    * q_minhash_audit pattern applied to the eigensolver): the data-side
    * anchor `total_var_pop` is the POPULATION total variance accumulated
    * as EXACT decimals (float→double→DECIMAL(18,9) per cell, identical
    * cast chain in the oracle; Σ_d (n·Σx² − (Σx)²) stays integer-scaled
    * decimal to one final double division), and the trace identity
    * Σλ·(n−1)/n = total_var_pop must hold to 1e-6 relative — tying the
    * DISTRIBUTED covariance accumulation (RowMatrix, one pass) AND the
    * driver-side d×d eigendecomposition (breeze eigSym; d² work,
    * corpus-size-independent) to an independently-computed exact value.
    * A broken Gram accumulation, a transposed covariance, or a
    * non-converged eigensolver fails trace/orthonormality/PSD; a
    * desynced MLlib pipeline fails `mllib_consistent` (ml.feature.PCA's
    * k=8 explained-variance proportions vs λᵢ/Σλ). */
  def qPcaAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val dec = col("x").cast("double").cast("decimal(18,9)")
    val mom = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), dec.as("xd"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("xd")).as("sx"),
        sum(col("xd") * col("xd")).as("sxx"))
    val tot = mom
      .agg(first(col("n")).as("n"), count(lit(1)).as("n_dims"),
        sum(col("n") * col("sxx") - col("sx") * col("sx")).as("num"))
      .select(col("n"), col("n_dims"),
        (col("num").cast("double") /
          (col("n").cast("double") * col("n").cast("double"))).as("tv"))
      .collect().head
    val n = tot.getAs[Long]("n")
    val nDims = tot.getAs[Long]("n_dims")
    val totalVarPop = tot.getAs[Double]("tv")
    val feats = Tables.embeddings(s, dir)
      .select(array_to_vector(
        transform(col("embedding"), x => x.cast("double"))).as("features"))
    val rm = new org.apache.spark.mllib.linalg.distributed.RowMatrix(
      feats.rdd.map(r => org.apache.spark.mllib.linalg.Vectors.fromML(
        r.getAs[org.apache.spark.ml.linalg.Vector](0))))
    val cov = rm.computeCovariance() // SAMPLE covariance (n−1 denominator)
    val d = cov.numRows
    val es = breeze.linalg.eigSym(
      new breeze.linalg.DenseMatrix[Double](d, d, cov.toArray))
    val lambda = es.eigenvalues.toArray.sorted.reverse
    val vtv = es.eigenvectors.t * es.eigenvectors
    var orthoDev = 0.0
    for (i <- 0 until d; j <- 0 until d)
      orthoDev = math.max(orthoDev,
        math.abs(vtv(i, j) - (if (i == j) 1.0 else 0.0)))
    val sumL = lambda.sum
    val traceOk =
      math.abs(sumL * (n - 1).toDouble / n.toDouble - totalVarPop) <=
        1e-6 * totalVarPop
    val spectrumOk = lambda.min >= -1e-10 &&
      lambda.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-12)
    val ev = new org.apache.spark.ml.feature.PCA().setK(8)
      .setInputCol("features").setOutputCol("pc").fit(feats)
      .explainedVariance.toArray
    val mllibOk = ev.zip(lambda.take(8)).forall { case (p, l) =>
      math.abs(p - l / sumL) <= 1e-6
    }
    import s.implicits._
    // HALF-UP like DuckDB round() (math.rint's HALF_EVEN would diverge
    // on an exact .5 tie of this positive value)
    Seq((n, nDims, math.floor(totalVarPop * 1e6 + 0.5) / 1e6, traceOk, spectrumOk,
      orthoDev < 1e-8, mllibOk))
      .toDF("n", "n_dims", "total_var_pop", "trace_ok", "spectrum_ok",
        "orthonormal_ok", "mllib_consistent")
  }

  private lazy val qPcaAuditSql =
    """WITH ex AS (SELECT unnest(embedding) AS xf,
           generate_subscripts(embedding, 1) AS dim FROM embeddings),
       dm AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
                sum(CAST(CAST(xf AS DOUBLE) AS DECIMAL(18,9))) AS sx,
                sum(CAST(CAST(xf AS DOUBLE) AS DECIMAL(18,9))
                  * CAST(CAST(xf AS DOUBLE) AS DECIMAL(18,9))) AS sxx
              FROM ex GROUP BY 1),
       t AS (SELECT any_value(n) AS n, CAST(count(*) AS BIGINT) AS n_dims,
               sum(n * sxx - sx * sx) AS num
             FROM dm)
       SELECT n, n_dims,
         round(CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
           AS total_var_pop,
         TRUE AS trace_ok, TRUE AS spectrum_ok, TRUE AS orthonormal_ok,
         TRUE AS mllib_consistent
       FROM t"""

  /** nDCG cutoff. */
  val NdcgK = 10

  /** q_ndcg: graded retrieval quality of the exact cosine ranking —
    * nDCG@10 per query with binary label-match relevance, the
    * rank-position-weighted companion to q_ann_recall's set-overlap
    * (recall can't see WHERE in the list the relevant items land; nDCG
    * discounts by log₂ rank). Same broadcast(queries) ⋈ scan(corpus)
    * shape as q_knn_search; DCG is an ordered fold over the K collected
    * terms in rank order (the q_class_centroids determinism move —
    * a grouped fp sum would be partition-order-sensitive), and the ideal
    * DCG unrolls a bounded min(K, n_rel) sequence per query, so both
    * engines walk identical IEEE additions. n_rel counts come from a
    * label-bounded broadcast aggregate, never a second corpus pass per
    * query. */
  def qNdcg(s: SparkSession, dir: String): DataFrame = {
    val k = NdcgK
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("v").as("qv"))
    val corpus = e.filter(col("vec_id") >= 10)
    val relCounts = corpus.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("n_rel_corpus"))
    val scored = corpus.join(broadcast(queries))
      .select(col("q_id"), col("q_label"), col("vec_id").as("nb_id"), col("label"),
        cosine(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nb_id").asc)
    val top = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("rel", (col("label") === col("q_label")).cast("int"))
    val dcgTerm = col("rel").cast("double") / log2(col("rank") + 1)
    val agg = top.groupBy("q_id", "q_label")
      .agg(sum(col("rel")).as("n_rel_topk"),
        aggregate(
          transform(array_sort(collect_list(struct(col("rank"), dcgTerm.as("term")))),
            x => x.getField("term")),
          lit(0.0), (acc, x) => acc + x).as("dcg"))
    val idcg = aggregate(
      transform(sequence(lit(1L), least(lit(k.toLong), col("n_rel_corpus"))),
        i => lit(1.0) / log2(i.cast("double") + 1)),
      lit(0.0), (acc, x) => acc + x)
    agg.join(broadcast(relCounts), Seq("q_label"))
      .withColumn("idcg", idcg)
      .select(col("q_id"), col("q_label"), col("n_rel_corpus"), col("n_rel_topk"),
        round(col("dcg"), 6).as("dcg"), round(col("idcg"), 6).as("idcg"),
        when(col("idcg") === 0.0, lit(null))
          .otherwise(round(col("dcg") / col("idcg"), 6)).as("ndcg"))
  }

  private val qNdcgSql =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e WHERE vec_id < 10),
       c AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 10),
       rc AS (SELECT label AS q_label, CAST(count(*) AS BIGINT) AS n_rel_corpus
              FROM c GROUP BY 1),
       scored AS (
         SELECT q_id, q_label, c.vec_id AS nb_id, c.label AS nb_label,
           list_dot_product(qv, v) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
         FROM c CROSS JOIN q),
       ranked AS (
         SELECT q_id, q_label, nb_id, nb_label, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id ASC) AS rank
         FROM scored),
       top AS (SELECT q_id, q_label, rank,
                 CASE WHEN nb_label = q_label THEN 1 ELSE 0 END AS rel
               FROM ranked WHERE rank <= $NdcgK),
       a AS (SELECT q_id, q_label, CAST(sum(rel) AS BIGINT) AS n_rel_topk,
               list_sum(list(CAST(rel AS DOUBLE) / log2(rank + 1) ORDER BY rank)) AS dcg
             FROM top GROUP BY 1, 2),
       i AS (SELECT a.q_id, a.q_label, a.n_rel_topk, a.dcg, rc.n_rel_corpus,
               list_sum(list_transform(generate_series(1,
                 CAST(least($NdcgK, rc.n_rel_corpus) AS INT)),
                 x -> 1.0 / log2(CAST(x AS DOUBLE) + 1))) AS idcg
             FROM a JOIN rc USING (q_label))
       SELECT q_id, q_label, n_rel_corpus, n_rel_topk,
         round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
         CASE WHEN idcg = 0 THEN NULL ELSE round(dcg / idcg, 6) END AS ndcg
       FROM i"""

  /** RRF fusion constant (the standard 60 from Cormack et al.). */
  val RrfC = 60

  /** q_rrf: reciprocal-rank fusion of two retrieval rankings — the
    * hybrid-search combiner (sparse+dense, or here full-space and
    * Matryoshka-truncated cosine, the two rankings q_mrl_audit already
    * audits): score(d) = Σ_r 1/(C + rank_r(d)), which needs no score
    * calibration between systems because only RANKS enter. One scored
    * corpus scan produces both rankings (the q_mrl_audit shape); the
    * fused score is a fixed double expression of two integer ranks, so
    * the gate hashes exactly; fused order breaks ties on nb_id. */
  def qRrf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val corpus = e.filter(col("vec_id") >= 10)
    val scored = corpus.join(broadcast(queries))
      .select(col("q_id"), col("vec_id").as("nb_id"),
        cosine(col("qv"), col("v")).as("cf"),
        cosine(slice(col("qv"), 1, MrlDims), slice(col("v"), 1, MrlDims)).as("ct"))
    val wF = Window.partitionBy("q_id").orderBy(col("cf").desc, col("nb_id").asc)
    val wT = Window.partitionBy("q_id").orderBy(col("ct").desc, col("nb_id").asc)
    val rrf = lit(1.0) / (lit(RrfC) + col("rf")) + lit(1.0) / (lit(RrfC) + col("rt"))
    val wFuse = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("nb_id").asc)
    scored
      .withColumn("rf", row_number().over(wF))
      .withColumn("rt", row_number().over(wT))
      .withColumn("rrf", rrf)
      .withColumn("fused_rank", row_number().over(wFuse))
      .filter(col("fused_rank") <= 5)
      .select(col("q_id"), col("fused_rank"), col("nb_id"),
        col("rf"), col("rt"), round(col("rrf"), 6).as("rrf_score"))
  }

  private lazy val qRrfSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       c AS (SELECT vec_id, v FROM e WHERE vec_id >= 10),
       scored AS (
         SELECT q_id, c.vec_id AS nb_id,
           list_dot_product(qv, v) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cf,
           list_dot_product(qv[1:$MrlDims], v[1:$MrlDims]) /
             (sqrt(list_dot_product(qv[1:$MrlDims], qv[1:$MrlDims]))
              * sqrt(list_dot_product(v[1:$MrlDims], v[1:$MrlDims]))) AS ct
         FROM c CROSS JOIN q),
       ranked AS (
         SELECT q_id, nb_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cf DESC, nb_id ASC) AS rf,
           row_number() OVER (PARTITION BY q_id ORDER BY ct DESC, nb_id ASC) AS rt
         FROM scored),
       fused AS (
         SELECT q_id, nb_id, rf, rt,
           1.0 / ($RrfC + rf) + 1.0 / ($RrfC + rt) AS rrf,
           row_number() OVER (PARTITION BY q_id
             ORDER BY 1.0 / ($RrfC + rf) + 1.0 / ($RrfC + rt) DESC, nb_id ASC)
             AS fused_rank
         FROM ranked)
       SELECT q_id, fused_rank, nb_id, rf, rt, round(rrf, 6) AS rrf_score
       FROM fused WHERE fused_rank <= 5"""

  /** LOF neighborhood size and panel width (the LOWEST-id vectors form a
    * fixed, corpus-size-independent panel — the exactness gate; the
    * full-corpus path LSH-prefilters candidates exactly like q_ann_lsh
    * over q_knn_search's exact gate). */
  val LofK = 5
  val LofN = 400

  /** q_lof: Local Outlier Factor (Breunig et al. 2000) over the
    * embedding panel — the DENSITY-relative anomaly score the z-score
    * family can't express (q_embed_outliers flags points far from their
    * label centroid; LOF flags points whose local density is low
    * RELATIVE to their own neighbors' densities, catching outliers
    * inside sparse-but-legitimate clusters and ignoring dense-cluster
    * borders): exact kNN by euclidean distance via the
    * d² = |a|²+|b|²−2ab dot-product identity (the codegen DotProduct
    * kernel whose IEEE order already hash-matches DuckDB's
    * list_dot_product), reach-dist_k(i←j) = max(kdist(j), d(i,j)),
    * lrd = k/Σreach, LOF = Σlrd(j)/(k·lrd(i)) — every sum a
    * neighbor-ordered bounded fold, every division mirrored, the
    * neighbor SET taken as rank ≤ k with id tie-break (deterministic in
    * both engines; the classical ties-inclusive variant differs only on
    * exact distance ties). Zero-sum lrd guards return NULL identically.
    * The panel is the LOWEST [[LofN]] ids: fixed work at every corpus
    * scale, with the LSH-prefilter as the documented full-corpus path. */
  def qLof(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val wAll = Window.orderBy(col("vec_id").asc)
    val panel = e.withColumn("rnk", row_number().over(wAll))
      .filter(col("rnk") <= LofN)
      .select(col("vec_id"), col("v"),
        graft.functions.VectorMath.dot(col("v"), col("v")).as("nn"))
    val pr = panel.select(col("vec_id").as("i"), col("v").as("va"),
        col("nn").as("na"))
      .join(panel.select(col("vec_id").as("j"), col("v").as("vb"),
        col("nn").as("nb")), col("i") =!= col("j"))
      .select(col("i"), col("j"),
        sqrt(greatest(col("na") + col("nb") -
          lit(2.0) * graft.functions.VectorMath.dot(col("va"), col("vb")),
          lit(0.0))).as("d"))
    val wI = Window.partitionBy("i").orderBy(col("d").asc, col("j").asc)
    val knn = pr.withColumn("rk", row_number().over(wI))
      .filter(col("rk") <= LofK)
      .localCheckpoint(true)
    val kd = knn.groupBy("i").agg(max(col("d")).as("kdist"))
    val rch = knn.join(kd.select(col("i").as("j"), col("kdist").as("kd_j")),
        Seq("j"))
      .select(col("i"), col("j"), greatest(col("kd_j"), col("d")).as("reach"))
    def foldBy(by: Column, term: Column) =
      aggregate(transform(array_sort(collect_list(struct(by,
        term.as("t")))), r => r.getField("t")), lit(0.0), (a, t) => a + t)
    val lrd = rch.groupBy("i").agg(foldBy(col("j"), col("reach")).as("sr"))
      .select(col("i"),
        when(col("sr") > 0, lit(LofK.toDouble) / col("sr")).as("lrd"))
    // NULL-lrd neighbors (all-zero reach sums from ≥k duplicate vectors)
    // are dropped BEFORE the fold: Spark's + propagates the NULL while
    // DuckDB's list_sum skips it, so the summed term sets must be made
    // identical by filtering in both engines.
    val slrd = knn
      .join(lrd.select(col("i").as("j"), col("lrd").as("lrd_j")), Seq("j"))
      .filter(col("lrd_j").isNotNull)
      .groupBy("i").agg(foldBy(col("j"), col("lrd_j")).as("slrd"))
    kd.join(lrd, Seq("i")).join(slrd, Seq("i"))
      .select(col("i").as("vec_id"), round(col("kdist"), 6).as("kdist"),
        round(col("lrd"), 6).as("lrd"),
        round(col("slrd") / (lit(LofK.toDouble) * col("lrd")), 6).as("lof"))
  }

  private lazy val qLofSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
       pnl AS (SELECT vec_id, v, list_dot_product(v, v) AS nn FROM (
           SELECT vec_id, v, row_number() OVER (ORDER BY vec_id ASC) AS rnk
           FROM e) WHERE rnk <= $LofN),
       pr AS (SELECT a.vec_id AS i, b.vec_id AS j,
                sqrt(greatest(a.nn + b.nn
                  - 2.0 * list_dot_product(a.v, b.v), 0.0)) AS d
              FROM pnl a JOIN pnl b ON a.vec_id <> b.vec_id),
       knn AS (SELECT i, j, d FROM (
           SELECT i, j, d, row_number() OVER (PARTITION BY i
             ORDER BY d ASC, j ASC) AS rk
           FROM pr) WHERE rk <= $LofK),
       kd AS (SELECT i, max(d) AS kdist FROM knn GROUP BY i),
       rch AS (SELECT knn.i, knn.j, greatest(kdj.kdist, knn.d) AS reach
               FROM knn JOIN kd kdj ON kdj.i = knn.j),
       lrd AS (SELECT i,
                 CASE WHEN list_sum(list(reach ORDER BY j)) > 0
                   THEN ${LofK.toDouble} / list_sum(list(reach ORDER BY j))
                   END AS lrd
               FROM rch GROUP BY i),
       sl AS (SELECT knn.i, list_sum(list(lj.lrd ORDER BY knn.j)) AS slrd
              FROM knn JOIN lrd lj ON lj.i = knn.j
              WHERE lj.lrd IS NOT NULL GROUP BY knn.i)
       SELECT kd.i AS vec_id, round(kd.kdist, 6) AS kdist,
         round(l.lrd, 6) AS lrd,
         round(sl.slrd / (${LofK.toDouble} * l.lrd), 6) AS lof
       FROM kd JOIN lrd l ON l.i = kd.i JOIN sl ON sl.i = kd.i"""

  /** RBO persistence parameter and evaluation depth (Webber et al. 2010;
    * p = 0.9 ≈ "the reader's attention covers the top 10"). The weights
    * p^(d−1) are precomputed ONCE here and injected into both engines as
    * identical shortest-roundtrip literals — the q_viterbi discipline
    * for libm-derived constants. */
  val RboP = 0.9
  val RboK = 20
  lazy val RboWeights: Array[Double] =
    Array.iterate(1.0, RboK)(_ * RboP)

  /** q_rbo: rank-biased overlap between the top-[[RboK]] part-revenue
    * rankings of the two HALVES of the order calendar — "did the
    * best-seller list change, and how deeply?": the ranking-SIMILARITY
    * member beside the retrieval graders (q_ndcg/q_mrr/q_map score one
    * ranking against labels; q_rrf fuses two; RBO compares two rankings
    * to each other with top-weighted geometric attention,
    * RBO = (1−p)·Σ_d p^(d−1)·|A_:d ∩ B_:d|/d — Webber et al. 2010, the
    * standard for comparing search-engine result drift). The overlap
    * curve is computed the set-free way: every part in both top-K joins
    * once, m = max(rank_a, rank_b), and |A_:d ∩ B_:d| is the running
    * count of m ≤ d — one cumulative sum over the densified depth grid,
    * exact integers; agreement divides once per depth and the cumulative
    * RBO is a depth-ordered running sum of weight·agreement (sequential
    * in both engines). Ranks are revenue-desc with partkey tie-break
    * over exact decimal sums; the calendar splits at the midpoint day of
    * the order-date range. Scale shape: two fact aggregates →
    * part-dimension ranks → a K-bounded join and a 20-row grid. */
  def qRbo(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("part"), col("o_orderdate").as("od"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"))
    // floor() rather than a bare int cast: Spark CAST(double AS INT)
    // truncates while DuckDB rounds — floor is the one shared semantic
    val mid = li.agg(min(col("od")).as("d0"), max(col("od")).as("d1"))
      .select(floor(datediff(col("d1"), col("d0")) / 2).cast("int")
        .as("half"), col("d0"))
    val tagged = li.crossJoin(broadcast(mid))
      .select(col("part"), col("price"),
        (datediff(col("od"), col("d0")) <= col("half")).as("first_half"))
    val w = Window.partitionBy("first_half")
      .orderBy(col("rev").desc, col("part").asc)
    val ranked = tagged.groupBy("first_half", "part")
      .agg(sum(col("price")).as("rev"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= RboK)
    // both sides are rank-filtered to ≤ K rows, but the planner's size
    // estimate behind the window keeps picking SortMergeJoin (plan
    // audit: 2 SMJs + their sort/exchange pairs over ≤ 20-row inputs) —
    // broadcast the K-bounded relations explicitly (guide §3.1)
    val both = ranked.filter(col("first_half"))
      .select(col("part"), col("rk").as("ra"))
      .join(broadcast(ranked.filter(!col("first_half"))
        .select(col("part"), col("rk").as("rb"))), Seq("part"))
      .select(greatest(col("ra"), col("rb")).as("m"))
      .groupBy("m").agg(count(lit(1)).as("c"))
    val weights = array(RboWeights.map(lit(_)): _*)
    val grid = s.range(1, RboK + 1)
      .select(col("id").cast("int").as("d"))
    val wCum = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(broadcast(both), col("m") === col("d"), "left_outer")
      .select(col("d"), coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("overlap", sum(col("c")).over(wCum))
      .select(col("d"), col("overlap"),
        (col("overlap").cast("double") / col("d")).as("agree"),
        element_at(weights, col("d")).as("wt"))
      .withColumn("rbo_cum",
        sum(col("agree") * col("wt")).over(wCum) * (1.0 - RboP))
      .select(col("d"), col("overlap"), round(col("agree"), 6).as("agreement"),
        round(col("wt"), 6).as("weight"), round(col("rbo_cum"), 6).as("rbo"))
  }

  private lazy val qRboSql = {
    val wts = RboWeights.mkString("[", ", ", "]")
    s"""WITH li AS (SELECT l_partkey AS part, o_orderdate AS od,
           CAST(l_extendedprice AS DECIMAL(18,2)) AS price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       mid AS (SELECT CAST(floor(date_diff('day', min(od), max(od)) / 2)
                 AS INT) AS half, min(od) AS d0
               FROM li),
       tagged AS (SELECT part, price,
                    date_diff('day', d0, od) <= half AS first_half
                  FROM li CROSS JOIN mid),
       ranked AS (SELECT * FROM (
           SELECT first_half, part, sum(price) AS rev,
             row_number() OVER (PARTITION BY first_half
               ORDER BY sum(price) DESC, part ASC) AS rk
           FROM tagged GROUP BY first_half, part)
         WHERE rk <= $RboK),
       ov AS (SELECT greatest(a.rk, b.rk) AS m,
                CAST(count(*) AS BIGINT) AS c
              FROM ranked a JOIN ranked b
                ON a.part = b.part AND a.first_half AND NOT b.first_half
              GROUP BY 1),
       grid AS (SELECT CAST(unnest(range(1, $RboK + 1)) AS INT) AS d),
       dense AS (SELECT d, coalesce(c, 0) AS c
                 FROM grid LEFT JOIN ov ON ov.m = grid.d),
       cum AS (SELECT d,
                 CAST(sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS overlap,
                 CAST($wts AS DOUBLE[]) AS wts
               FROM dense),
       sc AS (SELECT d, overlap,
                CAST(overlap AS DOUBLE) / d AS agree,
                wts[d] AS wt
              FROM cum)
       SELECT d, overlap, round(agree, 6) AS agreement,
         round(wt, 6) AS weight,
         round(sum(agree * wt) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
           * ${1.0 - RboP}, 6) AS rbo
       FROM sc"""
  }

  /** q_mrr: reciprocal rank of the FIRST relevant hit per query — the
    * retrieval metric that grades single-answer lookups (nDCG grades the
    * whole list; MRR only cares where the first same-label item lands).
    * Same one-scan broadcast shape as q_ndcg; the first-relevant rank is
    * a plain min over the relevant subset (no second window), rr = 1/rank
    * divides once. */
  def qMrr(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("v").as("qv"))
    val corpus = e.filter(col("vec_id") >= 10)
    val scored = corpus.join(broadcast(queries))
      .select(col("q_id"), col("q_label"), col("vec_id").as("nb_id"), col("label"),
        cosine(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nb_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("label") === col("q_label"))
      .groupBy("q_id", "q_label")
      .agg(min(col("rank")).cast("long").as("first_rel_rank"))
      .select(col("q_id"), col("q_label"), col("first_rel_rank"),
        round(lit(1.0) / col("first_rel_rank"), 6).as("rr"))
  }

  /** MAP cutoff (standard MAP@10). LCM(1..10) = 2520 keeps every
    * precision@k term integer. */
  val MapK = 10

  /** q_map: mean-average-precision@10 per query — completes the
    * retrieval-metric family (recall@k, nDCG@10, MRR, RRF): AP averages
    * precision@k over the relevant ranks, rewarding relevant mass packed
    * at the top. Exact-integer discipline: precision@k = relcnt/k is a
    * rational with denominator ≤ 10, so every AP term is scaled by
    * LCM(1..10) = 2520 — ap_num = Σ rel_k · relcnt_k · (2520 div k) stays
    * a BIGINT, and ONE shared double division by 2520·min(R, 10) makes
    * the 6dp round fp-immune (no order-sensitive double sum anywhere).
    * Same broadcast-queries ⋈ corpus scan shape as q_mrr. */
  def qMap(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("v").as("qv"))
    val corpus = e.filter(col("vec_id") >= 10)
    val relTotals = corpus.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("n_rel"))
    val scored = corpus.join(broadcast(queries))
      .select(col("q_id"), col("q_label"), col("vec_id").as("nb_id"), col("label"),
        cosine(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nb_id").asc)
    val top = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= MapK)
      .withColumn("rel", (col("label") === col("q_label")).cast("long"))
      .withColumn("relcnt", sum(col("rel")).over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("nb_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    top
      .withColumn("term", col("rel") * col("relcnt") * expr("2520 div rank"))
      .groupBy("q_id", "q_label")
      .agg(sum(col("rel")).as("n_rel10"), sum(col("term")).as("ap_num"))
      .join(broadcast(relTotals), Seq("q_label"))
      .select(col("q_id"), col("q_label"), col("n_rel10"),
        round(col("ap_num").cast("double") /
          (lit(2520L) * least(col("n_rel"), lit(MapK.toLong))), 6).as("ap"))
  }

  private val qMapSql =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e WHERE vec_id < 10),
       c AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 10),
       rt AS (SELECT label AS q_label, CAST(count(*) AS BIGINT) AS n_rel FROM c GROUP BY 1),
       scored AS (
         SELECT q_id, q_label, vec_id AS nb_id, label,
           list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
         FROM c CROSS JOIN q),
       ranked AS (
         SELECT q_id, q_label, label, cos, nb_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id ASC) AS rank
         FROM scored),
       top AS (
         SELECT q_id, q_label, rank,
           CASE WHEN label = q_label THEN 1 ELSE 0 END AS rel,
           CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
             OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id ASC) AS BIGINT) AS relcnt
         FROM ranked WHERE rank <= $MapK),
       agg AS (
         SELECT q_id, q_label, CAST(sum(rel) AS BIGINT) AS n_rel10,
           CAST(sum(rel * relcnt * (2520 // rank)) AS BIGINT) AS ap_num
         FROM top GROUP BY 1, 2)
       SELECT q_id, q_label, n_rel10,
         round(CAST(ap_num AS DOUBLE) / (2520 * LEAST(n_rel, $MapK)), 6) AS ap
       FROM agg JOIN rt USING (q_label)"""

  private val qMrrSql =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e WHERE vec_id < 10),
       c AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 10),
       scored AS (
         SELECT q_id, q_label, c.vec_id AS nb_id, c.label AS nb_label,
           list_dot_product(qv, v) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
         FROM c CROSS JOIN q),
       ranked AS (
         SELECT q_id, q_label, nb_label,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id ASC) AS rank
         FROM scored)
       SELECT q_id, q_label, CAST(min(rank) AS BIGINT) AS first_rel_rank,
         round(1.0 / min(rank), 6) AS rr
       FROM ranked WHERE nb_label = q_label GROUP BY q_id, q_label"""

  /** Cluster count of the first-class k-means (GRAFT_KMEANS_K; the audit
    * oracle interpolates the same value, the hdpT pattern). */
  def kmK: Int = sys.env.get("GRAFT_KMEANS_K").map(_.toInt).getOrElse(8)
  /** Lloyd iteration budget (fixed — the trajectory certificate checks
    * descent over exactly these steps). */
  val KmIters = 10

  /** First-class DETERMINISTIC Lloyd's k-means over the embedding table —
    * the clustering primitive under SemDeDup (arXiv:2303.09540 clusters
    * with k-means before in-cluster dedup; q_dedup_semantic uses MLlib's
    * seeded fit) promoted to an operator whose trajectory is
    * bit-reproducible at ANY partitioning:
    *
    *  - init: deterministic farthest-first (Gonzalez) seeding — the first
    *    seed is the md5(vec_id)-minimal point (the engine's
    *    deterministic-shuffle draw), each next seed the point farthest
    *    from its nearest chosen seed (smallest vec_id on ties). The
    *    reproducible analogue of k-means++ (maximin is its
    *    2-approximation backbone): on well-separated data it lands one
    *    seed per natural group, where a plain random draw can seed two
    *    centroids in one group and leave Lloyd in the split-group local
    *    minimum. k−1 extra one-aggregation scans at init, scale-free
    *    driver state;
    *  - assignment: argmin squared L2 via the codegen'd dot kernel
    *    (dist_c = v·v − 2·v·cen_c + cen_c·cen_c; the v·v term is common,
    *    so the per-cluster expression is one fused dot against a literal
    *    array), first-index tie-break;
    *  - update: per-cluster per-dim sums as EXACT DECIMAL(38,20)
    *    aggregations — decimal addition is associative-exact, so the
    *    cross-partition merge order cannot change a single bit (the house
    *    discipline fitModifiedHuber documents but does not pay; here ONE
    *    aggregation per iteration carries k×(d+2) cells to the driver and
    *    the relation is scanned, never collected);
    *  - inertia: per-row double distance floored at 0, cast DECIMAL(38,18),
    *    exact-summed — the recorded descent trajectory is deterministic.
    *
    * Each iteration is one map-side-combined aggregation job over the
    * cached relation (k·(d+2) decimals to the driver — scale-free), the
    * same 100 TB shape as the gradient trainer. Empty clusters keep their
    * previous centroid (MLlib's behavior). Returns (final centroids,
    * assignment-inertia trajectory, final per-cluster relation). */
  private def kmeansRun(s: SparkSession, dir: String)
      : (Array[Array[Double]], Seq[Double], DataFrame) =
    graft.ModelCache.getOrElseUpdate(s, s"ss.kmeans:$dir:$kmK") {
      val k = kmK
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        .cache()
      val d = Dim
      def minDist(cs: Array[Array[Double]]): Column =
        greatest(array_min(array(cs.map { c =>
          val c2 = c.map(x => x * x).sum
          dot(col("v"), array(c.map(lit): _*)) * -2.0 + c2
        }: _*)) + dot(col("v"), col("v")), lit(0.0))
      val seed0 = e.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(1).collect()(0).getSeq[Double](1).toArray
      val seeds = scala.collection.mutable.ArrayBuffer(seed0)
      while (seeds.size < k) {
        val far = e.agg(max(struct(minDist(seeds.toArray).as("md"),
          (-col("vec_id")).as("nid"), col("v"))).as("m"))
          .select(col("m.v")).collect()(0).getSeq[Double](0).toArray
        seeds += far
      }
      var cens: Array[Array[Double]] = seeds.toArray
      val traj = scala.collection.mutable.ArrayBuffer.empty[Double]
      def assigned: DataFrame = {
        val dists = array(cens.map { c =>
          val c2 = c.map(x => x * x).sum
          dot(col("v"), array(c.map(lit): _*)) * -2.0 + c2
        }: _*)
        e.withColumn("cl", (array_position(dists, array_min(dists)) - 1).cast("int"))
          .withColumn("mind",
            greatest(array_min(dists) + dot(col("v"), col("v")), lit(0.0)))
      }
      for (_ <- 0 until KmIters) {
        val aggs = Seq(count(lit(1)).as("n"),
          sum(col("mind").cast("decimal(38,18)")).as("in")) ++
          (0 until d).map(j =>
            sum(col("v")(j).cast("decimal(38,20)")).as(s"s$j"))
        val rows = assigned.groupBy("cl")
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        traj += rows.map(r => r.getDecimal(2)).foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
          .doubleValue
        val next = cens.map(_.clone())
        rows.foreach { r =>
          val c = r.getInt(0); val n = r.getLong(1)
          if (n > 0L) next(c) = Array.tabulate(d)(j =>
            r.getDecimal(3 + j).doubleValue / n)
        }
        cens = next
      }
      val fin = assigned.groupBy("cl")
        .agg(count(lit(1)).as("n"),
          round(sum(col("mind").cast("decimal(38,18)")).cast("double"), 6).as("inertia"))
        .select(col("cl").as("cluster"), col("n"), col("inertia"))
        .cache()
      fin.count()
      e.unpersist()
      (cens, traj.toSeq, fin)
    }

  /** q_kmeans: the final per-cluster accounting (cluster, size, exact
    * in-cluster inertia at 6dp) of the deterministic Lloyd run. Rows-only
    * gate (iterative training); q_kmeans_audit hash-anchors the
    * accounting. */
  def qKmeans(s: SparkSession, dir: String): DataFrame = kmeansRun(s, dir)._3

  val GmmK = 4
  val GmmIters = 10
  val GmmSeed = 20260815L
  /** GMM runs in the Matryoshka-TRUNCATED leading-dim space (the
    * q_mrl_audit precedent): full-covariance EM estimates a d×d matrix
    * per component, which wants n ≫ d² points per component — 64 dims
    * over these corpora would court singular covariances, 8 dims is the
    * honest density model. */
  val GmmDim = 8

  private def gmmInput(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        array_to_vector(transform(slice(col("embedding"), 1, GmmDim),
          x => x.cast("double"))).as("features"))
  }

  def gmmFit(s: SparkSession, dir: String)
      : org.apache.spark.ml.clustering.GaussianMixtureModel =
    graft.ModelCache.getOrElseUpdate(s, s"sim.gmm:$dir") {
      new org.apache.spark.ml.clustering.GaussianMixture()
        .setK(GmmK).setMaxIter(GmmIters).setSeed(GmmSeed).setTol(0.0)
        .setFeaturesCol("features")
        .fit(gmmInput(s, dir))
    }

  /** q_gmm: Gaussian-mixture density model over the truncated embedding
    * space — the SOFT-assignment member completing the clustering family
    * (65b k-means is the hard-assignment EM limit, 65s HAC the
    * hierarchical view, 65i silhouette the quality score). Emits the
    * mixture summary per component: weight, mean norm, covariance trace
    * (total within-component variance), ordered by weight for a stable
    * read. Rows-only gate (EM training — distributed sufficient-stat
    * aggregation, the vocabulary-free E-step never collects the corpus);
    * q_gmm_audit hash-anchors the accounting. */
  def qGmm(s: SparkSession, dir: String): DataFrame = {
    val m = gmmFit(s, dir)
    import s.implicits._
    val rows = m.weights.zipWithIndex.map { case (w, i) =>
      val g = m.gaussians(i)
      val muNorm = math.sqrt(g.mean.toArray.map(x => x * x).sum)
      val trace = (0 until GmmDim).map(j => g.cov(j, j)).sum
      (i, w, muNorm, trace)
    }.toSeq
    rows.toDF("component", "weight", "mu_norm", "cov_trace")
      .select(col("component"),
        round(col("weight"), 6).as("weight"),
        round(col("mu_norm"), 6).as("mu_norm"),
        round(col("cov_trace"), 6).as("cov_trace"))
      .orderBy(col("weight").desc, col("component").asc)
  }

  /** q_gmm_audit: mixture-model certificate (the q_kmeans_audit shape).
    * SQL-derivable anchors: n_points (independent embeddings row count)
    * and the fixed k/dim. Guarantees asserted Spark-side, oracle emits
    * TRUE:
    *  - `weights_ok`: mixture weights are positive and sum to 1 within
    *    1e-9 (EM's simplex invariant);
    *  - `resp_ok`: the posterior responsibility vector of EVERY corpus
    *    row has k entries summing to 1 within 1e-6, and exactly n_points
    *    rows were scored (a dropped partition breaks it);
    *  - `finite_ok`: every mean/covariance entry is finite (a collapsed
    *    component is loud, not silent);
    *  - `cov_diag_ok`: all covariance diagonals are strictly positive
    *    (the density is proper — no singular direction). */
  def qGmmAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    val m = gmmFit(s, dir)
    val nPoints = Tables.embeddings(s, dir).count()
    val weightsOk = m.weights.forall(_ > 0.0) &&
      math.abs(m.weights.sum - 1.0) < 1e-9
    val finiteOk = m.gaussians.forall { g =>
      g.mean.toArray.forall(x => !x.isNaN && !x.isInfinite) &&
        g.cov.toArray.forall(x => !x.isNaN && !x.isInfinite)
    }
    val covDiagOk = m.gaussians.forall(g =>
      (0 until GmmDim).forall(j => g.cov(j, j) > 0.0))
    val scored = m.transform(gmmInput(s, dir))
      .select(vector_to_array(col("probability")).as("p"))
      .select(size(col("p")).as("klen"),
        abs(aggregate(col("p"), lit(0.0), (a, x) => a + x) - 1.0).as("gap"))
    val respOk = scored.count() == nPoints &&
      scored.filter(col("klen") =!= GmmK || col("gap") > 1e-6).count() == 0
    import s.implicits._
    Seq((nPoints, GmmK.toLong, GmmDim.toLong,
      weightsOk, respOk, finiteOk, covDiagOk))
      .toDF("n_points", "k", "dim", "weights_ok", "resp_ok",
        "finite_ok", "cov_diag_ok")
  }

  /** Axis-sign histogram width for [[qEmbedDrift]]: 2⁴ = 16 buckets from
    * the sign pattern of the four leading dims — coarse on purpose (the
    * per-label populations at test SF are ~50; a 256-cell histogram
    * would be smoothing noise, the 16-cell one is an honest density). */
  val EmbedDriftBits = 4

  /** q_embed_drift: embedding-distribution drift between label
    * populations — the EMBEDDING-space member of the drift family (53
    * q_psi monitors a scalar; 59j/67h monitor ECDFs; this monitors the
    * vector distribution itself, the check an embedding-backed retrieval
    * or dedup pipeline runs when the upstream encoder changes). Buckets
    * are the axis-sign pattern of the leading [[EmbedDriftBits]] dims —
    * axis-aligned LSH that BOTH engines can replay exactly (seeded
    * hyperplanes are not SQL-derivable; sign bits are); per label pair,
    * PSI over the 16-cell dense grid with the q_psi (+1)/(+k) smoothing
    * and the bucket-ordered k-bounded fold. Pair space is label², the
    * grid labels×16 — nothing scales with the corpus beyond one
    * bucket-count scan. */
  def qEmbedDrift(s: SparkSession, dir: String): DataFrame = {
    val nb = 1 << EmbedDriftBits
    val bucket = (0 until EmbedDriftBits).map { i =>
      when(element_at(col("embedding"), i + 1).cast("double") > 0.0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val counts = Tables.embeddings(s, dir)
      .select(col("label"), bucket.as("bucket"))
      .groupBy("label", "bucket").agg(count(lit(1)).as("n"))
    val grid = counts.select("label").distinct()
      .crossJoin(broadcast(
        counts.sparkSession.range(nb).select(col("id").as("bucket"))))
    val dense = grid.join(counts, Seq("label", "bucket"), "left")
      .select(col("label"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"))
    val tot = dense.groupBy("label").agg(sum(col("n")).as("t"))
    val a = dense.join(tot, Seq("label"))
      .select(col("label").as("label_a"), col("bucket"),
        col("n").as("na"), col("t").as("ta"))
    val b = dense.join(tot, Seq("label"))
      .select(col("label").as("label_b"), col("bucket"),
        col("n").as("nb"), col("t").as("tb"))
    val pa = (col("na") + 1).cast("double") / (col("ta") + nb).cast("double")
    val pb = (col("nb") + 1).cast("double") / (col("tb") + nb).cast("double")
    a.join(b, Seq("bucket"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"),
        col("ta").as("n_a"), col("tb").as("n_b"))
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("bucket"),
          ((pa - pb) * log(pa / pb)).as("t")))),
        lit(0.0), (acc, x) => acc + x.getField("t")), 6).as("psi"))
      .select("label_a", "label_b", "n_a", "n_b", "psi")
  }

  private lazy val qEmbedDriftSql = {
    val nb = 1 << EmbedDriftBits
    val bucket = (0 until EmbedDriftBits)
      .map(i => s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH c AS (SELECT label, $bucket AS bucket, CAST(count(*) AS BIGINT) AS n
         FROM embeddings GROUP BY 1, 2),
       grid AS (SELECT l.label, b.bucket
         FROM (SELECT DISTINCT label FROM c) l
         CROSS JOIN (SELECT unnest(range(0, $nb)) AS bucket) b),
       dense AS (SELECT g.label, g.bucket, coalesce(c.n, 0) AS n
         FROM grid g LEFT JOIN c ON g.label = c.label AND g.bucket = c.bucket),
       tot AS (SELECT label, CAST(sum(n) AS BIGINT) AS t FROM dense GROUP BY 1),
       d AS (SELECT dense.label, bucket, n, t
             FROM dense JOIN tot ON dense.label = tot.label)
       SELECT a.label AS label_a, b.label AS label_b,
         a.t AS n_a, b.t AS n_b,
         round(list_sum(list(
           (CAST(a.n + 1 AS DOUBLE) / (a.t + $nb)
             - CAST(b.n + 1 AS DOUBLE) / (b.t + $nb))
           * ln((CAST(a.n + 1 AS DOUBLE) / (a.t + $nb))
               / (CAST(b.n + 1 AS DOUBLE) / (b.t + $nb)))
           ORDER BY a.bucket)), 6) AS psi
       FROM d a JOIN d b ON a.bucket = b.bucket AND a.label < b.label
       GROUP BY a.label, b.label, a.t, b.t"""
  }

  private lazy val qGmmAuditSql =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_points,
         CAST($GmmK AS BIGINT) AS k, CAST($GmmDim AS BIGINT) AS dim,
         TRUE AS weights_ok, TRUE AS resp_ok,
         TRUE AS finite_ok, TRUE AS cov_diag_ok
       FROM embeddings"""

  /** q_kmeans_audit: k-means accounting certificate (the q_minhash_audit
    * rule applied to the clustering primitive). SQL-derivable anchors:
    * n_points (the embeddings row count — a dropped partition or a lost
    * empty-cluster row breaks it) and k. Guarantees asserted Spark-side,
    * oracle emits TRUE: `accounted_ok` (the emitted cluster sizes sum to
    * the INDEPENDENTLY counted table size), `monotone_ok` (the recorded
    * assignment-inertia trajectory descends — Lloyd's invariant; exact
    * decimal sums make it deterministic, the 1e-9·I relative slack covers
    * only the double distance kernel), and `assign_ok` (an independent
    * re-derivation: every point's cluster equals the argmin of the
    * textbook Σ(x−c)² fold against the final centroids — a DIFFERENT
    * arithmetic path than the fused v·v−2v·c+c² kernel; disagreements
    * closer than 1e-6 are fp near-ties, anything farther is a real
    * assignment bug). */
  def qKmeansAudit(s: SparkSession, dir: String): DataFrame = {
    val (cens, traj, fin) = kmeansRun(s, dir)
    val nPoints = Tables.embeddings(s, dir).count()
    val sizes = fin.collect().map(_.getAs[Long]("n"))
    val accountedOk = sizes.sum == nPoints
    val monotoneOk = traj.sliding(2).forall {
      case Seq(a, b) => b <= a + 1e-9 * math.abs(a)
      case _ => true
    }
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val kernelDists = array(cens.map { c =>
      val c2 = c.map(x => x * x).sum
      dot(col("v"), array(c.map(lit): _*)) * -2.0 + c2
    }: _*)
    val foldDists = array(cens.map { c =>
      aggregate(zip_with(col("v"), array(c.map(lit): _*),
        (x, cc) => (x - cc) * (x - cc)), lit(0.0), (a, x) => a + x)
    }: _*)
    val mism = e
      .select(
        (array_position(kernelDists, array_min(kernelDists)) - 1).as("ck"),
        foldDists.as("fd"))
      .select(col("ck"), (array_position(col("fd"), array_min(col("fd"))) - 1).as("cf"),
        col("fd"))
      .filter(col("ck") =!= col("cf") &&
        abs(element_at(col("fd"), (col("ck") + 1).cast("int")) -
          element_at(col("fd"), (col("cf") + 1).cast("int"))) > 1e-6)
      .count()
    import s.implicits._
    Seq((nPoints, kmK.toLong, accountedOk, monotoneOk, mism == 0L))
      .toDF("n_points", "k", "accounted_ok", "monotone_ok", "assign_ok")
  }

  /** q_silhouette: simplified silhouette per cluster (the centroid-based
    * silhouette MLlib also evaluates — a(i) = distance to OWN centroid,
    * b(i) = min distance to any OTHER centroid, s = (b−a)/max(a,b)) over
    * the deterministic Lloyd run's final centroids. One pass over the
    * corpus (k fused dot kernels per row, no pairwise silhouette's n²);
    * the per-cluster mean is deterministic: each point's s is floored to
    * 1e-9 and exact-DECIMAL-summed, so partition merge order cannot move
    * the 6dp-rounded mean. Rows-only gate (centroids are iterative);
    * the kmeans audit anchors the underlying accounting, and the spec
    * pins s ≈ 1 on the well-separated fixture. */
  def qSilhouette(s: SparkSession, dir: String): DataFrame = {
    val (cens, _, _) = kmeansRun(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    silhouetteOf(e, cens)
  }

  /** Simplified-silhouette core over (vec_id, v: array<double>) rows and
    * FIXED centroids — the scoring stage of [[qSilhouette]], split out so
    * the tie semantics (a point exactly equidistant from its own and
    * another centroid must score s = 0) are testable against hand-picked
    * centroids independent of the Lloyd run. */
  def silhouetteOf(e: DataFrame, cens: Array[Array[Double]]): DataFrame = {
    val dists = array(cens.map { c =>
      val c2 = c.map(x => x * x).sum
      sqrt(greatest(dot(col("v"), array(c.map(lit): _*)) * -2.0 + c2 +
        dot(col("v"), col("v")), lit(0.0)))
    }: _*)
    // b is the min over the OTHER centroids BY INDEX (drop the assigned
    // cluster's slot), not by value: a point exactly equidistant from its
    // own and another centroid must get b = a and s = 0, which a strict
    // `d > a` value filter would skip (r13 advice).
    val scored = e.select(col("vec_id"), dists.as("ds"))
      .select(col("ds"),
        (array_position(col("ds"), array_min(col("ds"))) - 1).cast("int").as("cluster"),
        array_min(col("ds")).as("a"))
      .select(col("cluster"), col("a"),
        array_min(filter(col("ds"), (_, i) => i =!= col("cluster"))).as("b0"))
      .select(col("cluster"),
        when(greatest(col("a"), coalesce(col("b0"), col("a"))) === 0.0, lit(0.0))
          .otherwise((coalesce(col("b0"), col("a")) - col("a")) /
            greatest(col("a"), coalesce(col("b0"), col("a")))).as("sil"))
    scored
      .select(col("cluster"),
        (floor(col("sil") * 1e9) / 1e9).cast("decimal(38,12)").as("sil"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        round((sum(col("sil")) / count(lit(1))).cast("double"), 6).as("mean_sil"))
  }

  /** q_hac: complete-linkage agglomerative dendrogram over the
    * deterministic k-means centroids — the standard two-level clustering
    * recipe at scale (BIRCH/"HAC on summaries"): the corpus collapses to
    * k centroid summaries (the distributed part, already certified), and
    * the O(k³) hierarchy builds driver-side on that bounded relation
    * (the bounded-state rule — k² distances for k=8 is nothing, and at
    * k=32k it is still driver-feasible). scipy linkage conventions:
    * initial clusters 0..k−1, the merge at step s creates cluster
    * k+s−1; complete linkage d(A,B) = max pairwise centroid distance;
    * deterministic tie-break (dist, smaller id, larger id). Emits the
    * full merge table (step, cluster_a, cluster_b, dist, n_points).
    * Rows-only (centroids are iterative); the spec drives the all-ties
    * fixture where every merge lands at exactly √200. */
  def qHac(s: SparkSession, dir: String): DataFrame = {
    val (cens, _, fin) = kmeansRun(s, dir)
    val sizes0 = fin.collect().map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("n")).toMap
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    // active: id -> (member leaf ids, size)
    var active = cens.indices.map(i => i -> ((Set(i), sizes0.getOrElse(i, 0L)))).toMap
    def linkage(a: Set[Int], b: Set[Int]): Double =
      (for (x <- a; y <- b) yield dist(cens(x), cens(y))).max
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Double, Long)]
    var nextId = cens.length
    var step = 1
    while (active.size > 1) {
      val cand = (for {
        (ia, (sa, _)) <- active.toSeq; (ib, (sb, _)) <- active.toSeq
        if ia < ib
      } yield (linkage(sa, sb), ia, ib)).minBy { case (d, a, b) => (d, a, b) }
      val (d, a, b) = cand
      val (ma, na) = active(a); val (mb, nb) = active(b)
      merges += ((step, a, b, math.floor(d * 1e6 + 0.5) / 1e6, na + nb))
      active = (active - a - b).updated(nextId, (ma ++ mb, na + nb))
      nextId += 1; step += 1
    }
    import s.implicits._
    merges.toSeq.toDF("step", "cluster_a", "cluster_b", "dist", "n_points")
  }

  /** q_hac_audit: dendrogram certificate — SQL anchors: n_merges (k−1
    * for the declared k) and n_points (the embeddings row count — the
    * root of a complete dendrogram over certified cluster sizes MUST
    * account for every corpus point). Guarantees: `monotone_ok` —
    * complete linkage is a monotone linkage, so merge distances never
    * decrease step to step (an inversion is a real agglomeration bug,
    * not a data condition), `sizes_ok` — every merge's n_points equals
    * the sum of its two children's (leaves carry the certified k-means
    * sizes) and the last merge carries exactly n_points, and `ids_ok` —
    * scipy id discipline: step s merges ids < k+s and creates k+s. */
  def qHacAudit(s: SparkSession, dir: String): DataFrame = {
    val m = qHac(s, dir).orderBy("step").collect()
    val k = kmK
    val nPoints = Tables.embeddings(s, dir).count()
    val leafSizes = kmeansRun(s, dir)._3.collect()
      .map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("n")).toMap
    val monotoneOk = m.map(_.getAs[Double]("dist")).sliding(2).forall {
      case Array(a, b) => b >= a - 1e-9
      case _ => true
    }
    val sizeOf = scala.collection.mutable.Map.empty[Int, Long]
    leafSizes.foreach { case (i, n) => sizeOf(i) = n }
    var sizesOk = true; var idsOk = true
    m.foreach { r =>
      val step = r.getAs[Int]("step")
      val a = r.getAs[Int]("cluster_a"); val b = r.getAs[Int]("cluster_b")
      idsOk &&= a < k + step - 1 && b < k + step - 1 && a != b
      val merged = sizeOf.getOrElse(a, -1L) + sizeOf.getOrElse(b, -1L)
      sizesOk &&= merged == r.getAs[Long]("n_points")
      sizeOf(k + step - 1) = r.getAs[Long]("n_points")
    }
    sizesOk &&= m.lastOption.exists(_.getAs[Long]("n_points") == nPoints)
    import s.implicits._
    Seq((m.length.toLong, nPoints, monotoneOk, sizesOk, idsOk))
      .toDF("n_merges", "n_points", "monotone_ok", "sizes_ok", "ids_ok")
  }

  private lazy val qHacAuditSql =
    s"""SELECT CAST(${kmK - 1} AS BIGINT) AS n_merges,
         CAST(count(*) AS BIGINT) AS n_points,
         TRUE AS monotone_ok, TRUE AS sizes_ok, TRUE AS ids_ok
       FROM embeddings"""

  private lazy val qKmeansAuditSql =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_points,
         CAST($kmK AS BIGINT) AS k,
         TRUE AS accounted_ok, TRUE AS monotone_ok, TRUE AS assign_ok
       FROM embeddings"""

  override def registry: Seq[Q] = Seq(
    Q("q_kmeans", qKmeans, Cert("q_kmeans_audit"), Ml),
    Q("q_gmm", qGmm, Cert("q_gmm_audit"), Ml),
    Q("q_gmm_audit", qGmmAudit, Oracle(qGmmAuditSql), Ml),
    Q("q_embed_drift", qEmbedDrift, Oracle(qEmbedDriftSql)),
    Q("q_silhouette", qSilhouette, Cert("q_kmeans_audit"), Ml),
    Q("q_hac", qHac, Cert("q_hac_audit"), Ml),
    Q("q_hac_audit", qHacAudit, Oracle(qHacAuditSql), Ml),
    Q("q_kmeans_audit", qKmeansAudit, Oracle(qKmeansAuditSql), Ml),
    Q("q_mrr", qMrr, Oracle(qMrrSql)),
    Q("q_map", qMap, Oracle(qMapSql)),
    Q("q_rrf", qRrf, Oracle(qRrfSql)),
    Q("q_rbo", qRbo, Oracle(qRboSql)),
    Q("q_lof", qLof, Oracle(qLofSql)),
    Q("q_ndcg", qNdcg, Oracle(qNdcgSql)),
    Q("q_pca", qPca, Cert("q_pca_audit")),
    Q("q_pca_audit", qPcaAudit, Oracle(qPcaAuditSql)),
    Q("q_ann_pq", qAnnPq, Cert("q_ann_pq_audit")),
    Q("q_ann_ivfpq", qAnnIvfPq, Cert("q_ann_ivfpq_audit"), Ml),
    Q("q_knn_search", qKnnSearch, Oracle(qKnnSearchSql)),
    Q("q_mmr", qMmr, Oracle(qMmrSql)),
    Q("q_hard_negatives", qHardNegatives, Oracle(qHardNegativesSql)),
    Q("q_class_centroids", qClassCentroids, Oracle(qClassCentroidsSql)),
    Q("q_rocchio", qRocchio, Oracle(qRocchioSql)),
    Q("q_embed_outliers", qEmbedOutliers, Oracle(qEmbedOutliersSql)),
    Q("q_mrl_audit", qMrlAudit, Oracle(qMrlAuditSql)),
    Q("q_ann_recall", qAnnRecall, Cert("q_knn_search")),
    Q("q_ann_lsh", qAnnLsh, Cert("q_knn_search")),
    Q("q_ann_ivf", qAnnIvf, Cert("q_ann_ivf_audit"), Ml),
    Q("q_ann_ivf_audit", qAnnIvfAudit, Oracle(qAnnIvfAuditSql)),
    Q("q_ann_ivf_foldin", qAnnIvfFoldin, Cert("q_ann_ivf_foldin_audit"), Ml),
    Q("q_ann_ivf_foldin_audit", qAnnIvfFoldinAudit, Oracle(qAnnIvfFoldinAuditSql)),
    Q("q_ann_pq_audit", qAnnPqAudit, Oracle(qAnnPqAuditSql)),
    Q("q_ann_ivfpq_audit", qAnnIvfPqAudit, Oracle(qAnnIvfPqAuditSql)),
    Q("q_embed_quant", qEmbedQuant, Oracle(qEmbedQuantSql)))
}
