package graft.operators

import graft.{Cert, Ml, Oracle, Q, QueryModule}
import graft.functions.{TextFns, VectorMath}
import org.apache.spark.ml.feature.{Word2Vec, Word2VecModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed word-embedding training — the gensim flagship the
  * reference's whole stack sits on (its LDA/dictionary pipelines are
  * gensim; word2vec is the library's other headline model) and the
  * training step q_neg_sampling's unigram^0.75 table prepares for.
  * MLlib Word2Vec is the skip-gram model with hierarchical softmax,
  * trained distributed: each iteration broadcasts the current vectors,
  * computes per-partition gradient updates, and averages them on the
  * driver — the vocabulary-sized model is the only thing shuffled,
  * never the corpus against itself.
  *
  * Scale posture: numPartitions is pinned to 1 here for bit-exact
  * determinism (per-partition update averaging makes the result depend
  * on the partitioning); at 100 TB you raise numPartitions and trade
  * exact reproducibility for throughput — the audit certificate's
  * guarantees (vocabulary identity, dimensions, finiteness, coverage)
  * are partitioning-invariant, which is exactly why the gate is built
  * on them and not on vector values. Query surfaces are bounded: the
  * neighbor table scores only a fixed [[W2vAnchors]]-word anchor block
  * against the vocabulary-sized vector table (broadcast anchors, keyed
  * top-k window — the vocab×vocab cross product never materializes).
  * Training is iterative ML → excluded from the Bench headline per the
  * documented rule. */
object Embeddings extends QueryModule {

  val W2vDim = 16
  val W2vMinCount = 5
  val W2vWindow = 5
  val W2vIters = 1
  val W2vSeed = 20260815L
  val W2vAnchors = 10
  val W2vTopK = 3

  def fit(s: SparkSession, dir: String): Word2VecModel =
    graft.ModelCache.getOrElseUpdate(s, s"emb.w2v:$dir") {
      new Word2Vec()
        .setInputCol("toks").setOutputCol("vec")
        .setVectorSize(W2vDim).setMinCount(W2vMinCount)
        .setWindowSize(W2vWindow)
        .setMaxIter(W2vIters).setNumPartitions(1)
        .setSeed(W2vSeed)
        .fit(TextPrep.cleanDocs(s, dir).select("toks"))
    }

  /** Vocabulary vectors as (word, array<double>), memoized + persisted:
    * shared by q_w2v, q_w2v_audit, and the spec. */
  def vectors(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"emb.w2v.vec:$dir") {
      val df = fit(s, dir).getVectors
        .select(col("word"), vector_to_array(col("vector")).as("v"))
        .cache()
      df.count() // materialize once under the cache lock
      df
    }

  /** The fixed anchor block: the [[W2vAnchors]] most frequent vocabulary
    * words (cf desc, token asc — deterministic). */
  private def anchors(s: SparkSession, dir: String): DataFrame =
    TextPrep.tokenStats(s, dir)
      .filter(col("cf") >= W2vMinCount)
      .orderBy(col("cf").desc, col("tok").asc)
      .limit(W2vAnchors)
      .select(col("tok").as("anchor"), col("cf"))

  /** q_w2v: top-[[W2vTopK]] nearest vocabulary words per anchor word by
    * embedding cosine (rows-only — iterative training; q_w2v_audit is
    * the hash-gated certificate). Broadcast anchor vectors against the
    * vocabulary-sized vector table, native codegen cosine kernel, keyed
    * top-k window. */
  def qW2v(s: SparkSession, dir: String): DataFrame = {
    val vec = vectors(s, dir)
    val av = anchors(s, dir)
      .join(vec, col("anchor") === col("word"))
      .select(col("anchor"), col("cf"), col("v").as("av"))
    val w = Window.partitionBy("anchor")
      .orderBy(col("cos").desc, col("word").asc)
    vec.join(broadcast(av), col("word") =!= col("anchor"))
      .select(col("anchor"), col("cf"), col("word"),
        VectorMath.cosine(col("av"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= W2vTopK)
      .select(col("anchor"), col("rank"), col("word").as("neighbor"),
        round(col("cos"), 6).as("cos"))
  }

  /** q_w2v_audit: embedding-training certificate (the q_als_audit
    * shape). SQL-derivable anchors the oracle recomputes independently:
    * n_vocab = tokens with corpus frequency ≥ [[W2vMinCount]] (MLlib's
    * learnVocab gate, recomputed by DuckDB from the documents table
    * through the same clean-token chain), n_anchors = min(W2vAnchors,
    * n_vocab), and the fixed dimension k. Guarantees asserted
    * Spark-side, oracle emits TRUE:
    *  - `vocab_ok`: the model's vocabulary is EXACTLY the eligible
    *    token set (symmetric-difference join count = 0 — a desynced
    *    tokenizer or dropped word breaks it);
    *  - `dims_ok`: every vector has exactly [[W2vDim]] entries;
    *  - `finite_ok`: no NaN/Inf anywhere in the vector table (a
    *    diverged update is loud, not silent);
    *  - `norm_ok`: every vector has positive norm (skip-gram training
    *    never collapses a word to the zero vector);
    *  - `coverage_ok`: q_w2v emitted exactly [[W2vTopK]] neighbors for
    *    each of the n_anchors anchor words. */
  def qW2vAudit(s: SparkSession, dir: String): DataFrame = {
    val vec = vectors(s, dir)
    val eligible = TextPrep.tokenStats(s, dir)
      .filter(col("cf") >= W2vMinCount).select(col("tok"))
    val nVocab = vec.count()
    val vocabOk = nVocab == eligible.count() &&
      vec.join(eligible, col("word") === col("tok"), "left_anti").count() == 0
    val dimsOk = vec.filter(size(col("v")) =!= W2vDim).count() == 0
    val bad = exists(col("v"), x => isnan(x) ||
      x === Double.PositiveInfinity || x === Double.NegativeInfinity)
    val finiteOk = vec.filter(bad).count() == 0
    val normOk = vec.filter(VectorMath.dot(col("v"), col("v")) <= 0.0)
      .count() == 0
    val nAnchors = math.min(W2vAnchors.toLong, nVocab)
    val nn = qW2v(s, dir)
    val coverageOk = nn.groupBy("anchor").count()
      .filter(col("count") =!= W2vTopK).count() == 0 &&
      nn.select("anchor").distinct().count() == nAnchors

    import s.implicits._
    Seq((nVocab, nAnchors, W2vDim.toLong,
      vocabOk, dimsOk, finiteOk, normOk, coverageOk))
      .toDF("n_vocab", "n_anchors", "k",
        "vocab_ok", "dims_ok", "finite_ok", "norm_ok", "coverage_ok")
  }

  private lazy val qW2vAuditSql = {
    val toks = TextFns.cleanTokensSql("text")
    s"""WITH tk AS (SELECT unnest($toks) AS tok FROM documents),
       cf AS (SELECT tok, count(*) AS n FROM tk GROUP BY tok),
       v AS (SELECT tok FROM cf WHERE n >= $W2vMinCount)
       SELECT CAST(count(*) AS BIGINT) AS n_vocab,
         CAST(least($W2vAnchors, count(*)) AS BIGINT) AS n_anchors,
         CAST($W2vDim AS BIGINT) AS k,
         TRUE AS vocab_ok, TRUE AS dims_ok, TRUE AS finite_ok,
         TRUE AS norm_ok, TRUE AS coverage_ok
       FROM v"""
  }

  override def registry: Seq[Q] = Seq(
    Q("q_w2v", qW2v, Cert("q_w2v_audit"), Ml),
    Q("q_w2v_audit", qW2vAudit, Oracle(qW2vAuditSql), Ml))
}
