package graft

import graft.operators.SimilaritySearch
import graft.sources.Tables
import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.functions._

/** PCA over embeddings: variance accounting and the linear-algebra laws
  * the eigendecomposition must satisfy. */
class PcaSpec extends SparkSpec {

  test("explained variance is positive, non-increasing, and sums below 1") {
    val rows = SimilaritySearch.qPca(spark, sfDir).orderBy("component").collect()
    assert(rows.length === 8)
    val vars = rows.map(_.getDouble(1))
    assert(vars.forall(_ > 0))
    assert(vars.zip(vars.tail).forall { case (a, b) => a >= b - 1e-9 })
    assert(rows.last.getDouble(2) <= 1.0 + 1e-6)
    // cumulative column really is the running sum
    rows.foldLeft(0.0) { case (acc, r) =>
      val cum = acc + r.getDouble(1)
      assert(math.abs(r.getDouble(2) - cum) < 1e-5); cum
    }
  }

  test("product quantization: codebook shape, code ranges, and ADC fidelity") {
    val books = SimilaritySearch.pqCodebooks(spark, sfDir).collect()
    assert(books.length === SimilaritySearch.PqM * SimilaritySearch.PqK)
    books.foreach(r => assert(r.getSeq[Double](2).length === SimilaritySearch.PqSubDim))
    val out = SimilaritySearch.qAnnPq(spark, sfDir).collect()
    assert(out.nonEmpty)
    // ADC distances are non-negative and each query reports exactly one row
    out.foreach(r => assert(r.getDouble(2) >= 0.0))
    assert(out.map(_.getLong(0)).distinct.length === out.length)
    // fidelity: the PQ winner's TRUE L2 distance beats the corpus median
    // distance for that query (ADC is lossy, but not that lossy)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    out.foreach { r =>
      val (q, nb) = (r.getLong(0), r.getLong(1))
      val dists = e.keys.filter(_ >= 10).map(id => l2(e(q), e(id))).toSeq.sorted
      val median = dists(dists.length / 2)
      assert(l2(e(q), e(nb)) <= median, s"query $q: PQ pick worse than median")
    }
  }

  test("a PQ codebook fit that throws leaves its training frame uncached") {
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("pq-boom")
      Seq(0.0)
    }
    val train = spark.range(0, 64, 1, 2).select(boom(col("id")).as("v"))
    val e = intercept[Exception](SimilaritySearch.pqCodebooksOf(spark, train, seedBase = 1L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("pq-boom")), e)
    val base = train.select(col("v")).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    assert(spark.sharedState.cacheManager.lookupCachedData(base).isEmpty)
  }

  test("principal components are orthonormal and reduce reconstruction error with k") {
    val feats = Tables.embeddings(spark, sfDir)
      .select(array_to_vector(transform(col("embedding"), x => x.cast("double"))).as("features"))
    def mse(k: Int): Double = {
      val m = new PCA().setK(k).setInputCol("features").setOutputCol("pc").fit(feats)
      val pc = m.pc // d x k
      // orthonormal columns: Cᵀ·C = I
      for (i <- 0 until k; j <- 0 until k) {
        val d = (0 until pc.numRows).map(r => pc(r, i) * pc(r, j)).sum
        assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-8, s"($i,$j)")
      }
      // mean squared norm lost by projecting to k dims
      m.transform(feats)
        .select(vector_to_array(col("features")).as("x"), vector_to_array(col("pc")).as("p"))
        .select((aggregate(col("x"), lit(0.0), (a, v) => a + v * v) -
          aggregate(col("p"), lit(0.0), (a, v) => a + v * v)).as("lost"))
        .agg(avg("lost")).head().getDouble(0)
    }
    val (m2, m8) = (mse(2), mse(8))
    assert(m8 <= m2 + 1e-9, s"mse(8)=$m8 should not exceed mse(2)=$m2")
  }
}
