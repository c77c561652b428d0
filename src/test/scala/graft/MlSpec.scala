package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** ML operator semantics at sf0.001 (seeded determinism + invariants). */
class MlSpec extends SparkSpec {
  import spark.implicits._

  test("lda topics: k topics x 10 ranks, weights descending within topic") {
    val t = TopicModeling.qLdaTopics(spark, sfDir).collect()
    assert(t.length === TopicModeling.DefaultK * 10)
    val byTopic = t.groupBy(_.getAs[Int]("topic"))
    assert(byTopic.size === TopicModeling.DefaultK)
    byTopic.foreach { case (_, rows) =>
      val ws = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("weight")).toSeq
      assert(ws.length === 10)
      assert(ws === ws.sortBy((w: Double) => -w))
    }
  }

  test("doc topics: probabilities in (0,1], above minimum_probability") {
    val d = TopicModeling.qDocTopics(spark, sfDir)
    assert(d.count() > 0)
    assert(d.filter(col("prob") < TopicModeling.MinimumProbability || col("prob") > 1.0)
      .count() === 0)
  }

  test("polysemy flag consistent with topic counts") {
    val p = TopicModeling.qPolysemy(spark, sfDir)
    val bad = p.filter(
      (col("n_topics") > TopicModeling.MinimumTopicsPolysemous) =!= col("polysemous"))
    assert(bad.count() === 0)
  }

  test("coherence: u_mass is negative-or-zero and present per topic") {
    val c = TopicModeling.qCoherence(spark, sfDir).collect()
    assert(c.nonEmpty)
    assert(c.forall(_.getAs[Double]("u_mass") <= 1e-9))
  }

  test("classifier metrics rows are well-formed (lr)") {
    val m = Classification.qClassifyLr(spark, sfDir).collect().head
    val total = m.getAs[Long]("tp") + m.getAs[Long]("fp") +
      m.getAs[Long]("tn") + m.getAs[Long]("fn")
    // test split = vec_id % 5 == 0 over the non-excluded concepts
    assert(total === TestSplit.size(spark, sfDir))
    assert(m.getAs[Double]("accuracy") >= 0.0 && m.getAs[Double]("accuracy") <= 1.0)
  }

  test("knn classifier covers the whole test split") {
    val m = Classification.qClassifyKnn(spark, sfDir).collect().head
    val total = m.getAs[Long]("tp") + m.getAs[Long]("fp") +
      m.getAs[Long]("tn") + m.getAs[Long]("fn")
    assert(total === TestSplit.size(spark, sfDir))
  }

  test("minhash candidates verify to a subset of exact jaccard pairs") {
    val exact = Dedup.qDedupJaccard(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val rows = Dedup.qDedupMinhash(spark, sfDir)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val mh = rows.map { case (a, b, _) => (a, b) }.toSet
    assert(mh.subsetOf(exact), s"minhash found non-exact pairs: ${mh -- exact}")
    // values: each jaccard is the set Jaccard of the two docs' distinct
    // shingle hashes, recomputed on the driver (not q_dedup_jaccard's
    // values: its df cap changes the common counts)
    val ids = rows.flatMap { case (a, b, _) => Seq(a, b) }.distinct
    val sets = Dedup.docShingles(spark, sfDir).filter(col("doc_id").isin(ids: _*))
      .select("doc_id", "sh").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).toSet }
    rows.foreach { case (a, b, j) =>
      val c = (sets(a) intersect sets(b)).size
      val expect = BigDecimal(c.toDouble / (sets(a).size + sets(b).size - c))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(j === expect, s"jaccard of ($a, $b)")
    }
  }

  test("fitLda's topics equal a direct online fit on the cached bow frame") {
    val model = TopicModeling.fitLda(spark, sfDir, TopicModeling.DefaultK)
    val (bow, _) = TopicModeling.corpus(spark, sfDir)
    val direct = new org.apache.spark.ml.clustering.LDA()
      .setK(TopicModeling.DefaultK).setSeed(TopicModeling.Seed).setMaxIter(20)
      .setOptimizer("online").setFeaturesCol("features")
      .fit(bow)
    assert(model.topicsMatrix.toArray.toSeq === direct.topicsMatrix.toArray.toSeq)
  }

  test("simhash kernel: bit-identical to the 64-aggregate formulation") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six"),
      (4L, "alpha alpha beta beta gamma gamma delta")).toDF("doc_id", "text")
    // reference: the exploded-aggregate formulation the kernel replaced
    val agg = docs
      .select(col("doc_id"), graft.functions.TextFns.rawTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
      .groupBy("doc_id")
      .agg(sum(when(expr("(h >> 0) & 1") === 1, 1).otherwise(-1)).as("s0"),
        (1 until 64).map(j =>
          sum(when(expr(s"(h >> $j) & 1") === 1, 1).otherwise(-1)).as(s"s$j")): _*)
      .select(col("doc_id"),
        (0 until 64).map(j => when(col(s"s$j") >= 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = docs
      .select(col("doc_id"), graft.functions.TextFns.rawTokens(col("text")).as("toks"))
      .select(col("doc_id"), graft.functions.HashKernelCols.simhash64(col("toks")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel === agg)
    assert(kernel(1L) === kernel(2L)) // identical docs collide at hamming 0
    assert(kernel(1L) !== kernel(3L))
  }

  test("minhash kernel: signature mins dominate per-shingle hashes, dups ignored") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta alpha beta gamma delta epsilon zeta"),
      (3L, "one two")).toDF("doc_id", "text") // doc 3: no 3-gram shingles
    val sig = Dedup.minhashSignaturesOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Seq[Long]]("sig")).toMap
    assert(!sig.contains(3L)) // shingle-less docs are filtered
    assert(sig(1L).length === Dedup.NumHashes)
    // doc 2's shingle set is a superset of doc 1's → every min ≤ doc 1's
    sig(1L).zip(sig(2L)).foreach { case (a, b) => assert(b <= a) }
  }
}
