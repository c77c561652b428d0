package graft

import graft.operators._
import graft.sources.{NQuads, Tables}
import org.apache.spark.sql.functions._

/** Smoke + semantics checks over sf0.001 for each operator family. The
  * exhaustive value-level gate is the DuckDB oracle (scripts/check_oracle.py
  * replicates the driver's compare at sf0.01). */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("q1_agg groups and decimal-exact sums") {
    val r = Relational.q1Agg(spark, sfDir).collect()
    assert(r.length === 6)
    assert(r.map(_.getAs[Long]("count_order")).sum > 0)
  }

  test("q_window keeps at most 3 orders per customer, deterministic ranks") {
    val r = Relational.qWindow(spark, sfDir)
    val worst = r.groupBy("o_custkey").count().agg(max("count")).as[Long].head()
    assert(worst <= 3)
  }

  test("sessionization: session ids contiguous from 1 per user") {
    val r = Relational.qSessionize(spark, sfDir)
    val bad = r.groupBy("user_id")
      .agg(min("session_id").as("mn"), max("session_id").as("mx"), count(lit(1)).as("n"))
      .filter(col("mn") =!= 1 || col("mx") =!= col("n"))
    assert(bad.count() === 0)
  }

  test("table catalog: every sf dir satisfies the schema contract") {
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      assert(Tables.validate(spark, d) === Seq.empty)
    }
  }

  test("dictionary ids are dense 1..V and df<=docs") {
    val d = TextPrep.qDictionary(spark, sfDir).collect()
    val ids = d.map(_.getAs[Long]("token_id")).sorted
    assert(ids === (1L to d.length.toLong).toArray)
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(d.forall(_.getAs[Long]("df") <= nDocs))
  }

  test("dictionary ids are independent of parallelism") {
    def idsAt(parts: String): Map[String, Long] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try TextPrep.qDictionary(spark, sfDir).collect()
        .map(r => r.getAs[String]("tok") -> r.getAs[Long]("token_id")).toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    // the (df desc, tok asc) order is total (tok is unique), so the
    // range-sort + zipWithIndex assignment must not depend on partitioning
    assert(idsAt("2") === idsAt("13"))
  }

  test("tfidf vectors are L2-normalized per doc") {
    val norms = TextPrep.qTfidf(spark, sfDir)
      .groupBy("doc_id").agg(sum(col("tfidf") * col("tfidf")).as("n2"))
      .select(abs(col("n2") - 1.0).as("err")).agg(max("err")).as[Double].head()
    assert(norms < 1e-3) // rounding to 6dp perturbs the norm slightly
  }

  test("exact dedup is lossless on an all-distinct corpus") {
    val n = Tables.documents(spark, sfDir).count()
    assert(Dedup.qDedupExact(spark, sfDir).count() === n)
  }

  test("jaccard dedup: a doc is a perfect duplicate of itself") {
    val docs = Seq((1L, "spark makes big data small again ok"),
      (2L, "spark makes big data small again ok"),
      (3L, "completely different words entirely here now")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("dup_docs")
    val sh = docs.select(col("doc_id"),
      explode(functions.TextFns.shingles(functions.TextFns.rawTokens(col("text")), 3)).as("s"))
      .distinct()
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id"), col("b.doc_id")).count().collect()
    assert(pairs.length === 1 && pairs.head.getAs[Long]("count") === 5)
  }

  test("knn: neighbors ranked by cosine desc, k=5 per query") {
    val r = SimilaritySearch.qKnnSearch(spark, sfDir)
    val byQ = r.groupBy("q_id").agg(count(lit(1)).as("n"), max("rank").as("mx")).collect()
    assert(byQ.nonEmpty && byQ.forall(x => x.getAs[Long]("n") === 5 && x.getAs[Int]("mx") === 5))
    // ranks ordered by similarity
    val viol = r.as("x").join(r.as("y"),
        col("x.q_id") === col("y.q_id") && col("x.rank") < col("y.rank") &&
          col("x.cos_sim") < col("y.cos_sim")).count()
    assert(viol === 0)
  }

  test("ann lsh: every query finds an intra-bucket neighbor set") {
    assert(SimilaritySearch.qAnnLsh(spark, sfDir).count() > 0)
  }

  test("nquads round-trip inverts the formatter") {
    val docs = Tables.documents(spark, sfDir)
    val parsed = NQuads.qNquadsParse(spark, sfDir)
    assert(parsed.count() === docs.count())
    assert(parsed.filter(col("predicate") =!= NQuads.ProvValue).count() === 0)
    val joined = parsed.join(docs, parsed("obj") === docs("text"))
    assert(joined.count() === docs.count())
  }

  test("fixUris repairs only missing-scheme IRIs") {
    val lines = Seq(
      "x wasQuotedFrom> <broken.example.com/a>",
      "y wasQuotedFrom> <http://ok.example.com/b>").toDF("line")
    val fixed = lines.select(NQuads.fixUris(col("line")).as("l")).as[String].collect()
    assert(fixed(0) === "x wasQuotedFrom> <http://broken.example.com/a>")
    assert(fixed(1) === "y wasQuotedFrom> <http://ok.example.com/b>")
  }

  test("confusion metrics algebra") {
    val scored = Seq((true, true), (true, false), (false, false), (false, true),
      (true, true)).toDF("pred", "gold")
    val m = Evaluation.confusionMetrics(scored).collect().head
    assert(m.getAs[Long]("tp") === 2 && m.getAs[Long]("fp") === 1)
    assert(m.getAs[Long]("tn") === 1 && m.getAs[Long]("fn") === 1)
    // f1 is rounded to 6dp by the operator
    assert(math.abs(m.getAs[Double]("f1") - 2.0 * 2 / (2 * 2 + 1 + 1)) < 1e-5)
  }

  test("multimodal decode plumbing: real PNG through the batch path") {
    val px = Array.tabulate[Byte](6 * 4)(i => (i * 11 % 251).toByte)
    val png = graft.functions.ImageCodec.encodePng(6, 4, 1, px)
    val df = Seq((1L, png)).toDF("id", "payload")
    val out = Multimodal.decodeBatch(df).collect().head
    assert(out.getAs[Int]("width") === 6)
    assert(out.getAs[Int]("height") === 4)
    assert(out.getAs[Int]("channels") === 1)
    assert(out.getAs[String]("format") === "png")
  }

  test("competing risks: causes partition the exits and ΣCIF(∞) = 1") {
    val rows = operators.Stats.qCompetingRisks(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // every user exits by exactly one cause, so per-t exits sum to the
    // KM death counts and the final CIFs sum to 1 − Ŝ(∞) = 1 (everyone
    // exits in this construction; 6dp rounding per cause)
    val km = operators.Stats.qKaplanMeier(spark, sfDir).collect()
      .map(r => r.getAs[Number]("t_days").longValue ->
        r.getAs[Number]("n_deaths").longValue).toMap
    val perT = rows.groupBy(_.getAs[Number]("t_days").longValue)
      .map { case (t, g) =>
        t -> g.map(_.getAs[Number]("n_exits").longValue).sum }
    assert(perT === km, "per-t exits must partition the KM deaths")
    val lastCif = rows.groupBy(_.getAs[String]("cause")).values
      .map(_.maxBy(_.getAs[Number]("t_days").longValue)
        .getAs[Double]("cif")).sum
    assert(math.abs(lastCif - 1.0) < 5e-6, s"sum of final CIFs = $lastCif")
  }

  test("entry smoke: flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
