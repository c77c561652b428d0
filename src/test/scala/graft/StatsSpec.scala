package graft

import graft.operators.Stats
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Invariants of the Stats module beyond the DuckDB hash gate: algebraic
  * identities (probability rows sum to 1, PSI ≥ 0, Pearson bounds), a
  * cross-check of the exact-moment corr/OLS against Spark's builtin
  * aggregates, and partition-invariance of the decimal-exact moments. */
class StatsSpec extends SparkSpec {

  test("histogram partitions the orders table exactly") {
    val h = Stats.qHistogram(spark, sfDir).cache()
    val total = Tables.orders(spark, sfDir).count()
    assert(h.agg(sum("n")).head().getLong(0) === total)
    assert(h.filter(col("bucket") < 0 || col("bucket") > 9).count() === 0)
    // min/max stay inside their bucket's value range
    assert(h.filter(col("min_price") < col("bucket") * 50000.0 ||
      col("max_price") >= (col("bucket") + 1) * 50000.0).count() === 0)
  }

  test("exact-moment Pearson matches Spark's builtin corr") {
    val got = Stats.qCorrMatrix(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val li = Tables.lineitem(spark, sfDir)
    val builtin = li.agg(
      corr(col("l_quantity"), col("l_extendedprice")),
      corr(col("l_quantity"), col("l_discount")),
      corr(col("l_extendedprice"), col("l_discount"))).head()
    assert(math.abs(got(("l_quantity", "l_extendedprice")) - builtin.getDouble(0)) < 1.1e-6)
    assert(math.abs(got(("l_quantity", "l_discount")) - builtin.getDouble(1)) < 1.1e-6)
    assert(math.abs(got(("l_extendedprice", "l_discount")) - builtin.getDouble(2)) < 1.1e-6)
    got.values.foreach(v => assert(v >= -1.0 && v <= 1.0))
  }

  test("closed-form OLS matches covar_pop/var_pop per group") {
    val got = Stats.qRegr(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag")
      .agg((covar_pop(col("l_quantity"), col("l_extendedprice")) /
          var_pop(col("l_quantity"))).as("slope"),
        avg("l_extendedprice").as("my"), avg("l_quantity").as("mx"))
      .collect().foreach { r =>
        val (slope, intercept) = got(r.getString(0))
        assert(math.abs(slope - r.getDouble(1)) < 1e-6)
        assert(math.abs(intercept - (r.getDouble(2) - r.getDouble(1) * r.getDouble(3))) < 1e-6)
      }
  }

  test("Cramer-rule multiple regression matches MLlib's normal-equation solver") {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.LinearRegression
    val got = Stats.qRegrMulti(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    got.keySet.foreach { flag =>
      val df = Tables.lineitem(spark, sfDir).filter(col("l_returnflag") === flag)
        .select(col("l_quantity"), col("l_discount"),
          col("l_extendedprice").as("label"))
      val feats = new VectorAssembler()
        .setInputCols(Array("l_quantity", "l_discount")).setOutputCol("features")
        .transform(df)
      val m = new LinearRegression().setSolver("normal").setRegParam(0.0).fit(feats)
      val (b0, bq, bd) = got(flag)
      assert(math.abs(b0 - m.intercept) < 1e-3, s"$flag b0=$b0 vs ${m.intercept}")
      assert(math.abs(bq - m.coefficients(0)) < 1e-3, s"$flag")
      assert(math.abs(bd - m.coefficients(1)) < 1e-3, s"$flag")
    }
  }

  test("corr is bit-identical across runs (decimal-exact moments)") {
    // double-sum moments would wobble in the last ulp between runs as
    // partial-aggregate order shifts; decimal-exact moments cannot
    val a = Stats.qCorrMatrix(spark, sfDir).collect().map(_.getDouble(2)).toSeq
    val b = Stats.qCorrMatrix(spark, sfDir).collect().map(_.getDouble(2)).toSeq
    assert(a === b)
  }

  test("PSI is non-negative and near zero for a random split") {
    val psi = Stats.qPsi(spark, sfDir).cache()
    assert(psi.filter(col("psi") < 0).count() === 0)
    // even/odd event ids is a uniform split of the same distribution: at
    // sf0.001 the per-type halves are ~100 events, so smoothing noise can
    // reach a few tenths — but nowhere near a real-drift blowout
    assert(psi.filter(col("psi") > 1.0).count() === 0)
  }

  test("markov transition rows are a probability distribution per source") {
    val m = Stats.qMarkov(spark, sfDir).cache()
    m.groupBy("from_type").agg(sum("p").as("s")).collect()
      .foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9))
    val e = Tables.events(spark, sfDir)
    val expected = e.count() - e.select("user_id").distinct().count()
    assert(m.agg(sum("n")).head().getLong(0) === expected)
  }

  test("attribution covers every user exactly once, cvr within [0,1]") {
    val a = Stats.qAttribution(spark, sfDir).cache()
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(a.agg(sum("n_users")).head().getLong(0) === users)
    assert(a.filter(col("cvr") < 0 || col("cvr") > 1).count() === 0)
    assert(a.filter(col("n_converted") > col("n_users")).count() === 0)
  }

  test("readability counts are positive and the score is finite") {
    val r = Stats.qReadability(spark, sfDir).cache()
    assert(r.filter(col("words") < 1 || col("sentences") < 1).count() === 0)
    assert(r.filter(isnan(col("flesch")) || col("flesch").isNull).count() === 0)
  }

  test("zipf slope is negative (frequency falls with rank)") {
    val z = Stats.qZipf(spark, sfDir).head()
    assert(z.getLong(0) > 10)    // real (tiny-sf) vocabulary
    assert(z.getDouble(1) < 0.0) // Zipf exponent
  }

  test("profile: key column is unique and non-null, counts match the table") {
    val p = Stats.qProfile(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val n = Tables.documents(spark, sfDir).count()
    assert(p("doc_id") === ((n, 0L, n))) // (n_rows, n_nulls, n_distinct)
    p.values.foreach { case (rows, nulls, dist) =>
      assert(rows === n && nulls + dist <= n + nulls) // distinct ≤ non-null rows
    }
  }

  test("key skew: gini and shares are consistent bounds") {
    val k = Stats.qKeySkew(spark, sfDir).head()
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(k.getLong(0) === users)
    val (gini, top1, top10) = (k.getDouble(2), k.getDouble(3), k.getDouble(4))
    assert(gini >= 0.0 && gini < 1.0)
    assert(top1 <= top10 && top10 <= 1.0 && top1 > 0.0)
    // the 10 largest keys hold at least a uniform share
    assert(top10 >= math.min(10.0, users.toDouble) / users - 1e-9)
  }

  test("copurchase pairs are ordered and support-thresholded") {
    val c = operators.Relational.qCopurchase(spark, sfDir).cache()
    assert(c.filter(col("part_a") >= col("part_b")).count() === 0)
    assert(c.filter(col("n_orders") < 2).count() === 0)
    // spot-check one pair's support against a direct count
    val top = c.orderBy(col("n_orders").desc, col("part_a"), col("part_b")).head()
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct()
    val direct = li.filter(col("l_partkey") === top.getLong(0))
      .select("l_orderkey")
      .intersect(li.filter(col("l_partkey") === top.getLong(1)).select("l_orderkey"))
      .count()
    assert(direct === top.getLong(2))
  }

  test("unpivot melts every measure losslessly") {
    val u = operators.Relational.qUnpivot(spark, sfDir)
    val n = Tables.lineitem(spark, sfDir).count()
    val rows = u.collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet === Set("l_quantity", "l_extendedprice", "l_discount"))
    rows.values.foreach { case (cnt, _) => assert(cnt === n) }
    val direct = Tables.lineitem(spark, sfDir)
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")).head().getDouble(0)
    assert(math.abs(rows("l_quantity")._2 - direct) < 1e-6)
  }

  // --- round-6 statistics additions in sibling modules ---

  test("pmi reproduces from raw counts for a spot-checked collocation") {
    val pmi = operators.TextAnalysis.qPmi(spark, sfDir).cache()
    assert(pmi.filter(col("n_ab") < 5).count() === 0)
    if (pmi.count() > 0) {
      val top = pmi.orderBy(col("pmi").desc, col("tok_a"), col("tok_b")).head()
      val toks = operators.TextPrep.cleanDocs(spark, sfDir)
        .select(explode(col("toks")).as("tok"))
      val nUni = toks.count()
      val na = toks.filter(col("tok") === top.getString(0)).count()
      val nb = toks.filter(col("tok") === top.getString(1)).count()
      val bg = operators.TextPrep.cleanDocs(spark, sfDir)
        .select(explode(graft.functions.TextFns.shingles(col("toks"), 2)).as("bg"))
      val nBi = bg.count()
      val nab = bg.filter(col("bg") === (top.getString(0) + " " + top.getString(1))).count()
      val expect = math.log((nab.toDouble / nBi) /
        ((na.toDouble / nUni) * (nb.toDouble / nUni)))
      assert(math.abs(top.getDouble(3) - expect) < 1e-5)
    }
  }

  test("textrank returns 20 ranked vocabulary keywords") {
    val kw = operators.TextAnalysis.qKeywords(spark, sfDir).cache()
    assert(kw.count() === 20)
    val ranks = kw.collect().map(_.getDouble(1))
    assert(ranks.toSeq === ranks.sortBy(-_).toSeq)
    assert(ranks.forall(_ > 0))
    // every keyword is a real clean token of the corpus
    val vocab = operators.TextPrep.cleanDocs(spark, sfDir)
      .select(explode(col("toks")).as("token")).distinct()
    assert(kw.join(vocab, Seq("token"), "left_anti").count() === 0)
  }

  test("textrank above the edge limit (distributed pageRank) keeps the " +
    "local path's top 20") {
    def top(limit: Int) = operators.TextAnalysis.qKeywordsAt(spark, sfDir, limit)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val local = top(operators.TextAnalysis.KeywordsEdgeLimit)
    assert(local.length === 20)
    assert(top(0) === local)
  }

  test("cohen's kappa is consistent with the confusion matrix and bounded") {
    val k = operators.Evaluation.qKappa(spark, sfDir).head()
    val (tp, fp, tn, fn) = (k.getLong(0), k.getLong(1), k.getLong(2), k.getLong(3))
    val n = (tp + fp + tn + fn).toDouble
    val po = (tp + tn) / n
    val pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (n * n)
    assert(math.abs(k.getDouble(6) - (po - pe) / (1 - pe)) < 1e-6)
    assert(k.getDouble(6) >= -1.0 && k.getDouble(6) <= 1.0)
  }

  test("cube emits all four grouping sets over the rollup's three") {
    val cube = operators.Relational.qCube(spark, sfDir).cache()
    val li = Tables.lineitem(spark, sfDir)
    val flags = li.select("l_returnflag").distinct().count()
    val statuses = li.select("l_linestatus").distinct().count()
    val cells = cube.filter(col("gid") === 0).count()
    assert(cube.count() === cells + flags + statuses + 1)
    // grand total row reproduces the full row count
    assert(cube.filter(col("gid") === 3).head().getLong(3) === li.count())
  }

  test("weighted sampling is deterministic and size-biased") {
    val a = operators.TextAnalysis.qSampleWeighted(spark, sfDir).collect()
    val b = operators.TextAnalysis.qSampleWeighted(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.length === 20)
    // ln(u)/w is strictly negative and sorted descending
    val keys = a.map(_.getDouble(3))
    assert(keys.forall(_ < 0))
    assert(keys.toSeq === keys.sortBy(-_).toSeq)
    // A-ES with size weights: the sample's mean doc length should not fall
    // below the corpus mean (larger docs get systematically higher priority)
    val corpusMean = Tables.documents(spark, sfDir)
      .agg(avg("n_chars")).head().getDouble(0)
    val sampleMean = a.map(_.getLong(2)).sum.toDouble / a.length
    assert(sampleMean > corpusMean * 0.9)
  }
}
