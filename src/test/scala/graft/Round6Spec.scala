package graft

import graft.operators.{Dedup, Relational, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-6 operators: connected-components dedup clusters, as-of join,
  * bucketed range join, BM25 ranking — invariants a hash-compare alone
  * doesn't pin down (multi-hop convergence, boundary inclusivity,
  * monotonicity). */
class Round6Spec extends SparkSpec {

  // ---------------- SQL function registration ----------------

  test("native kernels are callable from SQL with API-identical results") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0), Seq("a", "b", "a")))
      .toDF("u", "v", "toks")
    df.createOrReplaceTempView("r6_vecs")
    val viaSql = spark.sql(
      """SELECT vec_dot(u, v) AS d, vec_cosine(u, v) AS c,
         simhash64(toks) AS sh, minhash_signature(toks, 4) AS mh FROM r6_vecs""").head()
    val viaApi = df.select(
      graft.functions.VectorMath.dot(col("u"), col("v")).as("d"),
      graft.functions.VectorMath.cosine(col("u"), col("v")).as("c"),
      graft.functions.HashKernelCols.simhash64(col("toks")).as("sh"),
      graft.functions.HashKernelCols.minhash(col("toks"), 4).as("mh")).head()
    assert(viaSql.getDouble(0) === viaApi.getDouble(0))
    assert(viaSql.getDouble(1) === viaApi.getDouble(1))
    assert(viaSql.getLong(2) === viaApi.getLong(2))
    assert(viaSql.getSeq[Long](3) === viaApi.getSeq[Long](3))
  }

  // ---------------- connected components ----------------

  test("connectedComponents labels a path graph in min-label, multi-hop") {
    import spark.implicits._
    // path 1-2-3-4-5 forces label 1 to travel 4 hops; plus an isolated
    // edge {10, 11} and its min label
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (11L, 10L)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents on an empty edge list returns no labels") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty).count() === 0)
  }

  /** (id, label) rows as BIGINT pairs, whatever the column types. */
  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("id").cast("long"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("components: both sides of the size gate give the min-id labels") {
    import spark.implicits._
    // chain 1-2-3-4-5 plus the disjoint pair {10, 11}
    val pairs = Seq((2, 1), (2, 3), (4, 3), (4, 5), (11, 10))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L)
    val e = pairs.map { case (a, b) => (a.toLong, b.toLong) }.toDF("a", "b")
    assert(labelMap(Dedup.components(e, 0)) === expected)
    assert(labelMap(Dedup.components(e)) === expected)
    // on INT edges the local side widens labels to BIGINT and the
    // distributed side keeps INT, so the limit picks the side it names
    val eInt = pairs.toDF("a", "b")
    val local = Dedup.components(eInt)
    val dist = Dedup.components(eInt, 0)
    assert(local.schema("label").dataType.typeName === "long")
    assert(dist.schema("label").dataType.typeName === "integer")
    assert(labelMap(local) === expected)
    assert(labelMap(dist) === expected)
  }

  test("ccFoldBatch folds INT-typed labels and edges like BIGINT ones") {
    import spark.implicits._
    // base {1,2} and {10,11}; the delta joins both through 3 and adds {20,21}
    val prev = Seq((1, 1), (2, 1), (10, 10), (11, 10))
    val delta = Seq((2, 3), (3, 11), (20, 21))
    val asLong = Relational.ccFoldBatch(
      prev.map { case (a, b) => (a.toLong, b.toLong) }.toDF("id", "label"),
      delta.map { case (a, b) => (a.toLong, b.toLong) }.toDF("a", "b"))
    val asInt = Relational.ccFoldBatch(prev.toDF("id", "label"), delta.toDF("a", "b"))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L)
    assert(labelMap(asLong) === expected)
    assert(labelMap(asInt) === expected)
  }

  test("global row numbers are invariant to input partitioning") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, (i * 31 % 97).toLong)).toDF("id", "v")
    def rn(d: org.apache.spark.sql.DataFrame) = graft.functions.Ranks
      .globalRowNumber(d, col("v").asc, col("id").asc)
      .select("id", "rn")
    assert(rn(df.repartition(7)).except(rn(df.coalesce(1))).count() === 0)
  }

  test("q_dedup_clusters covers exactly the paired docs, consistently") {
    val pairs = Dedup.qDedupJaccard(spark, sfDir).select("doc_a", "doc_b")
    val clusters = Dedup.qDedupClusters(spark, sfDir)
    // both ends of every near-dup pair land in the SAME cluster
    val split = pairs
      .join(clusters.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca")), Seq("doc_a"))
      .join(clusters.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")), Seq("doc_b"))
      .filter(col("ca") =!= col("cb")).count()
    assert(split === 0)
    // cluster id is the min doc_id of its members
    val badRoot = clusters.groupBy("cluster_id").agg(min(col("doc_id")).as("m"))
      .filter(col("cluster_id") =!= col("m")).count()
    assert(badRoot === 0)
  }

  // ---------------- as-of join ----------------

  test("as-of semantics: latest view at-or-before each purchase") {
    val out = Relational.qAsofJoin(spark, sfDir)
    // one output row per purchase, matched or not
    val nPurchases = graft.sources.Tables.events(spark, sfDir)
      .filter(col("event_type") === "view").count() // sanity the table loads
    assert(nPurchases > 0)
    assert(out.count() ===
      graft.sources.Tables.events(spark, sfDir).filter(col("event_type") === "purchase").count())
    // gaps are never negative (the matched view is never in the future)
    assert(out.filter(col("gap_us") < 0).count() === 0)
    // cross-check a sample against the naive per-row max-ts rule
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val naive = ev.filter(col("event_type") === "purchase").limit(50)
      .join(ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("us").as("v_us")), Seq("user_id"), "left_outer")
      .filter(col("v_us").isNull || col("v_us") <= col("us"))
      .groupBy("event_id").agg((first(col("us")) - max(col("v_us"))).as("gap_naive"))
    val mismatch = out.join(naive, Seq("event_id"))
      .filter(!(col("gap_us") <=> col("gap_naive"))).count()
    assert(mismatch === 0)
  }

  // ---------------- range join ----------------

  test("range join matches the naive inequality join, boundaries included") {
    val W = Relational.RangeJoinWindowUs
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val naive = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us").as("p_us"))
      .join(ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("c_us")), Seq("user_id"), "left_outer")
      .withColumn("hit",
        when(col("c_us") > col("p_us") - W && col("c_us") <= col("p_us"), 1L).otherwise(0L))
      .groupBy("event_id").agg(sum(col("hit")).as("n_naive"))
    val mismatch = Relational.qRangeJoin(spark, sfDir)
      .join(naive, Seq("event_id"))
      .filter(col("n_clicks") =!= col("n_naive")).count()
    assert(mismatch === 0)
  }

  // ---------------- plan shapes ----------------

  test("temporal joins never degrade to nested-loop or cartesian plans") {
    for (df <- Seq(Relational.qAsofJoin(spark, sfDir), Relational.qRangeJoin(spark, sfDir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(5).mkString("\n"))
      assert(!plan.contains("CartesianProduct"))
    }
    // the as-of join is join-free by construction: one window over the
    // unioned streams, no join operator at all
    val asofPlan = Relational.qAsofJoin(spark, sfDir).queryExecution.executedPlan.toString
    assert(!asofPlan.contains("Join"), asofPlan.linesIterator.take(5).mkString("\n"))
  }

  // ---------------- pivot & anomaly ----------------

  test("pivot preserves mass: per-day column sums equal the event total") {
    val out = Relational.qPivot(spark, sfDir)
    val total = Relational.EventTypes
      .map(t => out.agg(sum(col(t))).head().getLong(0)).sum
    assert(total === graft.sources.Tables.events(spark, sfDir).count())
  }

  test("anomaly query flags exactly the |z| >= 2 days of the naive computation") {
    val daily = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).cast("double").as("tot"))
    // naive two-pass z-score (population of daily totals per type)
    val st = daily.groupBy("event_type")
      .agg(avg(col("tot")).as("m"), stddev_samp(col("tot")).as("sd"), count(lit(1)).as("n"))
    val naive = daily.join(st, Seq("event_type"))
      .filter(col("n") >= 2 && col("sd") > 0)
      .withColumn("z", (col("tot") - col("m")) / col("sd"))
      .filter(abs(col("z")) >= 2.0 - 1e-9)
    val out = Relational.qAnomaly(spark, sfDir)
    // same flagged (type, day) set up to fp noise at the threshold
    val extra = out.select("event_type", "day")
      .except(naive.select("event_type", "day")).count()
    assert(extra === 0)
  }

  // ---------------- global ranking / compaction ----------------

  test("distributed global ntile equals the builtin single-partition ntile") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 23 rows / 10 buckets: total % k != 0 exercises the wider-first-buckets rule
    val df = (1 to 23).map(i => (i.toLong, (i * 37 % 23).toLong)).toDF("id", "v")
    val viaLib = graft.functions.Ranks
      .globalRowNumber(df, col("v").desc, col("id").asc)
      .crossJoin(broadcast(df.agg(count(lit(1)).as("N"))))
      .select(col("id"), graft.functions.Ranks.ntileOf(col("rn"), col("N"), 10).as("b"))
    val viaWindow = df.select(col("id"),
      ntile(10).over(Window.orderBy(col("v").desc, col("id").asc)).as("b"))
    assert(viaLib.except(viaWindow).count() === 0 && viaWindow.except(viaLib).count() === 0)
    // and the lib plan contains no single-partition window exchange
    val plan = viaLib.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.linesIterator.take(3).mkString("\n"))
  }

  test("approx decile buckets track the exact ntile within rank tolerance") {
    val approx = Relational.qNtileApprox(spark, sfDir)
      .select(col("decile"), col("n_customers")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val exact = Relational.qNtile(spark, sfDir)
      .select(col("decile"), col("n_customers")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(approx.values.sum === exact.values.sum) // partition of the same set
    val n = exact.values.sum.toDouble
    // GK accuracy 10000 on a small-SF corpus: every bucket within 20% + 2
    for (d <- 1 to 10)
      assert(math.abs(approx.getOrElse(d, 0L) - exact(d)) <= n / 10 * 0.2 + 2,
        s"decile $d: approx=${approx.getOrElse(d, 0L)} exact=${exact(d)}")
  }

  test("compaction keeps exactly one newest row per key") {
    val out = Relational.qCompact(spark, sfDir)
    val keys = graft.sources.Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct().count()
    assert(out.count() === keys)
    // the kept ts is the key's max ts
    val maxTs = graft.sources.Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type")
      .agg(max(unix_micros(col("ts"))).as("max_us"))
    assert(out.join(maxTs, Seq("user_id", "event_type"))
      .filter(col("us") =!= col("max_us")).count() === 0)
  }

  // ---------------- chi-square association ----------------

  test("chi-square hits N exactly for a perfectly source-exclusive token") {
    import spark.implicits._
    // 'zebra' in all 5 docs of source A and nowhere else; 7 docs of B
    val docs = ((1 to 5).map(i => (i.toLong, "A", Seq("zebra", "common"))) ++
      (6 to 12).map(i => (i.toLong, "B", Seq("common", "other")))).toDF("doc_id", "source", "rtoks")
    val out = TextAnalysis.chisqOf(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // perfect association: chi2 == N == 12 (phi = 1)
    assert(out(("zebra", "A")) === 12.0)
    // 'common' is in every doc -> nt == nd, filtered out by the guard
    assert(!out.keys.exists(_._1 == "common"))
  }

  // ---------------- typed top-k aggregator ----------------

  test("TopKAggregator equals sorted-take-k under any split and order") {
    val agg = graft.functions.TopKAggregator(3)
    val xs = Seq((5.0, 2L), (5.0, 1L), (1.0, 9L), (7.0, 4L), (3.0, 3L), (7.0, 5L), (2.0, 8L))
    val expect = xs.sortBy { case (v, id) => (-v, id) }.take(3).toList
    // single-pass reduce
    assert(xs.foldLeft(agg.zero)(agg.reduce) === expect)
    // every 2-way split merges to the same answer (combiner law)
    for (i <- 0 to xs.size) {
      val (l, r) = xs.splitAt(i)
      assert(agg.merge(l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce)) === expect)
    }
  }

  test("q_topk emits k rows per group in rank order") {
    val out = Relational.qTopk(spark, sfDir)
    val bad = out.groupBy("event_type").agg(count(lit(1)).as("n"),
      max(col("rank")).as("mr")).filter(col("n") =!= 3 || col("mr") =!= 3).count()
    assert(bad === 0)
  }

  // ---------------- graph stats / hop windows / mix rates ----------------

  test("graph stats are exact on K4: 4 triangles, clustering 1") {
    import spark.implicits._
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val r = Dedup.graphStatsOf(k4).head()
    assert(r.getAs[Long]("n_nodes") === 4 && r.getAs[Long]("n_edges") === 6)
    assert(r.getAs[Long]("n_triangles") === 4 && r.getAs[Long]("n_wedges") === 12)
    assert(r.getAs[Double]("clustering") === 1.0)
  }

  test("hopping windows count every event exactly width/hop times") {
    val total = Relational.qEventsHop(spark, sfDir).agg(sum(col("n"))).head().getLong(0)
    assert(total === 2 * graft.sources.Tables.events(spark, sfDir).count())
  }

  test("gap filling yields a complete rectangular grid preserving mass") {
    val out = Relational.qGapfill(spark, sfDir)
    val types = out.select("event_type").distinct().count()
    val days = out.select("day").distinct().count()
    assert(out.count() === types * days) // dense rectangle
    assert(out.agg(sum(col("n"))).head().getLong(0) ===
      graft.sources.Tables.events(spark, sfDir).count()) // zero-fill adds no mass
  }

  test("mix rates cap at 1 and land the corpus on the token budget") {
    val out = TextAnalysis.qMixRates(spark, sfDir)
    assert(out.filter(col("rate") > 1.0).count() === 0)
    val tot = out.agg(sum(col("n_tokens")).cast("double").as("t"),
      sum(col("sampled_tokens")).cast("double").as("s")).head()
    // sampled mass never exceeds the budget fraction (floor + capped sources
    // can only undershoot), and is within 25% of it on this corpus
    val budget = tot.getDouble(0) * TextAnalysis.MixBudgetFrac
    assert(tot.getDouble(1) <= budget + 1e-6)
    assert(tot.getDouble(1) >= budget * 0.75)
  }

  // ---------------- BM25 ----------------

  test("BM25 scores rank term-bearing docs and respect tf monotonicity") {
    import spark.implicits._
    val out = TextAnalysis.qBm25(spark, sfDir)
    assert(out.count() > 0 && out.count() <= TextAnalysis.Bm25TopK)
    // every scored doc actually contains a query term
    val terms = TextAnalysis.Bm25Terms
    val hasTerm = graft.operators.TextPrep.rawDocs(spark, sfDir)
      .select(col("doc_id"), col("rtoks"))
      .filter(terms.map(t => array_contains(col("rtoks"), t)).reduce(_ || _))
      .select("doc_id")
    assert(out.join(hasTerm, Seq("doc_id"), "left_anti").count() === 0)
    // synthetic two-doc check: same length, one has strictly more matches
    val docs = Seq(
      (1L, "spark join window spark filler filler filler filler"),
      (2L, "spark filler filler filler filler filler filler filler")).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"), graft.functions.TextFns.rawTokens(col("text")).as("toks"))
    val n1 = toks.filter(col("doc_id") === 1L)
      .select(size(org.apache.spark.sql.functions.filter(col("toks"),
        x => terms.map(t => x === t).reduce(_ || _)))).head().getInt(0)
    assert(n1 === 4) // tokenizer sees every query-term occurrence (spark×2, join, window)
  }
}
