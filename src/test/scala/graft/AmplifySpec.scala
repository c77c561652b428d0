package graft

import graft.functions.VectorMath.dot
import org.apache.spark.sql.functions._

/** Invariants of the scaling-certification amplifier (graft.Amplify) —
  * the SCALING.md measurements are only meaningful if the amplified data
  * preserves the properties the doc claims, so those claims are pinned
  * here on a K=3 copy of sf0.001:
  *   - row counts scale exactly ×K for facts, ×1 for dims;
  *   - FK closure survives (every amplified order references an
  *     amplified customer, every lineitem an order/part/supplier);
  *   - per-copy join selectivity is IDENTICAL (copy c of orders joins
  *     copy c of customer — key shifts move in lockstep);
  *   - the documents transform keeps within-copy token structure
  *     byte-derivable (copy tokens are tag+original, so per-doc token
  *     counts match the original) while making cross-copy vocabularies
  *     disjoint;
  *   - the embeddings transform is ORTHOGONAL: within-copy cosines and
  *     norms are preserved (exactly as reals; fp dot products
  *     reassociate at the last ulp under the dimension rotation);
  *   - determinism: two amplifier runs produce value-identical tables.
  */
class AmplifySpec extends SparkSpec {

  private val k = 3
  private lazy val outDir: String = {
    val d = java.nio.file.Files.createTempDirectory("amplify-spec").toFile
    d.deleteOnExit()
    Amplify.run(spark, sfDir, d.getAbsolutePath, k)
    d.getAbsolutePath
  }
  private def t(name: String) = spark.read.parquet(s"$outDir/$name.parquet")
  private def src(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")

  test("facts scale exactly xK, dims pass through") {
    for (f <- Seq("customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings"))
      assert(t(f).count() === k * src(f).count(), f)
    for (d <- Seq("region", "nation"))
      assert(t(d).count() === src(d).count(), d)
  }

  test("FK closure survives amplification") {
    assert(t("orders").join(t("customer"),
      col("o_custkey") === col("c_custkey"), "left_anti").count() === 0L)
    assert(t("lineitem").join(t("orders"),
      col("l_orderkey") === col("o_orderkey"), "left_anti").count() === 0L)
    assert(t("lineitem").join(t("part"),
      col("l_partkey") === col("p_partkey"), "left_anti").count() === 0L)
    assert(t("lineitem").join(t("supplier"),
      col("l_suppkey") === col("s_suppkey"), "left_anti").count() === 0L)
  }

  test("per-copy join selectivity is identical: copy c keys stay in copy c") {
    // every order's custkey lands in the same 1e6 band as its orderkey
    val crossBand = t("orders")
      .filter(col("o_orderkey").divide(Amplify.KeyShift).cast("long") =!=
        col("o_custkey").divide(Amplify.KeyShift).cast("long"))
      .count()
    assert(crossBand === 0L, "FK pairs must shift in lockstep")
  }

  test("documents: within-copy token counts preserved, cross-copy vocab disjoint") {
    val tokCount = (c: org.apache.spark.sql.Column) =>
      size(split(trim(c), "\\s+"))
    val orig = src("documents")
      .select(col("doc_id"), tokCount(col("text")).as("n0"))
    val copy1 = t("documents")
      .filter(col("doc_id") >= Amplify.KeyShift &&
        col("doc_id") < 2 * Amplify.KeyShift)
      .select((col("doc_id") - Amplify.KeyShift).as("doc_id"),
        tokCount(col("text")).as("n1"))
    val diff = orig.join(copy1, Seq("doc_id"))
      .filter(col("n0") =!= col("n1")).count()
    assert(diff === 0L, "word-prefix transform must not merge or split tokens")
    // vocabularies of copy 0 and copy 1 share nothing
    def vocab(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0).distinct()
    val shared = vocab(t("documents").filter(col("doc_id") < Amplify.KeyShift))
      .join(vocab(t("documents").filter(col("doc_id") >= Amplify.KeyShift &&
        col("doc_id") < 2 * Amplify.KeyShift)), Seq("w")).count()
    assert(shared === 0L, "cross-copy vocabularies must be disjoint")
  }

  test("embeddings: per-copy transform is orthogonal (cosines and norms preserved)") {
    val e = t("embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    def pairCos(ids: (Long, Long)): Double = {
      val vs = e.filter(col("vec_id").isin(ids._1, ids._2))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val (a, b) = (vs(ids._1), vs(ids._2))
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // orthogonal in exact arithmetic; the fp dot walks the dims in the
    // ROTATED order, so sums reassociate at the last ulp — that is the
    // preservation bound, and anything beyond ~1e-12 means the transform
    // stopped being orthogonal
    val base = pairCos((3L, 7L))
    val c1 = pairCos((Amplify.KeyShift + 3L, Amplify.KeyShift + 7L))
    val c2 = pairCos((2 * Amplify.KeyShift + 3L, 2 * Amplify.KeyShift + 7L))
    assert(math.abs(base - c1) < 1e-12 && math.abs(base - c2) < 1e-12,
      s"within-copy cosines must survive the rotation: $base vs $c1 / $c2")
    val norms = e.filter(col("vec_id") % Amplify.KeyShift === 11L)
      .select(dot(col("v"), col("v")).as("n2"))
      .collect().map(_.getDouble(0))
    assert(norms.length === k)
    assert(norms.forall(n => math.abs(n - norms.head) < 1e-12),
      "norms must be preserved across copies (up to fp reassociation)")
  }

  test("amplifier is deterministic: a second run is value-identical") {
    val d2 = java.nio.file.Files.createTempDirectory("amplify-spec2").toFile
    d2.deleteOnExit()
    Amplify.run(spark, sfDir, d2.getAbsolutePath, k)
    for (name <- Seq("lineitem", "documents", "embeddings")) {
      val a = t(name)
      val b = spark.read.parquet(s"${d2.getAbsolutePath}/$name.parquet")
      assert(a.exceptAll(b).count() === 0L && b.exceptAll(a).count() === 0L, name)
    }
  }

  test("chain mode bridges adjacent copies: graph diameter grows with K") {
    val d3 = java.nio.file.Files.createTempDirectory("amplify-chain").toFile
    d3.deleteOnExit()
    val dir = d3.getAbsolutePath
    Amplify.run(spark, sfDir, dir, k, chain = true)

    // documents: the K−1 bridge docs and BOTH endpoint copies of the base
    // doc must land in ONE near-dup cluster spanning every copy's id band
    val cl = operators.Dedup.qDedupClusters(spark, dir)
    val bridgeIds = (0 until k - 1).map(c => c * Amplify.KeyShift + Amplify.ChainBase)
    val bridgeClusters = cl
      .filter(col("doc_id").isin(bridgeIds.map(Long.box): _*))
      .select("cluster_id").distinct().collect().map(_.getLong(0))
    assert(bridgeClusters.length === 1,
      "all bridge docs must share one cluster")
    val span = cl.filter(col("cluster_id") === bridgeClusters.head)
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .collect()(0)
    assert(span.getLong(0) < Amplify.KeyShift, "chain reaches copy 0")
    assert(span.getLong(1) >= (k - 1) * Amplify.KeyShift,
      "chain reaches the last copy")

    // co-purchase graph: the bridged part's copies must share a component
    val bridgeParts = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") % Amplify.KeyShift >= Amplify.ChainBase)
      .select("l_partkey").distinct().collect().map(_.getLong(0))
    assert(bridgeParts.length === k, s"k bridged part copies, got ${bridgeParts.length}")
    val comps = operators.Relational.qConnectedComponents(spark, dir)
      .filter(col("part").isin(bridgeParts.map(Long.box): _*))
      .select("component").distinct().count()
    assert(comps === 1L, "bridged part copies must share one component")

    // chain rows are O(K): facts grow by exactly the bridge rows
    assert(spark.read.parquet(s"$dir/documents.parquet").count() ===
      k * src("documents").count() + (k - 1))
    assert(spark.read.parquet(s"$dir/lineitem.parquet").count() ===
      k * src("lineitem").count() + 4L * (k - 1))
  }
}
