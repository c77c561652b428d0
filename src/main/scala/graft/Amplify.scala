package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale amplifier for the scaling-slope certification
  * (SCALING.md): writes a K× copy of an sf directory to a scratch dir by
  * unioning K key-shifted copies of every fact table. No RNG anywhere —
  * copy c of a row is a pure function of the row and c, so two builds of
  * the same (src, K) are byte-identical relations.
  *
  * Shape rules (what "10× the data" should mean for THESE queries):
  *  - region/nation pass through verbatim — genuinely fixed-cardinality
  *    dimensions; amplified facts keep referencing them, so group-by-dim
  *    cardinalities stay constant while fact rows grow ×K (the actual
  *    100 TB shape).
  *  - every synthetic-key column shifts by c·10⁶ per copy, shifting FK
  *    pairs identically (custkey in customer AND orders, …), so join
  *    selectivity per row is IDENTICAL in every copy. 10⁶ exceeds every
  *    base key (max 149,999) and K ≤ 9 keys stay below the bloom-audit
  *    alien range at 10⁷. vec_id/doc_id shifts are ≡ 0 (mod 5), so the
  *    deterministic %5 train/test splits keep their proportions.
  *  - documents: copy c > 0 prefixes every word with a letter-only copy
  *    tag ("xa", "xb", …) and recomputes n_chars. Within-copy token
  *    structure (and so dup groups, n-gram spans, line dedup) is
  *    preserved exactly; across copies vocabularies are DISJOINT —
  *    without this, K verbatim copies of each document would fabricate
  *    K²/2 cross-copy near-dup pairs per group and every pair-emitting
  *    dedup query would go quadratic BY DATA CONSTRUCTION, which is a
  *    property of the synthetic corpus, not of the plans being measured.
  *    (Vocabulary growing ~×K with corpus size is also the realistic
  *    direction — Heaps' law.) Trade: stopword/dictionary matches only
  *    fire in copy 0, so selectivity-dependent stages see a different
  *    mix — documented in SCALING.md.
  *  - embeddings: copy c applies a per-copy rotation of the 64 dims plus
  *    a ±1 sign mask — an ORTHOGONAL transform, so every within-copy
  *    distance, cosine, norm and split is preserved (exactly as reals;
  *    fp dots reassociate at the last ulp under the rotated summation
  *    order) while cross-copy cosines scatter to ~0 (same
  *    quadratic-pair rationale).
  *  - events: ids shift, timestamps pass through — the 30-day calendar
  *    stays fixed and per-day volume grows ×K, which is exactly how an
  *    event stream scales; day-bounded window queries keep constant
  *    output cardinality over ×K input.
  */
object Amplify {

  val KeyShift = 1000000L
  val EmbDim = 64

  /** Key offset (within each copy's KeyShift block) for chain-mode bridge
    * rows — far above every base key (max ~150k) and, at K ≤ 9, below the
    * bloom-audit alien range at 10⁷. */
  val ChainBase = 900001L

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, kStr) = args.take(3)
    val chain = args.length > 3 && args(3) == "chain"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, srcDir, outDir, kStr.toInt, chain)
    spark.stop()
  }

  /** The per-copy word tag ("" for copy 0, "xa"/"xb"/… after) — the same
    * convention the documents amplifier uses. */
  private def copyTag(c: Int): String =
    if (c == 0) "" else s"x${('a' + (c - 1)).toChar}"

  private def tagWords(text: String, tag: String): String =
    if (tag.isEmpty) text
    else text.replaceAll("(?U)\\b(\\p{L})", tag + "$1")

  /** Amplify every table of `srcDir` ×k into `outDir` (see object doc);
    * also the entry point AmplifySpec pins the invariants through.
    *
    * `chain = true` is the DIAMETER-HONEST ladder mode: the default
    * key-shifted copies are DISJOINT subgraphs, so every graph diameter
    * stays constant as K grows and a rounds-∝-diameter loop would be
    * certified only under constant diameter. Chain mode bridges each
    * adjacent copy pair so the two graph substrates become a
    * path-of-copies whose diameter grows ∝ K:
    *  - documents: one bridge doc per boundary c→c+1 whose first half is
    *    the longest base doc's first-half words under copy c's tag and
    *    whose second half is its second-half words under copy c+1's tag —
    *    Jaccard ≈ 0.33 ≥ the 0.12 edge threshold against BOTH copies'
    *    full doc (half the shingles shared), ~0 against everything else,
    *    chaining the near-dup graph: full₀ – bridge₀ – full₁ – … .
    *  - lineitem: two bridge orders per boundary, each containing the
    *    most-ordered base part under BOTH copies' key shifts — the
    *    co-purchase rule (pairs sharing ≥ 2 orders) then yields exactly
    *    one cross-copy edge P_c – P_{c+1}, chaining the co-purchase
    *    graph through its busiest component.
    * Bridge keys live at [[ChainBase]] within each copy's block. Bridge
    * rows are O(K) against ×K fact growth — they change graph TOPOLOGY,
    * not measured volume. Chain dirs are for the graph-operator ladder
    * only (bridge rows shift full-relation query answers by O(K) rows). */
  def run(spark: org.apache.spark.sql.SparkSession, srcDir: String,
      outDir: String, k: Int, chain: Boolean = false): Unit = {
    require(k >= 1 && k <= 9, s"K must be in 1..9 (alien-range headroom), got $k")

    def rd(t: String) = sources.Tables.load(spark, srcDir, t)
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(c => shift(df, c)).reduce(_ unionByName _)
    def shiftKeys(df: DataFrame, c: Int, cols: Seq[String]): DataFrame =
      cols.foldLeft(df)((d, name) =>
        d.withColumn(name, (col(name) + lit(c * KeyShift)).cast("long")))

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(copies(rd("customer"))((d, c) => shiftKeys(d, c, Seq("c_custkey"))), "customer")
    wr(copies(rd("supplier"))((d, c) => shiftKeys(d, c, Seq("s_suppkey"))), "supplier")
    wr(copies(rd("part"))((d, c) => shiftKeys(d, c, Seq("p_partkey"))), "part")
    wr(copies(rd("orders"))((d, c) =>
      shiftKeys(d, c, Seq("o_orderkey", "o_custkey"))), "orders")
    val liAmp = copies(rd("lineitem"))((d, c) =>
      shiftKeys(d, c, Seq("l_orderkey", "l_partkey", "l_suppkey")))
    wr(if (chain && k > 1) {
      // template row of the most-ordered part; 2 orders × 2 parts per
      // boundary — enough for the ≥2-shared-orders co-purchase edge rule
      val li = rd("lineitem")
      val p0 = li.groupBy("l_partkey")
        .agg(countDistinct(col("l_orderkey")).as("no"))
        .orderBy(col("no").desc, col("l_partkey").asc)
        .limit(1).collect()(0).getLong(0)
      val tmpl = li.filter(col("l_partkey") === p0)
        .orderBy(col("l_orderkey").asc).limit(1)
      val slots = (0 until k - 1).flatMap(c =>
        for (o <- 0 to 1; side <- 0 to 1) yield (c, o, side))
      val bridges = slots.map { case (c, o, side) =>
        tmpl.withColumn("l_orderkey",
            lit(c * KeyShift + ChainBase + o).cast("long"))
          .withColumn("l_partkey",
            (col("l_partkey") + lit((c + side) * KeyShift)).cast("long"))
          .withColumn("l_suppkey",
            (col("l_suppkey") + lit((c + side) * KeyShift)).cast("long"))
      }.reduce(_ unionByName _)
      liAmp.unionByName(bridges)
    } else liAmp, "lineitem")
    wr(copies(rd("events"))((d, c) =>
      shiftKeys(d, c, Seq("event_id", "user_id"))), "events")
    val docAmp = copies(rd("documents")) { (d, c) =>
      if (c == 0) d
      else {
        val tag = copyTag(c)
        shiftKeys(d, c, Seq("doc_id"))
          .withColumn("text",
            regexp_replace(col("text"), "(?U)\\b(\\p{L})", tag + "$1"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }
    wr(if (chain && k > 1) {
      import spark.implicits._
      val base = rd("documents")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .select("text", "lang", "source").limit(1).collect()(0)
      val (txt, lang, source) =
        (base.getString(0), base.getString(1), base.getString(2))
      val words = txt.trim.split("\\s+")
      val h = words.length / 2
      val bridges = (0 until k - 1).map { c =>
        val text = tagWords(words.take(h).mkString(" "), copyTag(c)) + " " +
          tagWords(words.drop(h).mkString(" "), copyTag(c + 1))
        (c * KeyShift + ChainBase, text, lang, source, text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      docAmp.unionByName(bridges)
    } else docAmp, "documents")
    wr(copies(rd("embeddings")) { (d, c) =>
      if (c == 0) d
      else shiftKeys(d, c, Seq("vec_id"))
        .withColumn("embedding", transform(sequence(lit(0), lit(EmbDim - 1)),
          i => (element_at(col("embedding"), pmod(i + lit(7 * c), lit(EmbDim)) + 1) *
            when(pmod(i + lit(c), lit(3)) === 0, lit(-1.0f)).otherwise(lit(1.0f)))
            .cast("float")))
    }, "embeddings")

    val counts = Seq("lineitem", "orders", "events", "documents", "embeddings")
      .map(t => s"$t=${sources.Tables.load(spark, outDir, t).count()}")
    println(s"amplify: k=$k src=$srcDir out=$outDir ${counts.mkString(" ")}")
  }
}
