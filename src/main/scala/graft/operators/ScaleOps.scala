package graft.operators

import graft.{Cert, Oracle, Q, QueryModule}
import graft.functions.TextFns
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** Operators a 100 TB training-data pipeline leans on that are about the
  * EXECUTION shape more than the query semantics:
  *
  *  - q_chunk: fixed-size token chunking with overlap — the map that turns
  *    documents into training windows. Pure per-row explode (no shuffle).
  *  - q_fuzzy_vocab: edit-distance vocabulary matching with length-bucket
  *    blocking — the scale-safe fuzzy-join shape (equi-join on a posted
  *    blocking key, never an all-pairs product).
  *  - q_bloom_semi: semi-join with a Bloom-filter pre-prune — builds a
  *    bloom over the build side's join keys and applies it via Spark's
  *    native `BloomFilterMightContain` BEFORE the shuffle, then closes
  *    with the exact semi-join. At 100 TB this is the difference between
  *    shuffling every probe row and shuffling ~the matching ones; the
  *    final result is EXACTLY the semi-join (the oracle proves it).
  *  - q_heavy_hitters: Count-Min-Sketch frequency estimates checked
  *    against exact counts — emits the CMS one-sided guarantee
  *    (estimate ≥ truth) and the ε-bound as hash-gated booleans.
  *  - q_ewma: exponentially-weighted moving average as a closed-form
  *    window aggregate — weights are exact powers of two (shiftleft) and
  *    sums stay DECIMAL, so the "recursive" smoother becomes one
  *    deterministic, engine-portable window pass.
  *  - q_zorder: Morton layout-clustering keys (unrolled bit interleave as
  *    integer Column arithmetic) — 2-D row-group pruning via sort order.
  *  - q_table_diff: Merkle-bucket reconciliation — per-bucket content
  *    digests instead of row-by-row compares for replica/migration audits.
  */
object ScaleOps extends QueryModule {

  // ---------------------------------------------------------- chunking
  private val ChunkSize = 64
  private val ChunkStride = 48 // 16-token overlap between consecutive chunks

  /** Chunk every document into ChunkSize-token windows every ChunkStride
    * tokens (trailing chunk may be short). Narrow transform: tokenize →
    * sequence → posexplode; no shuffle, scales linearly with the scan. */
  def chunksOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("rtoks"), size(col("rtoks")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("rtoks"), col("n_tokens"),
        posexplode(sequence(lit(0), col("n_tokens") - 1, lit(ChunkStride))))
      .select(col("doc_id"),
        col("pos").cast("int").as("chunk_id"),
        col("col").cast("int").as("chunk_start"),
        least(lit(ChunkSize), col("n_tokens") - col("col")).cast("int").as("chunk_len"),
        element_at(col("rtoks"), col("col") + 1).as("first_tok"),
        col("n_tokens"))

  def qChunk(s: SparkSession, dir: String): DataFrame =
    chunksOf(TextPrep.rawDocs(s, dir))

  private val qChunkSql =
    s"""WITH toks AS (SELECT doc_id, ${TextFns.rawTokensSql("text")} AS t FROM documents),
       n AS (SELECT doc_id, t, CAST(len(t) AS INT) AS n_tokens FROM toks WHERE len(t) > 0),
       st AS (SELECT doc_id, t, n_tokens,
                unnest(generate_series(0, CAST(n_tokens AS BIGINT) - 1, $ChunkStride)) AS gs
              FROM n)
       SELECT doc_id, CAST(gs // $ChunkStride AS INT) AS chunk_id, CAST(gs AS INT) AS chunk_start,
              CAST(least($ChunkSize, n_tokens - gs) AS INT) AS chunk_len,
              t[gs+1] AS first_tok, n_tokens
       FROM st"""

  // ------------------------------------------------------- fuzzy vocab
  /** All near-miss token pairs (edit distance ≤ 2, both length ≥ 3) in the
    * corpus vocabulary, with corpus frequencies — the spell-match /
    * vocabulary-reconciliation primitive. Blocking: the right side posts
    * one copy per candidate length (±2), so candidates come from an
    * EQUI-join on length — at a 10M-type vocabulary this is the shape
    * that survives (5·|V| posted rows, never |V|²). */
  def qFuzzyVocab(s: SparkSession, dir: String): DataFrame = {
    val vocab = TextPrep.rawDocs(s, dir)
      .select(explode(col("rtoks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(length(col("tok")) >= 3)
    val posted = vocab.select(col("tok").as("tok_b"), col("cnt").as("cnt_b"),
        explode(sequence(length(col("tok")) - 2, length(col("tok")) + 2)).as("blk"))
    vocab.select(col("tok").as("tok_a"), col("cnt").as("cnt_a"),
        length(col("tok")).as("len_a"))
      .join(posted, col("len_a") === col("blk") && col("tok_a") < col("tok_b"))
      .filter(levenshtein(col("tok_a"), col("tok_b")) <= 2)
      .select(col("tok_a"), col("tok_b"),
        levenshtein(col("tok_a"), col("tok_b")).as("dist"),
        col("cnt_a"), col("cnt_b"))
  }

  private val qFuzzyVocabSql =
    s"""WITH vocab AS (
         SELECT t AS tok, CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT unnest(${TextFns.rawTokensSql("text")}) AS t FROM documents)
         GROUP BY 1 HAVING len(tok) >= 3)
       SELECT a.tok AS tok_a, b.tok AS tok_b,
              CAST(levenshtein(a.tok, b.tok) AS INT) AS dist,
              a.cnt AS cnt_a, b.cnt AS cnt_b
       FROM vocab a JOIN vocab b
         ON len(a.tok) BETWEEN len(b.tok)-2 AND len(b.tok)+2 AND a.tok < b.tok
       WHERE levenshtein(a.tok, b.tok) <= 2"""

  // --------------------------------------------------------- bloom semi
  /** Bloom-filter membership as a Column: Spark's native codegen'd
    * `BloomFilterMightContain` over `xxhash64(key)` — the same expression
    * pair AQE's runtime row-level filtering injects. The bloom bitmap
    * travels as a foldable binary literal (broadcast with the task
    * binary), so the probe side prunes BEFORE any shuffle. */
  def bloomMightContain(bloomBytes: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      XxHash64(Seq(ColumnBridge.expression(key)), 42L)))

  /** Customers with ≥1 order, computed as bloom-prune → exact semi-join.
    * The bloom is built over xxhash64(o_custkey) (matching the probe's
    * hash — see bloomMightContain); false positives are removed by the
    * closing semi-join, so the result is EXACTLY the plain semi-join and
    * the DuckDB EXISTS oracle hash-gates it. */
  def qBloomSemi(s: SparkSession, dir: String): DataFrame = {
    val orderKeys = Tables.orders(s, dir).select(col("o_custkey"))
    // Size the filter from the build side's ESTIMATED key count (guide
    // §3.2: expectedNumItems ≥ the true count), not a fixed 2²¹: a
    // fixed-capacity bitmap is ~2.4 MiB regardless of data, and as a
    // foldable literal it bloated the plan to ~10 MB of text — ~0.8 s of
    // driver-side planning/serialization per run (measured r21). The
    // estimate is one map-side HLL pass (no shuffle, no collect of
    // keys); ±2% HLL error is absorbed by the ×1.5 headroom, and filter
    // SIZE never affects the result — false positives are removed by the
    // closing exact semi-join. At 100 TB the same sizing yields the
    // honest large filter the key count demands.
    val ndv = orderKeys
      .agg(approx_count_distinct(col("o_custkey"), 0.02)).head().getLong(0)
    val bloom = orderKeys.select(xxhash64(col("o_custkey")).as("h"))
      .stat.bloomFilter("h", math.max(1024L, (ndv * 3) / 2), 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    Tables.customer(s, dir).select("c_custkey", "c_name", "c_acctbal")
      .filter(bloomMightContain(bytes, col("c_custkey")))
      .join(orderKeys, col("c_custkey") === col("o_custkey"), "left_semi")
  }

  private val qBloomSemiSql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
       WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""

  /** FPR ceiling of the bloom certificate, cross-multiplied: false
    * positives × Den ≤ non-members (≤ 5% — generous vs the 1% design
    * point at a fraction of design load, so an honest regeneration
    * passes while a corrupted bitmap, which passes ~everything, fails). */
  val BloomFprDen = 20

  /** Synthetic non-member probe set: BloomAlienProbes keys offset far
    * above every real custkey — on this corpus nearly every customer HAS
    * an order, so auditing FPR against real non-members would be
    * vacuous; the alien range is guaranteed disjoint and SQL-derivable. */
  val BloomAlienProbes = 10000
  val BloomAlienOffset = 10000000L

  /** q_bloom_audit: bloom-filter accuracy certificate — completes the
    * sketch-contract family (q_hll_merge distinct counts, q_cms_audit /
    * q_heavy_hitters point frequencies, q_minhash/simhash/cosine-LSH
    * audits, q_percentiles_approx rank bounds): the member count is
    * SQL-derivable (DuckDB recomputes distinct order custkeys),
    * `no_false_negatives` asserts the bloom's HARD guarantee over EVERY
    * member (a member can never fail the filter — bit-OR construction),
    * and `fpr_ok` floors the probabilistic half over the alien probe
    * range. Same filter build as q_bloom_semi (order-independent
    * insertion → deterministic bitmap). The bitmap ships ONCE per
    * executor as a broadcast variable, not as a foldable binary literal
    * copied into every task closure (r10 emitted "broadcasting large
    * task binary 4.9 MiB" — the ~2.5 MiB filter was inlined at both
    * probe sites); the probe is bit-identical to the codegen'd prune
    * path — the same xxhash64(key, seed 42) longs against the same
    * mightContainLong bitmap q_bloom_semi's BloomFilterMightContain
    * evaluates. Round11Spec asserts no MiB-sized literal survives in
    * the optimized plan. */
  def qBloomAudit(s: SparkSession, dir: String): DataFrame = {
    val orderKeys = Tables.orders(s, dir).select(col("o_custkey"))
    val bloom = orderKeys.select(xxhash64(col("o_custkey")).as("h"))
      .stat.bloomFilter("h", 1L << 21, 0.01)
    val bc = s.sparkContext.broadcast(bloom)
    val probe = udf((h: Long) => bc.value.mightContainLong(h))
    val m = orderKeys.distinct()
      .agg(count(lit(1)).as("n_members"),
        sum(probe(xxhash64(col("o_custkey"))).cast("long"))
          .as("members_passing"))
    val a = s.range(1, BloomAlienProbes + 1)
      .select((col("id") + BloomAlienOffset).as("k"))
      .agg(count(lit(1)).as("n_alien_probes"),
        sum(probe(xxhash64(col("k"))).cast("long")).as("fp"))
    m.crossJoin(a)
      .select(col("n_members"), col("n_alien_probes"),
        (col("members_passing") === col("n_members")).as("no_false_negatives"),
        (col("fp") * BloomFprDen <= col("n_alien_probes")).as("fpr_ok"))
  }

  private lazy val qBloomAuditSql =
    s"""SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_members,
         CAST($BloomAlienProbes AS BIGINT) AS n_alien_probes,
         TRUE AS no_false_negatives, TRUE AS fpr_ok
       FROM orders"""

  // ------------------------------------------------------ heavy hitters
  /** Top-20 corpus tokens with exact counts plus the Count-Min-Sketch
    * guarantees as booleans: `cms_lower_ok` (estimate ≥ truth — holds
    * with certainty) and `cms_upper_ok` (estimate ≤ truth + ε·N — holds
    * with prob ≥ confidence; ε·N here is ~1000× the bucket load, so a
    * FAIL would mean the sketch is broken, not unlucky). The sketch is a
    * fixed-size mergeable summary — the 100 TB path is one sketch per
    * partition merged on the driver, which is exactly what stat.countMinSketch
    * does; only the 20 ranked rows leave the executors. */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = TextPrep.rawDocs(s, dir).select(explode(col("rtoks")).as("tok"))
    val eps = 0.001
    val cms = toks.stat.countMinSketch("tok", eps, 0.99, 42)
    val total = cms.totalCount()
    val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok").asc)
      .limit(20).collect()
    val slack = math.ceil(eps * total).toLong
    top.toSeq.map { r =>
      val (tok, cnt) = (r.getString(0), r.getLong(1))
      val est = cms.estimateCount(tok)
      (tok, cnt, est >= cnt, est <= cnt + slack)
    }.toDF("tok", "exact_cnt", "cms_lower_ok", "cms_upper_ok")
  }

  private val qHeavyHittersSql =
    s"""SELECT t AS tok, CAST(count(*) AS BIGINT) AS exact_cnt,
              TRUE AS cms_lower_ok, TRUE AS cms_upper_ok
       FROM (SELECT unnest(${TextFns.rawTokensSql("text")}) AS t FROM documents)
       GROUP BY 1 ORDER BY exact_cnt DESC, tok ASC LIMIT 20"""

  // -------------------------------------------------------------- ewma
  /** Per-user EWMA (α=1/2) of event values over each user's first 40
    * events. The recursion e_t = (x_t + e_{t-1}·1)/… is unrolled into the
    * closed form e_t = Σ 2^i·x_i / Σ 2^i, with 2^i as shiftleft (exact
    * long) and both sums DECIMAL — every intermediate is exact in both
    * engines, so only one final double division is compared. One shuffle
    * on user_id, then a single ordered window pass. */
  def qEwma(s: SparkSession, dir: String): DataFrame = {
    val wOrder = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wRun = wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        row_number().over(wOrder).as("rn"))
      .filter(col("rn") <= 40)
      .select(col("user_id"), col("event_id"), col("rn"),
        round(
          sum(col("value").cast("decimal(18,6)") *
            expr("shiftleft(1L, rn)").cast("decimal(20,0)")).over(wRun).cast("double") /
          sum(expr("shiftleft(1L, rn)").cast("decimal(20,0)")).over(wRun).cast("double"),
          6).as("ewma"))
  }

  private val qEwmaSql =
    """WITH ranked AS (
         SELECT user_id, event_id, ts, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
         FROM events)
       SELECT user_id, event_id, rn,
         round(CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(CAST(1 AS BIGINT) << rn AS DECIMAL(20,0))) OVER w AS DOUBLE)
               / CAST(sum(CAST(CAST(1 AS BIGINT) << rn AS DECIMAL(20,0))) OVER w AS DOUBLE), 6) AS ewma
       FROM ranked WHERE rn <= 40
       WINDOW w AS (PARTITION BY user_id ORDER BY rn ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""

  // ------------------------------------------------------------ z-order
  private val ZBits = 10

  /** Bit-interleave two ZBits-wide ints into a Z-order (Morton) key —
    * pure integer Column arithmetic (shifts/masks unrolled at plan build:
    * 2·ZBits terms, all codegen'd; no UDF). */
  def zorderKey(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      (shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)).cast("long")
    }.reduce(_ + _)

  /** The same interleave as SQL text (mirrors zorderKey term-for-term). */
  private def zorderKeySql(x: String, y: String): String =
    (0 until ZBits).map { i =>
      s"CAST((($x >> $i) & 1) << ${2 * i} AS BIGINT) + CAST((($y >> $i) & 1) << ${2 * i + 1} AS BIGINT)"
    }.mkString(" + ")

  /** Z-order layout clustering: the Morton key over (custkey, price-band)
    * that a 100 TB table would `repartitionByRange(zkey).sortWithinPartitions
    * (zkey)` on before writing, so parquet row-group min/max stats prune
    * 2-DIMENSIONAL predicates (a classic single-column sort only prunes
    * one). Emits the key per order; both dims are exact integer maps
    * (modulo bucket / exact-decimal floor-div) so the oracle hash-gates
    * every row. The locality property (consecutive keys ⇒ nearby in both
    * dims) is spec-asserted. */
  def qZorder(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        (col("o_custkey") % 1024).cast("int").as("xb"),
        (floor(col("o_totalprice").cast("decimal(18,2)") / 1000) % 1024).cast("int").as("yb"))
      .select(col("o_orderkey"), col("xb"), col("yb"),
        zorderKey(col("xb"), col("yb")).as("zkey"))

  private val qZorderSql =
    s"""SELECT o_orderkey, xb, yb, ${zorderKeySql("xb", "yb")} AS zkey
       FROM (SELECT o_orderkey,
               CAST(o_custkey % 1024 AS INT) AS xb,
               CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) / 1000) % 1024 AS INT) AS yb
             FROM orders)"""

  // ------------------------------------------------------------- packing
  /** Training-sequence capacity, in whitespace tokens. */
  val PackCapacity = 256L

  /** q_pack: GPT-style sequence packing — concatenate the token stream in
    * a canonical document order and split at fixed capacity boundaries,
    * so every training sequence is full (documents straddle boundaries;
    * that is what production packing does, it never pads). Per doc:
    * global token offset (distributed prefix sum — Ranks.globalPrefixSum,
    * never a single-task window), the first/last sequence it lands in,
    * and its offset inside the first. The per-sequence fill is exactly
    * PackCapacity by construction; the oracle recomputes everything from
    * a window cumsum over the same order. */
  def qPack(s: SparkSession, dir: String): DataFrame = {
    val docs = TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), size(col("rtoks")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    graft.functions.Ranks.globalPrefixSum(docs, "n_tokens", col("doc_id").asc)
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        (col("cum_before") / PackCapacity).cast("long").as("start_seq"),
        ((col("cum_before") + col("n_tokens") - 1) / PackCapacity).cast("long").as("end_seq"),
        (col("cum_before") % PackCapacity).as("offset_in_seq"))
  }

  private val qPackSql =
    s"""WITH toks AS (
         SELECT doc_id, CAST(len(${TextFns.rawTokensSql("text")}) AS BIGINT) AS n_tokens
         FROM documents),
       c AS (
         SELECT doc_id, n_tokens,
           coalesce(sum(n_tokens) OVER (ORDER BY doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         FROM toks WHERE n_tokens > 0)
       SELECT doc_id, n_tokens, CAST(cum_before AS BIGINT) AS cum_before,
         CAST(cum_before // $PackCapacity AS BIGINT) AS start_seq,
         CAST((cum_before + n_tokens - 1) // $PackCapacity AS BIGINT) AS end_seq,
         CAST(cum_before % $PackCapacity AS BIGINT) AS offset_in_seq
       FROM c"""

  /** q_pipeline: the END-TO-END training-data pipeline capstone — every
    * major family composed into ONE hash-gated query: the full curation
    * funnel (quality ∧ repetition ∧ LM-surprisal ∧ language ∧ dedup
    * survivor ∧ decontaminated), the TRUE ExactSubstr SPAN SCRUB
    * (q_span_scrub_exact — maximal-repeat coverage, not the 5-gram
    * island approximation) for the post-scrub token counts, the
    * LEAKAGE-FREE train split (near-dup
    * clusters move together), then GPT-style sequence packing of the
    * surviving train tokens (distributed prefix sum, PackCapacity
    * boundaries), rolled up per training shard. This is the query a 100 TB
    * corpus actually runs end to end; each stage reuses its memoized
    * shared stage (LM scores, spans, clusters), so composition adds joins,
    * not recomputation. The DuckDB oracle nests the component oracles as
    * CTE subqueries — any drift in ANY stage breaks this hash. */
  def qPipeline(s: SparkSession, dir: String): DataFrame = {
    // the curated-train relation is the "training corpus" — a genuinely
    // shared stage (the prefix sum alone reads it from two passes), so it
    // is memoized + persisted like every other hot stage
    val train = graft.ModelCache.getOrElseUpdate(s, s"pipeline.train:$dir") {
      TextAnalysis.qCurationFull(s, dir).select("doc_id")
        .join(Dedup.qSpanScrubExact(s, dir).select(col("doc_id"), col("n_kept")), Seq("doc_id"))
        .join(Dedup.qSplitLeakfree(s, dir).select(col("doc_id"), col("split")), Seq("doc_id"))
        .filter(col("split") === "train" && col("n_kept") > 0)
        .select(col("doc_id"), col("n_kept"))
        .cache()
    }
    graft.functions.Ranks.globalPrefixSum(train, "n_kept", col("doc_id").asc)
      .select(col("doc_id"), col("n_kept"),
        expr(s"cum_before DIV $PackCapacity").as("shard_id"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_kept")).as("n_tokens"))
  }

  private lazy val qPipelineSql =
    s"""WITH
       cur AS (${TextAnalysis.qCurationFullSql}),
       kept AS (${Dedup.qSpanScrubExactSql}),
       sp AS (${Dedup.qSplitLeakfreeSql}),
       train AS (
         SELECT cur.doc_id, kept.n_kept
         FROM cur
         JOIN kept ON cur.doc_id = kept.doc_id
         JOIN sp ON cur.doc_id = sp.doc_id
         WHERE sp.split = 'train' AND kept.n_kept > 0),
       summed AS (
         SELECT doc_id, n_kept,
           coalesce(sum(n_kept) OVER (ORDER BY doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         FROM train)
       SELECT CAST(cum_before // $PackCapacity AS BIGINT) AS shard_id,
         count(*) AS n_docs, CAST(sum(n_kept) AS BIGINT) AS n_tokens
       FROM summed GROUP BY 1"""

  // ---------------------------------------------------------- table diff
  /** Merkle-style table reconciliation — the audit a 100 TB migration or
    * replica check runs: bucket each table by key, reduce every bucket to
    * a content digest (md5 over the SORTED row-hash list — deterministic
    * in any engine), and compare digests instead of rows. Only the
    * 64-row digest tables meet; mismatched buckets pinpoint where to
    * re-scan. Here the "replica" is the orders table with one priority
    * class dropped, so exactly the buckets containing such orders flag. */
  def qTableDiff(s: SparkSession, dir: String): DataFrame = {
    def digest(df: DataFrame, side: String): DataFrame =
      df.select((col("o_orderkey") % 64).cast("int").as("bucket"),
          md5(concat_ws("|", col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice").cast("decimal(18,2)").cast("string"),
            col("o_orderpriority"))).as("h"))
        .groupBy("bucket")
        .agg(count(lit(1)).as(s"n_$side"),
          md5(concat_ws("", sort_array(collect_list(col("h"))))).as(s"d_$side"))
    val left = digest(Tables.orders(s, dir), "left")
    val right = digest(
      Tables.orders(s, dir).filter(col("o_orderpriority") =!= "5-LOW"), "right")
    left.join(right, Seq("bucket"), "full_outer")
      .select(col("bucket"), col("n_left"), col("n_right"),
        (col("d_left") === col("d_right")).as("digest_match"))
  }

  private val qTableDiffSql =
    """WITH l AS (
         SELECT CAST(o_orderkey % 64 AS INT) AS bucket, count(*) AS n_left,
           md5(string_agg(md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), o_orderpriority)), '' ORDER BY
             md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), o_orderpriority)))) AS d_left
         FROM orders GROUP BY 1),
       r AS (
         SELECT CAST(o_orderkey % 64 AS INT) AS bucket, count(*) AS n_right,
           md5(string_agg(md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), o_orderpriority)), '' ORDER BY
             md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), o_orderpriority)))) AS d_right
         FROM orders WHERE o_orderpriority <> '5-LOW' GROUP BY 1)
       SELECT bucket, n_left, n_right, d_left = d_right AS digest_match
       FROM l FULL OUTER JOIN r USING (bucket)"""

  /** q_hll_merge: MERGEABLE distinct-count sketches (DataSketches HLL,
    * Spark 4 hll_sketch_agg/hll_union_agg) — the two-level aggregation an
    * incremental 100 TB pipeline runs: sketch each partition/source once,
    * persist the tiny sketches, and answer global distinct queries by
    * UNIONING sketches instead of rescanning the corpus. Two gated
    * claims: (1) union-of-partials equals the direct one-pass sketch
    * EXACTLY (register-wise max is order-invariant, so the sketch algebra
    * is deterministic — a true boolean, not a tolerance), and (2) the
    * estimate lands within the lgK=12 error envelope of the exact count
    * (the q_approx_distinct guarantee-gate pattern: exact count hash-gates
    * the data, the envelope is asserted literally). */
  def qHllMerge(s: SparkSession, dir: String): DataFrame = {
    val toks = TextPrep.rawDocs(s, dir)
      .select(col("source"), explode(col("rtoks")).as("tok"))
    val merged = toks.groupBy("source")
      .agg(expr("hll_sketch_agg(tok, 12)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_merged"))
    val direct = toks.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(tok, 12))").as("est_direct"),
      countDistinct(col("tok")).as("exact_distinct"))
    merged.crossJoin(direct)
      .select(col("exact_distinct"),
        (col("est_merged") === col("est_direct")).as("merge_consistent"),
        (abs(col("est_merged") - col("exact_distinct")).cast("double") /
          col("exact_distinct") < 0.05).as("hll_within_5pct"))
  }

  private lazy val qHllMergeSql = {
    val toks = graft.functions.TextFns.rawTokensSql("text")
    s"""SELECT CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct,
         TRUE AS merge_consistent, TRUE AS hll_within_5pct
       FROM (SELECT unnest($toks) AS tok FROM documents)"""
  }

  /** Count-min sketch geometry: d independent hash rows × w buckets, and
    * the audited head size. */
  val CmsDepth = 4
  val CmsWidth = 256
  val CmsTopK = 50

  /** q_cms_audit: count-min sketch accuracy certificate — the third
    * mergeable-sketch contract beside q_hll_merge (distinct counts) and
    * q_bitmap_distinct (exact bitmap union): CMS answers point-frequency
    * queries in d·w integers, merges by cell-wise ADDITION (any partition
    * of the stream sums to the identical sketch — addition is the
    * mergeable algebra, so the audit needs no separate merge leg), and
    * guarantees est ≥ true with P(est − true > εN) ≤ δ. The sketch is
    * built from the (token, cf) TYPE table — bucket counts are additive,
    * so aggregating the pre-counted types equals streaming every
    * occurrence, one vocabulary-sized pass instead of a token-stream
    * pass. The audit: for the top-K head, the exact cf (hash-gates the
    * data), the CMS estimate (min over d md5-keyed rows), the
    * overestimate slack, and the ε = e/w envelope flag — every column an
    * exact integer, the envelope comparison cross-multiplied
    * (slack·w ≤ 3·N ⊃ e·N/w). The audited head is picked with
    * orderBy+limit (TakeOrderedAndProject — per-partition K-heaps, one
    * K-row reduce), never a vocabulary-wide row_number window: at web
    * scale the type table is 10⁸–10⁹ rows and a global window would pull
    * all of it through one sort task. */
  def qCmsAudit(s: SparkSession, dir: String): DataFrame = {
    val stats = TextPrep.tokenStats(s, dir).select(col("tok"), col("cf"))
    val hashed = stats.select(col("tok"), col("cf"),
      explode(array((0 until CmsDepth).map(lit): _*)).as("j"))
      .withColumn("bucket",
        conv(substring(md5(concat(col("j").cast("string"), lit(":"), col("tok"))),
          1, 8), 16, 10).cast("long") % CmsWidth)
    val sketch = hashed.groupBy("j", "bucket").agg(sum(col("cf")).as("cnt"))
    val total = stats.agg(sum(col("cf")).as("n_total"))
    val top = stats
      .orderBy(col("cf").desc, col("tok").asc)
      .limit(CmsTopK)
      .select("tok", "cf")
    hashed.join(broadcast(top.select("tok")), Seq("tok"))
      .join(sketch, Seq("j", "bucket"))
      .groupBy("tok").agg(min(col("cnt")).as("est"))
      .join(broadcast(top), Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col("tok"), col("cf"), col("est"),
        (col("est") - col("cf")).as("slack"),
        ((col("est") - col("cf")) * CmsWidth <= lit(3) * col("n_total"))
          .as("within_bound"))
  }

  private lazy val qCmsAuditSql = {
    val t = graft.functions.TextFns.cleanTokensSql("text")
    s"""WITH toks AS (SELECT unnest($t) AS tok FROM documents),
       stats AS (SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM toks GROUP BY tok),
       hashed AS (
         SELECT tok, cf, j,
           CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 8)) AS BIGINT)
             % $CmsWidth AS bucket
         FROM stats CROSS JOIN (SELECT unnest([${(0 until CmsDepth).mkString(", ")}]) AS j)),
       sk AS (SELECT j, bucket, CAST(sum(cf) AS BIGINT) AS cnt
              FROM hashed GROUP BY j, bucket),
       tot AS (SELECT CAST(sum(cf) AS BIGINT) AS n_total FROM stats),
       top AS (SELECT tok, cf FROM (
                 SELECT tok, cf, row_number() OVER (ORDER BY cf DESC, tok ASC) AS r
                 FROM stats) WHERE r <= $CmsTopK),
       est AS (SELECT hashed.tok, CAST(min(cnt) AS BIGINT) AS est
               FROM hashed SEMI JOIN top ON top.tok = hashed.tok
               JOIN sk ON sk.j = hashed.j AND sk.bucket = hashed.bucket
               GROUP BY hashed.tok)
       SELECT top.tok, top.cf, est, est - top.cf AS slack,
         (est - top.cf) * $CmsWidth <= 3 * n_total AS within_bound
       FROM est JOIN top ON top.tok = est.tok CROSS JOIN tot"""
  }

  /** q_join_size_sketch: sketch-based join-cardinality estimation — the
    * shuffle-explosion early warning a 100 TB planner runs BEFORE a
    * join: the self-join size of the events user-key (= the second
    * frequency moment F₂ = Σ_u f(u)², the quantity that decides whether
    * a user-keyed join is safe or needs salting) estimated from the CMS
    * inner product (Alon–Matias–Szegedy via Cormode–Muthukrishnan §4.2:
    * est_i = Σ_b cms_i[b]², min over the d rows) in d·w integers instead
    * of a key-domain aggregate. Same md5-keyed deterministic sketch
    * geometry as q_cms_audit, merge-by-addition. The estimate is exact-
    * integer deterministic, so the WHOLE row hash-gates (not only the
    * contract booleans): exact F₂ (from the key-count table — the oracle
    * recomputes it), the sketch estimate, the slack, the hard
    * `overestimates` guarantee (cross terms only ADD: est ≥ F₂ always),
    * and the ε = e/w envelope cross-multiplied (slack·w ≤ 3·N²).
    * Products run in DECIMAL(38,0) — cell counts square past int64 at
    * web scale. OUTPUT columns are gate-normalized to BIGINT (r16
    * adjudication of the r15 red gate): this was the only sketch oracle
    * with DECIMAL arithmetic on its output surface, and DuckDB versions
    * differ in how DECIMAL(38,0)·BIGINT widens (1.0.0 keeps DECIMAL;
    * other versions can promote, changing the hashed value text). The
    * internal products stay exact-decimal (Spark) / HUGEINT (oracle);
    * only the final projection casts, with ANSI mode making any true
    * int64 overflow fail loudly rather than wrap. */
  def qJoinSizeSketch(s: SparkSession, dir: String): DataFrame = {
    val f = Tables.events(s, dir)
      .select(col("user_id").cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("cf"))
    val hashed = f.select(col("k"), col("cf"),
      explode(array((0 until CmsDepth).map(lit): _*)).as("j"))
      .withColumn("bucket",
        conv(substring(md5(concat(col("j").cast("string"), lit(":"), col("k"))),
          1, 8), 16, 10).cast("long") % CmsWidth)
    val sketch = hashed.groupBy("j", "bucket").agg(sum(col("cf")).as("cnt"))
    val est = sketch.groupBy("j")
      .agg(sum(col("cnt").cast("decimal(38,0)") * col("cnt")).as("ip"))
      .agg(min(col("ip")).as("est_size"))
    val exact = f.agg(count(lit(1)).as("n_keys"), sum(col("cf")).as("n_rows"),
      sum(col("cf").cast("decimal(38,0)") * col("cf")).as("exact_size"))
    exact.crossJoin(est).select(
      col("n_keys"), col("n_rows"),
      col("exact_size").cast("long").as("exact_size"),
      col("est_size").cast("long").as("est_size"),
      (col("est_size") - col("exact_size")).cast("long").as("slack"),
      (col("est_size") >= col("exact_size")).as("overestimates"),
      ((col("est_size") - col("exact_size")) * CmsWidth <=
        col("n_rows").cast("decimal(38,0)") * col("n_rows") * 3)
        .as("within_bound"))
  }

  private lazy val qJoinSizeSketchSql =
    s"""WITH f AS (SELECT CAST(user_id AS VARCHAR) AS k,
           CAST(count(*) AS BIGINT) AS cf
         FROM events GROUP BY 1),
       hashed AS (
         SELECT k, cf, j,
           CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || k), 1, 8))
             AS BIGINT) % $CmsWidth AS bucket
         FROM f CROSS JOIN (SELECT unnest([${(0 until CmsDepth).mkString(", ")}]) AS j)),
       sk AS (SELECT j, bucket, CAST(sum(cf) AS BIGINT) AS cnt
              FROM hashed GROUP BY 1, 2),
       est AS (SELECT min(ip) AS est_size FROM (
                 SELECT j, sum(CAST(cnt AS HUGEINT) * cnt) AS ip
                 FROM sk GROUP BY 1)),
       ex AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                CAST(sum(cf) AS BIGINT) AS n_rows,
                sum(CAST(cf AS HUGEINT) * cf) AS exact_size
              FROM f)
       SELECT n_keys, n_rows,
         CAST(exact_size AS BIGINT) AS exact_size,
         CAST(est_size AS BIGINT) AS est_size,
         CAST(est_size - exact_size AS BIGINT) AS slack,
         est_size >= exact_size AS overestimates,
         (est_size - exact_size) * $CmsWidth
           <= CAST(n_rows AS HUGEINT) * n_rows * 3 AS within_bound
       FROM ex CROSS JOIN est"""

  /** q_incr_agg: incremental aggregate maintenance — the algebraic
    * contract every materialized rollup at 100 TB depends on: aggregate
    * the BASE partitions once, aggregate only the DELTA partition (here
    * the newest event day), and refresh by MERGING the partials; the
    * merged result must equal the direct full recompute to the row.
    * Counts and DECIMAL sums are the mergeable pair (avg is re-derived,
    * never merged); `consistent` compares in the exact-decimal domain, so
    * it is a hard identity, not a tolerance. The oracle recomputes the
    * full aggregate directly and asserts the identity literally. */
  def qIncrAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
    val cut = ev.agg(max(col("day")).as("delta_day"))
    val tagged = ev.crossJoin(broadcast(cut))
    def aggOf(df: DataFrame) = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val base = aggOf(tagged.filter(col("day") < col("delta_day")))
      .select(col("event_type"), col("n").as("n_base"), col("s").as("s_base"))
    val delta = aggOf(tagged.filter(col("day") === col("delta_day")))
      .select(col("event_type"), col("n").as("n_delta"), col("s").as("s_delta"))
    val full = aggOf(ev)
      .select(col("event_type"), col("n").as("n_full"), col("s").as("s_full"))
    // LEFT joins + zero-fill: an event type whose rows all fall on (or
    // all before) the delta day has no row in one partial — that is a
    // legitimate empty partial (n=0, s=0), not a type to drop; inner
    // joins here would silently shrink the output below the oracle's
    // full GROUP BY and fail the gate on such a corpus
    full.join(base, Seq("event_type"), "left").join(delta, Seq("event_type"), "left")
      .select(col("event_type"), col("n_full"),
        round(col("s_full").cast("double"), 6).as("sum_full"),
        (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L)) === col("n_full") &&
          coalesce(col("s_base"), lit(0).cast("decimal(18,6)")) +
            coalesce(col("s_delta"), lit(0).cast("decimal(18,6)")) === col("s_full"))
          .as("consistent"))
  }

  private val qIncrAggSql =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_full,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_full,
         TRUE AS consistent
       FROM events GROUP BY event_type"""

  /** q_bitmap_distinct: exact distinct users per event type through the
    * native bitmap aggregate (functions.BitmapDistinct) — gated against
    * the oracle's count(DISTINCT …), so the bitmap path must agree with
    * exact distinct to the row. The plan difference is the point: the
    * bitmap aggregates in ONE pass with compressed-bitmap combiners,
    * where count(DISTINCT) plans a two-phase Expand/deduplicating
    * aggregate; the spec pins the single-Aggregate plan shape. */
  def qBitmapDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(graft.functions.BitmapDistinct.bitmapDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  private val qBitmapDistinctSql =
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(count(*) AS BIGINT) AS n_events
       FROM events GROUP BY event_type"""

  /** KMV sketch size for [[qKmvIntersect]] (relative error ≈ 1/√(k−2)). */
  val KmvK = 64

  /** q_kmv_intersect: KMV (k-minimum-values / bottom-k theta) sketch set
    * operations — the distinct-cardinality algebra HLL can't do: HLL
    * unions losslessly but cannot intersect; a KMV sketch (the k
    * smallest deterministic 48-bit md5 hashes of each set) supports
    * union AND intersection estimates from k values per set, the
    * audience-overlap primitive at 100 TB (users in type A ∩ type B
    * without touching the raw sets twice). est_union = (k−1)·2⁴⁸/h₍ₖ₎
    * over the merged bottom-k; est_inter = ρ·est_union with ρ the
    * fraction of the merged bottom-k present in BOTH sketches (a user in
    * both sets hashes identically, so h-membership IS user-membership).
    * When the merged set has fewer than k distinct hashes the sketch
    * saw everything and both estimates collapse to EXACT counts — the
    * same CASE in both engines. Exact anchors (distinct users per type,
    * exact intersection) are recomputed by the oracle; the hash-gated
    * contract: est_union within 3σ = 3/√(k−2) relative, and every
    * arithmetic step derives from exact integers identically (md5 →
    * conv ↔ hex-cast, ONE double division each). Per-type bottom-k runs
    * as a type-partitioned rank window (type-bounded partitions; the
    * q_topk O(k) typed Aggregator is the documented swap when a key
    * space outgrows a partition sort). */
  def qKmvIntersect(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = KmvK
    val tu = Tables.events(s, dir)
      .select(col("event_type").as("t"), col("user_id").cast("string").as("u"))
      .distinct()
      .withColumn("h", conv(substring(md5(concat(lit("u:"), col("u"))), 1, 12),
        16, 10).cast("long"))
    val exact = tu.groupBy("t").agg(count(lit(1)).as("n_exact"))
    val sk = tu
      .withColumn("r", row_number().over(Window.partitionBy("t")
        .orderBy(col("h").asc, col("u").asc)))
      .filter(col("r") <= k)
      .select(col("t"), col("h"))
    val pairs = exact.select(col("t").as("ta"), col("n_exact").as("n_a"))
      .crossJoin(exact.select(col("t").as("tb"), col("n_exact").as("n_b")))
      .filter(col("ta") < col("tb"))
    val merged = broadcast(pairs)
      .join(sk, col("t") === col("ta") || col("t") === col("tb"))
      .groupBy("ta", "tb", "n_a", "n_b", "h")
      .agg(max(when(col("t") === col("ta"), 1L).otherwise(0L)).as("in_a"),
        max(when(col("t") === col("tb"), 1L).otherwise(0L)).as("in_b"))
    val ranked = merged
      .withColumn("r", row_number().over(Window.partitionBy("ta", "tb")
        .orderBy(col("h").asc)))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("ta", "tb")))
      .filter(col("r") <= k)
    val agg = ranked.groupBy("ta", "tb", "n_a", "n_b", "cnt")
      .agg(max(when(col("r") === least(lit(k.toLong), col("cnt")), col("h")))
        .as("kth"),
        sum(col("in_a") * col("in_b")).as("n_both"),
        count(lit(1)).as("k_eff"))
    val exactInter = tu.select(col("t").as("ta"), col("u"))
      .join(tu.select(col("t").as("tb"), col("u")), Seq("u"))
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_inter"))
    val estUnion = when(col("cnt") < k, col("cnt").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(281474976710656.0) / col("kth"))
    val estInter = col("n_both").cast("double") / col("k_eff") * estUnion
    val exU = col("n_a") + col("n_b") - col("n_inter")
    agg.join(exactInter, Seq("ta", "tb"), "left_outer")
      .na.fill(0L, Seq("n_inter"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("n_a"), col("n_b"), exU.as("exact_union"),
        col("n_inter").as("exact_inter"),
        round(estUnion, 4).as("est_union"), round(estInter, 4).as("est_inter"),
        (abs(estUnion - exU) <= lit(3.0) * exU / math.sqrt((k - 2).toDouble))
          .as("union_ok"))
  }

  private lazy val qKmvIntersectSql = {
    val k = KmvK
    s"""WITH tu AS (SELECT DISTINCT event_type AS t,
           CAST(user_id AS VARCHAR) AS u FROM events),
       h AS (SELECT t, u,
               CAST(('0x' || substr(md5('u:' || u), 1, 12)) AS BIGINT) AS h
             FROM tu),
       ex AS (SELECT t, CAST(count(*) AS BIGINT) AS n_exact FROM tu GROUP BY 1),
       sk AS (SELECT t, h FROM (
                SELECT t, h, row_number() OVER (PARTITION BY t
                  ORDER BY h ASC, u ASC) AS r
                FROM h) WHERE r <= $k),
       pr AS (SELECT a.t AS ta, a.n_exact AS n_a, b.t AS tb, b.n_exact AS n_b
              FROM ex a JOIN ex b ON a.t < b.t),
       mg AS (SELECT pr.ta, pr.tb, pr.n_a, pr.n_b, s.h,
                max(CASE WHEN s.t = pr.ta THEN 1 ELSE 0 END) AS in_a,
                max(CASE WHEN s.t = pr.tb THEN 1 ELSE 0 END) AS in_b
              FROM pr JOIN sk s ON s.t = pr.ta OR s.t = pr.tb
              GROUP BY 1, 2, 3, 4, 5),
       rk AS (SELECT ta, tb, n_a, n_b, h, in_a, in_b,
                row_number() OVER (PARTITION BY ta, tb ORDER BY h ASC) AS r,
                count(*) OVER (PARTITION BY ta, tb) AS cnt
              FROM mg),
       ag AS (SELECT ta, tb, n_a, n_b, any_value(cnt) AS cnt,
                max(CASE WHEN r = least($k, cnt) THEN h END) AS kth,
                CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
                CAST(count(*) AS BIGINT) AS k_eff
              FROM rk WHERE r <= $k GROUP BY 1, 2, 3, 4),
       ei AS (SELECT a.t AS ta, b.t AS tb, CAST(count(*) AS BIGINT) AS n_inter
              FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
              GROUP BY 1, 2),
       fin AS (SELECT ag.*, coalesce(ei.n_inter, 0) AS n_inter,
                 CASE WHEN cnt < $k THEN CAST(cnt AS DOUBLE)
                   ELSE CAST(${k - 1} AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / kth END
                   AS est_u
               FROM ag LEFT JOIN ei ON ei.ta = ag.ta AND ei.tb = ag.tb)
       SELECT ta AS type_a, tb AS type_b, n_a, n_b,
         n_a + n_b - n_inter AS exact_union, n_inter AS exact_inter,
         round(est_u, 4) AS est_union,
         round(CAST(n_both AS DOUBLE) / k_eff * est_u, 4) AS est_inter,
         abs(est_u - (n_a + n_b - n_inter))
           <= 3.0 * (n_a + n_b - n_inter) / ${math.sqrt((k - 2).toDouble)}
           AS union_ok
       FROM fin"""
  }

  /** q_oracle_canary: engine-seam canary (r16 task 3). Every cross-engine
    * idiom the oracle suite leans on, concentrated in ONE deterministic
    * row over a fixed 1..24 grid (no table dependence), so a DuckDB or
    * Spark version bump that changes any seam fails loudly HERE instead
    * of on a random operator:
    *   - md5 lowercase-hex text equality (every sketch bucket derivation);
    *   - the hex-substring→integer derivation both ways: Spark
    *     `conv(substr(md5…),16,10)` vs DuckDB `CAST('0x'||… AS BIGINT)`
    *     must land on the same BIGINT (and the same % CmsWidth bucket);
    *   - DECIMAL(38,0)·BIGINT widening checked IN-ENGINE only (`dec_ok`,
    *     an exactness boolean): the raw product was gated in r16 as a
    *     deliberate tripwire for the r15 q_join_size_sketch seam theory
    *     and the driver's DuckDB confirmed it (promoted the product,
    *     hash-FAIL — see ADJUDICATIONS.md). Production eliminated raw
    *     DECIMAL from every gated surface in r16, so the raw render is
    *     no longer on the hash-gated projection (r16 verdict task 1);
    *     a SEMANTIC decimal change still trips `dec_ok`;
    *   - the ordered double fold (aggregate(array_sort(collect_list…)) ↔
    *     list_sum(list(… ORDER BY …))) rounded at 6, the repo-wide
    *     determinism idiom for order-sensitive floating sums. */
  def qOracleCanary(s: SparkSession, dir: String): DataFrame = {
    val g = s.range(1, 25).select(col("id").as("i"))
    val agg = g.agg(
      sum(col("i").cast("decimal(38,0)") * col("i")).as("dec_prod_raw"),
      round(aggregate(
        array_sort(collect_list(struct(col("i"),
          (lit(1.0) / col("i").cast("double")).as("x")))),
        lit(0.0), (acc, r) => acc + r.getField("x")), 6).as("fold_sum"))
    agg.select(
      md5(lit("graft-canary-0")).as("md5_full"),
      conv(substring(md5(lit("graft-canary-0")), 1, 8), 16, 10)
        .cast("long").as("hex_cast"),
      (conv(substring(md5(lit("graft-canary-0")), 1, 8), 16, 10)
        .cast("long") % CmsWidth).as("hex_mod"),
      conv(lit("00ff00ff"), 16, 10).cast("long").as("conv_fixed"),
      (col("dec_prod_raw") === lit(4900).cast("decimal(38,0)")).as("dec_ok"),
      col("fold_sum"))
  }

  private lazy val qOracleCanarySql =
    s"""WITH g AS (SELECT unnest([${(1 to 24).mkString(", ")}]) AS i),
       a AS (SELECT sum(CAST(i AS DECIMAL(38,0)) * i) AS dec_prod_raw,
               round(list_sum(list(CAST(1 AS DOUBLE) / i ORDER BY i)), 6) AS fold_sum
             FROM g)
       SELECT md5('graft-canary-0') AS md5_full,
         CAST(('0x' || substr(md5('graft-canary-0'), 1, 8)) AS BIGINT) AS hex_cast,
         CAST(('0x' || substr(md5('graft-canary-0'), 1, 8)) AS BIGINT) % $CmsWidth AS hex_mod,
         CAST('0x00ff00ff' AS BIGINT) AS conv_fixed,
         dec_prod_raw = 4900 AS dec_ok,
         fold_sum
       FROM a"""

  /** Ranks read by q_tdigest and certified by q_tdigest_audit. */
  val TDigestRanks = Seq(0.5, 0.9, 0.99)

  /** Rank-error envelope for the t-digest certificate:
    * |exact_rank(est_q) − q·n| ≤ TDigestEps·n + 1. DataSketches' k=200
    * merging digest sits at ~0.1–0.5% rank error at the median (tighter
    * at the tails); 2% holds under ANY partial-buffer merge order while
    * remaining far below what a broken sketch could pass. */
  val TDigestEps = 0.02

  /** Shared build for q_tdigest / q_tdigest_audit: per-event-type
    * t-digest assembled in TWO levels — per-(type, day) sketches via
    * [[graft.functions.TDigestAgg]], rolled up via
    * [[graft.functions.TDigestMergeAgg]] — so the PLAN itself exercises
    * the mergeable algebra that is the operator's reason to exist (daily
    * sketch partitions unioned into any coarser window without touching
    * raw rows, the q_incr_agg posture for percentiles). Both levels are
    * partial-aggregable ObjectHashAggregates: the shuffle carries one
    * ~centroid-array-sized buffer per (type, day), never raw values. */
  private def tdigestPerType(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TDigestSketch._
    Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value"))
      .groupBy("event_type", "day").agg(tdigestAgg(col("value")).as("sk"))
      .groupBy("event_type").agg(tdigestMergeAgg(col("sk")).as("sk"))
      .select(col("event_type"),
        tdigestSummary(col("sk"), TDigestRanks).as("t"))
  }

  /** q_tdigest: per-event-type value percentiles off the merged t-digest
    * column (rows-only — interpolated estimates are merge-order-
    * dependent, so they never sit on a hash gate; q_tdigest_audit is the
    * hash-gated contract). n/vmin/vmax are exact sketch fields. */
  def qTdigest(s: SparkSession, dir: String): DataFrame =
    tdigestPerType(s, dir).select(col("event_type"),
      col("t.n").as("n"), col("t.vmin").as("vmin"), col("t.vmax").as("vmax"),
      col("t.qs").getItem(0).as("p50"), col("t.qs").getItem(1).as("p90"),
      col("t.qs").getItem(2).as("p99"))

  /** q_tdigest_audit: the t-digest accuracy certificate (q_cms_audit
    * shape — exact anchors hash-gated, the approximation pinned through
    * guarantee booleans): per (event_type, rank) the sketch's total
    * weight / min / max — which t-digest carries EXACTLY — gate against
    * the oracle's count/min/max, and rank_ok asserts the estimate's
    * EXACT rank (one distributed ≤-count per estimate, the estimates
    * relation broadcast — never a sort) lands within the
    * [[TDigestEps]]·n + 1 envelope of the requested rank. A sketch that
    * lost rows, dropped its min/max contract, or answers quantiles
    * outside the envelope fails the gate. */
  def qTdigestAudit(s: SparkSession, dir: String): DataFrame = {
    val est = tdigestPerType(s, dir)
      .select(col("event_type"), col("t.n").as("n"),
        round(col("t.vmin"), 6).as("vmin"), round(col("t.vmax"), 6).as("vmax"),
        posexplode(col("t.qs")).as(Seq("qi", "est")))
      .withColumn("qr", element_at(typedLit(TDigestRanks), col("qi") + 1))
      .drop("qi")
    Tables.events(s, dir).select(col("event_type"), col("value"))
      .join(broadcast(est), Seq("event_type"))
      .groupBy("event_type", "qr", "n", "vmin", "vmax", "est")
      .agg(sum(when(col("value") <= col("est"), 1L).otherwise(0L)).as("cnt_le"))
      .select(col("event_type"), col("qr"), col("n"), col("vmin"), col("vmax"),
        (abs(col("cnt_le") - col("qr") * col("n")) <=
          lit(TDigestEps) * col("n") + 1).as("rank_ok"))
  }

  private lazy val qTdigestAuditSql =
    s"""WITH t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             round(min(value), 6) AS vmin, round(max(value), 6) AS vmax
           FROM events GROUP BY 1),
         r AS (SELECT unnest([${TDigestRanks.map(r => s"CAST($r AS DOUBLE)").mkString(", ")}]) AS qr)
       SELECT event_type, qr, n, vmin, vmax, TRUE AS rank_ok
       FROM t CROSS JOIN r"""

  override def registry: Seq[Q] = Seq(
    Q("q_tdigest", qTdigest, Cert("q_tdigest_audit")),
    Q("q_tdigest_audit", qTdigestAudit, Oracle(qTdigestAuditSql)),
    Q("q_oracle_canary", qOracleCanary, Oracle(qOracleCanarySql)),
    Q("q_kmv_intersect", qKmvIntersect, Oracle(qKmvIntersectSql)),
    Q("q_incr_agg", qIncrAgg, Oracle(qIncrAggSql)),
    Q("q_join_size_sketch", qJoinSizeSketch, Oracle(qJoinSizeSketchSql)),
    Q("q_bitmap_distinct", qBitmapDistinct, Oracle(qBitmapDistinctSql)),
    Q("q_hll_merge", qHllMerge, Oracle(qHllMergeSql)),
    Q("q_cms_audit", qCmsAudit, Oracle(qCmsAuditSql)),
    Q("q_table_diff", qTableDiff, Oracle(qTableDiffSql)),
    Q("q_pack", qPack, Oracle(qPackSql)),
    Q("q_pipeline", qPipeline, Oracle(qPipelineSql)),
    Q("q_zorder", qZorder, Oracle(qZorderSql)),
    Q("q_chunk", qChunk, Oracle(qChunkSql)),
    Q("q_fuzzy_vocab", qFuzzyVocab, Oracle(qFuzzyVocabSql)),
    Q("q_bloom_semi", qBloomSemi, Oracle(qBloomSemiSql)),
    Q("q_bloom_audit", qBloomAudit, Oracle(qBloomAuditSql)),
    Q("q_heavy_hitters", qHeavyHitters, Oracle(qHeavyHittersSql)),
    Q("q_ewma", qEwma, Oracle(qEwmaSql)))
}
