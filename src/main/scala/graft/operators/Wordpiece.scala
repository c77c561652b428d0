package graft.operators

import graft.{Cert, Ml, Oracle, Q, QueryModule}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed WordPiece tokenizer TRAINING — the third member of the
  * subword-trainer family (48l BPE merges the most FREQUENT adjacent
  * pair; 65l Unigram prunes a large vocabulary by likelihood; WordPiece
  * — Schuster & Nakajima 2012, the BERT tokenizer — merges the pair
  * with the highest LIKELIHOOD score n_pair / (n_left · n_right), i.e.
  * the pair whose fusion most increases corpus likelihood under a
  * unigram model, not merely the most common one).
  *
  * Same scale shape as BPE: the corpus is compressed ONCE to word
  * frequencies (vocabulary-sized state, corpus-size-independent); each
  * round is two weighted aggregates over the word table (symbol counts
  * and adjacent-pair counts), ONE argmax row to the driver, and a pure
  * Column fold applying the merge. Symbols carry the "##" continuation
  * prefix (the WordPiece convention): merging a + ##b yields ab, so
  * every piece concatenates back to its word with prefixes stripped —
  * the roundtrip invariant the audit gates.
  *
  * Determinism: the score is one IEEE division of exact longs computed
  * identically on both paths; ties break (score desc, pair_count desc,
  * left asc, right asc). WordpieceSpec pins the distributed loop to the
  * driver-side reference implementation. */
object Wordpiece extends QueryModule {

  val WpMerges = 20
  /** Same role as [[Bpe.LocalVocabLimit]]. */
  val LocalVocabLimit: Long = 1L << 20

  private def stripCont(s: String): String =
    if (s.startsWith("##")) s.substring(2) else s

  /** Initial WordPiece symbolization: first char bare, continuations
    * prefixed "##". */
  def initSyms(w: String): Vector[String] =
    w.split("").toVector.zipWithIndex
      .map { case (c, i) => if (i == 0) c else "##" + c }

  /** Column twin of [[initSyms]] — pure transform, no UDF. */
  private def initSymsCol(w: Column): Column =
    transform(split(w, ""), (c, i) =>
      when(i === 0, c).otherwise(concat(lit("##"), c)))

  /** Apply merge (a, b) -> merged, greedy left-to-right, as a pure
    * aggregate() fold (the Bpe.mergeFold shape with an explicit merged
    * literal so the ## prefix is stripped exactly once). */
  private def mergeFold(syms: Column, a: String, b: String, m: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
        .otherwise(concat(acc, array(x))))

  /** Train [[WpMerges]] WordPiece merges. Returns (rank, left, right,
    * merged, pair_count, left_count, right_count, score). */
  def train(s: SparkSession, dir: String, nMerges: Int = WpMerges,
      localVocabLimit: Long = LocalVocabLimit): DataFrame = {
    import s.implicits._
    val wordCounts = TextPrep.cleanDocs(s, dir)
      .select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val head = wordCounts.take(math.min(localVocabLimit, Int.MaxValue - 1L).toInt + 1)
    if (head.length <= localVocabLimit) {
      val freq = head.toSeq.map(r => r.getString(0) -> r.getLong(1))
      return localTrain(freq, nMerges)
        .toDF("rank", "left", "right", "merged", "pair_count",
          "left_count", "right_count", "score")
    }
    var words = wordCounts
      .select(col("cnt"), initSymsCol(col("w")).as("syms"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, String, Long, Long, Long, Double)]
    var done = false
    for (rank <- 1 to nMerges if !done) {
      val symCounts = words
        .select(col("cnt"), explode(col("syms")).as("sym"))
        .groupBy("sym").agg(sum(col("cnt")).as("n_sym"))
      val pairCounts = words
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), col("syms"), posexplode(col("syms")).as(Seq("i", "a")))
        .filter(col("i") < size(col("syms")) - 1)
        .withColumn("b", expr("element_at(syms, i + 2)"))
        .groupBy("a", "b").agg(sum(col("cnt")).as("n"))
      val top = pairCounts
        .join(symCounts.select(col("sym").as("a"), col("n_sym").as("la")), Seq("a"))
        .join(symCounts.select(col("sym").as("b"), col("n_sym").as("lb")), Seq("b"))
        .withColumn("score", col("n").cast("double") /
          (col("la").cast("double") * col("lb").cast("double")))
        .orderBy(col("score").desc, col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val r = top(0)
        val (a, b) = (r.getAs[String]("a"), r.getAs[String]("b"))
        val m = a + stripCont(b)
        merges += ((rank, a, b, m, r.getAs[Long]("n"),
          r.getAs[Long]("la"), r.getAs[Long]("lb"), r.getAs[Double]("score")))
        val next = words.select(col("cnt"), mergeFold(col("syms"), a, b, m).as("syms"))
          .localCheckpoint(true)
        words.unpersist()
        words = next
      }
    }
    words.unpersist()
    merges.result().toDF("rank", "left", "right", "merged", "pair_count",
      "left_count", "right_count", "score")
  }

  /** Driver-side reference loop (same algorithm, same tie-breaks). */
  def localTrain(freq: Seq[(String, Long)], nMerges: Int)
      : Seq[(Int, String, String, String, Long, Long, Long, Double)] = {
    var words: Map[Vector[String], Long] = freq
      .groupBy(f => initSyms(f._1)).map { case (k, v) => k -> v.map(_._2).sum }
    val out = Seq.newBuilder[(Int, String, String, String, Long, Long, Long, Double)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val syms = scala.collection.mutable.Map.empty[String, Long]
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (ss, cnt) =>
        ss.foreach(x => syms(x) = syms.getOrElse(x, 0L) + cnt)
        var i = 0
        while (i < ss.length - 1) {
          val p = (ss(i), ss(i + 1))
          pairs(p) = pairs.getOrElse(p, 0L) + cnt
          i += 1
        }
      }
      if (pairs.isEmpty) done = true
      else {
        val scored = pairs.toSeq.map { case ((a, b), n) =>
          (a, b, n, syms(a), syms(b),
            n.toDouble / (syms(a).toDouble * syms(b).toDouble))
        }
        val (a, b, n, la, lb, sc) =
          scored.minBy { case (x, y, c, _, _, s) => (-s, -c, x, y) }
        rank += 1
        val m = a + stripCont(b)
        out += ((rank, a, b, m, n, la, lb, sc))
        words = words.toSeq.map { case (ss, cnt) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          ss.foreach { x =>
            if (acc.nonEmpty && acc.last == a && x == b) {
              acc.remove(acc.length - 1); acc += m
            } else acc += x
          }
          acc.toVector -> cnt
        }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      }
    }
    out.result()
  }

  /** q_wordpiece: the trained merge table with its likelihood scores.
    * Rows-only (iterative argmax); q_wordpiece_audit is the hash-gated
    * certificate and WordpieceSpec pins the distributed loop against
    * [[localTrain]]. Memoized per (session, dir). */
  def qWordpiece(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"wp.table:$dir") {
      train(s, dir).select(col("rank"), col("left"), col("right"),
        col("merged"), col("pair_count"), col("left_count"),
        col("right_count"), round(col("score"), 6).as("score"))
    }

  /** Encode a DISTINCT-word relation by replaying the merge table in
    * rank order (chained codegen folds, vocabulary-sized — the
    * Bpe.encodeWords shape with ##-aware merges). */
  def encodeWords(words: DataFrame,
      merges: Seq[(String, String, String)]): DataFrame =
    merges.foldLeft(words.withColumn("syms", initSymsCol(col("w")))) {
      case (df, (a, b, m)) => df.select(col("w"), mergeFold(col("syms"), a, b, m).as("syms"))
    }

  /** Greedy longest-match-first (max-munch) WordPiece encoding of one
    * word against a piece vocabulary — the ACTUAL BERT inference path,
    * deliberately distinct from merge replay: the two can segment the
    * same word differently (WordpieceSpec pins a hand case), which is
    * exactly why the encode ships as its own operator. Returns
    * ([UNK]) when no piece covers the next position. */
  def longestMatch(w: String, vocab: Set[String]): Vector[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      var j = w.length
      var found: String = null
      while (found == null && j > i) {
        val cand = (if (i == 0) "" else "##") + w.substring(i, j)
        if (vocab(cand)) found = cand else j -= 1
      }
      if (found == null) return Vector("[UNK]")
      out += found
      i = j
    }
    out.toVector
  }

  /** The inference vocabulary: every initial symbol of the corpus'
    * distinct words plus the trained merged pieces. */
  def pieceVocab(words: Seq[String], merged: Seq[String]): Set[String] =
    words.iterator.flatMap(initSyms).toSet ++ merged

  /** q_wordpiece_encode: tokenize the corpus with the TRAINED WordPiece
    * vocabulary via greedy longest-match and emit per-doc word/piece/UNK
    * counts (q_bpe_encode's twin under the third trainer; the replay-vs-
    * max-munch distinction is the operator's reason to exist). Scale
    * shape: the encode runs once per DISTINCT word — the vocabulary-sized
    * driver path, the Bpe.LocalVocabLimit convention (above the limit
    * the same greedy scan distributes as a per-word task over the
    * distinct-word relation; the corpus itself is touched only by the
    * (doc, word) join + rollup). Rows-only (the vocabulary is
    * data-derived); q_wordpiece_encode_audit is the doc-granularity
    * certificate. */
  def qWordpieceEncode(s: SparkSession, dir: String): DataFrame =
    encodedDocs(s, dir)

  private def encodedDocs(s: SparkSession, dir: String): DataFrame = {
    val merged = qWordpiece(s, dir).orderBy(col("rank").asc)
      .collect().map(_.getAs[String]("merged")).toSeq
    val pairs = TextPrep.cleanDocs(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("w"))
    val words = pairs.select("w").distinct().collect().map(_.getString(0)).toSeq
    val vocab = pieceVocab(words, merged)
    import s.implicits._
    val enc = words.map { w =>
      val ps = longestMatch(w, vocab)
      (w, ps.length.toLong, (ps == Vector("[UNK]")) && w.nonEmpty)
    }.toDF("w", "n_pieces", "is_unk")
    pairs.join(enc, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_wp_tokens"),
        sum(col("is_unk").cast("long")).as("n_unk_words"))
  }

  /** q_wordpiece_encode_audit: per-doc encode accounting (the
    * q_bpe_encode_audit shape). Oracle recomputes each doc's clean-token
    * word count; gated guarantees — `bounds_ok`: n_words ≤ Σpieces ≤
    * Σchars per doc; `unk_ok`: zero UNK words (the vocabulary contains
    * every initial symbol of the training corpus by construction, so an
    * UNK can only mean a broken max-munch or a desynced vocabulary). */
  def qWordpieceEncodeAudit(s: SparkSession, dir: String): DataFrame = {
    val pairs = TextPrep.cleanDocs(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("w"))
    val chars = pairs.groupBy("doc_id").agg(sum(length(col("w"))).as("chars"))
    encodedDocs(s, dir).join(chars, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") <= col("n_wp_tokens") &&
          col("n_wp_tokens") <= col("chars")).as("bounds_ok"),
        (col("n_unk_words") === 0L).as("unk_ok"))
  }

  private lazy val qWordpieceEncodeAuditSql =
    s"""WITH t AS (SELECT doc_id,
             unnest(${graft.functions.TextFns.cleanTokensSql("text")}) AS w
           FROM documents)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         TRUE AS bounds_ok, TRUE AS unk_ok
       FROM t GROUP BY doc_id"""

  /** q_wordpiece_audit: tokenizer-contract certificate (the q_bpe_audit
    * shape). Oracle anchors: n_words and total_chars recomputed from the
    * clean-token pipeline. Gated guarantees:
    *  - `roundtrip_ok`: every distinct word's pieces concatenate back to
    *    the word once "##" prefixes are stripped (the invariant a broken
    *    ##-aware fold destroys first);
    *  - `bounds_ok`: n_words ≤ Σpieces ≤ total_chars;
    *  - `merges_ok`: contiguous ranks, merged = left + stripped right,
    *    and every emitted score re-derives as pair/(left·right) from the
    *    emitted exact counts;
    *  - `scores_ok`: every score positive and finite (a zero symbol
    *    count or empty pair table can never reach the argmax). Scores
    *    are NOT required to be monotone in rank — merges create new
    *    pairs, so a later round can legitimately score higher. */
  def qWordpieceAudit(s: SparkSession, dir: String): DataFrame = {
    val tbl = qWordpiece(s, dir).orderBy(col("rank").asc).collect()
    val mergesOk = tbl.zipWithIndex.forall { case (r, i) =>
      r.getAs[Int]("rank") == i + 1 &&
        r.getAs[String]("merged") ==
          r.getAs[String]("left") + stripCont(r.getAs[String]("right")) &&
        math.abs(r.getAs[Double]("score") -
          math.floor(r.getAs[Long]("pair_count").toDouble /
            (r.getAs[Long]("left_count").toDouble *
              r.getAs[Long]("right_count").toDouble) * 1e6 + 0.5) / 1e6) < 1e-9
    }
    val scoresOk = tbl.forall { r =>
      val sc = r.getAs[Double]("score")
      sc > 0.0 && !sc.isNaN && !sc.isInfinite
    }
    val merges = tbl.map(r => (r.getAs[String]("left"),
      r.getAs[String]("right"), r.getAs[String]("merged"))).toSeq
    val pairs = TextPrep.cleanDocs(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("w"))
    val vocab = encodeWords(pairs.select("w").distinct(), merges)
      .select(col("w"), size(col("syms")).as("n_pieces"),
        (concat_ws("", transform(col("syms"), x =>
          when(x.startsWith("##"), substring(x, 3, Int.MaxValue)).otherwise(x)))
          === col("w")).as("rt"))
    val agg = pairs.join(vocab, Seq("w"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("total_chars"),
        sum(col("n_pieces")).as("total_pieces"),
        min(col("rt").cast("int")).as("rt_min"))
      .collect().head
    val nWords = agg.getAs[Long]("n_words")
    val totalChars = agg.getAs[Long]("total_chars")
    val totalPieces = agg.getAs[Long]("total_pieces")
    import s.implicits._
    Seq((nWords, totalChars,
      agg.getAs[Int]("rt_min") == 1,
      nWords <= totalPieces && totalPieces <= totalChars,
      mergesOk, scoresOk))
      .toDF("n_words", "total_chars", "roundtrip_ok", "bounds_ok",
        "merges_ok", "scores_ok")
  }

  private lazy val qWordpieceAuditSql =
    s"""WITH t AS (SELECT unnest(${graft.functions.TextFns.cleanTokensSql("text")}) AS w
             FROM documents)
       SELECT CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(len(w)) AS BIGINT) AS total_chars,
         TRUE AS roundtrip_ok, TRUE AS bounds_ok,
         TRUE AS merges_ok, TRUE AS scores_ok
       FROM t"""

  override def registry: Seq[Q] = Seq(
    Q("q_wordpiece", qWordpiece, Cert("q_wordpiece_audit"), Ml),
    Q("q_wordpiece_audit", qWordpieceAudit, Oracle(qWordpieceAuditSql), Ml),
    Q("q_wordpiece_encode", qWordpieceEncode, Cert("q_wordpiece_encode_audit"), Ml),
    Q("q_wordpiece_encode_audit", qWordpieceEncodeAudit, Oracle(qWordpieceEncodeAuditSql), Ml))
}
