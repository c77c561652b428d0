package graft.operators

import graft.{Cert, Ml, Oracle, Q, QueryModule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed UNIGRAM-LM subword tokenizer training (Kudo 2018 — the
  * SentencePiece `unigram` model): the second major subword family beside
  * [[Bpe]]. Where BPE grows a vocabulary bottom-up by greedy pair merges,
  * the unigram model starts from a LARGE seed vocabulary and fits piece
  * probabilities θ by EM over each word's segmentation lattice, then
  * prunes to the target size — segmentation is probabilistic (Viterbi
  * under θ), not a fixed merge replay.
  *
  * Scale shape (the Bpe rule throughout): the corpus is compressed ONCE
  * to word frequencies; everything after runs on the DISTINCT-word
  * relation (vocabulary-sized, corpus-size-independent) with θ broadcast:
  *  - seeding: substring explode per distinct word (≤ maxLen·len pieces
  *    per word), one weighted count aggregate, distributed top-k;
  *  - each EM pass: one mapPartitions over distinct words (the documented
  *    per-partition-imperative case: a forward–backward lattice DP per
  *    word is not expressible as a Column), one aggregate of expected
  *    counts, a vocabulary-sized collect for the M-step;
  *  - encode: Viterbi once per distinct word, then one equi-join maps it
  *    over (doc, word) pairs.
  *
  * Determinism: per-word lattice quantities are sequential-fold doubles
  * (bit-stable); every CROSS-WORD sum is half-up-rounded at 1e-9 in the
  * kernel and exact-DECIMAL-aggregated, so partition merge order cannot
  * move a bit (the q_kmeans discipline). Viterbi ties break toward the
  * longer piece, then lexicographically. EM's likelihood-ascent guarantee
  * is the audit's monotonicity certificate.
  *
  * Divergence from SentencePiece, documented: pruning is one θ-rank cut
  * (keep the FinalVocab most probable pieces, single characters always
  * protected) between two EM phases, not SentencePiece's iterated
  * loss-based 20% shrink — the loss ranking needs a per-piece
  * leave-one-out likelihood pass per round; the θ-rank cut keeps the same
  * EM→prune→EM structure at one pass per phase. */
object Unigram extends QueryModule {

  /** Longest candidate piece (SentencePiece default max_sentencepiece_length
    * is 16; 6 covers the synthetic corpus' word lengths). */
  val MaxPieceLen = 6
  /** Seed vocabulary size before pruning (top substrings by weighted freq). */
  val SeedSize = 240
  /** Final vocabulary size. */
  val FinalVocab = 120
  /** EM passes before / after the prune cut. */
  val EmItersPre = 4
  val EmItersPost = 2

  private def r9(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9

  /** Forward–backward over one word's segmentation lattice: returns the
    * expected count of every piece occurrence for ONE occurrence of the
    * word, plus ln Z (the word's marginal log-likelihood). Linear-space
    * α/β — words are bounded (≤ ~30 chars), no underflow at double
    * range. Fails loudly on an unsegmentable word (single-char coverage
    * makes that a real bug, never a data condition). */
  private[graft] def forwardBackward(w: String, theta: Map[String, Double])
      : (Map[String, Double], Double) = {
    val n = w.length
    val alpha = new Array[Double](n + 1); alpha(0) = 1.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - MaxPieceLen); var acc = 0.0
      while (j < i) {
        val t = theta.getOrElse(w.substring(j, i), 0.0)
        if (t > 0.0) acc += alpha(j) * t
        j += 1
      }
      alpha(i) = acc; i += 1
    }
    val z = alpha(n)
    require(z > 0.0, s"unigram: unsegmentable word '$w' (missing char coverage)")
    val beta = new Array[Double](n + 1); beta(n) = 1.0
    var j = n - 1
    while (j >= 0) {
      var i2 = j + 1; var acc = 0.0
      val hi = math.min(n, j + MaxPieceLen)
      while (i2 <= hi) {
        val t = theta.getOrElse(w.substring(j, i2), 0.0)
        if (t > 0.0) acc += t * beta(i2)
        i2 += 1
      }
      beta(j) = acc; j -= 1
    }
    val counts = scala.collection.mutable.Map.empty[String, Double]
    j = 0
    while (j < n) {
      var i2 = j + 1
      val hi = math.min(n, j + MaxPieceLen)
      while (i2 <= hi) {
        val p = w.substring(j, i2)
        val t = theta.getOrElse(p, 0.0)
        if (t > 0.0) {
          val e = alpha(j) * t * beta(i2) / z
          if (e > 0.0) counts(p) = counts.getOrElse(p, 0.0) + e
        }
        i2 += 1
      }
      j += 1
    }
    (counts.toMap, math.log(z))
  }

  /** Viterbi segmentation under θ: maximize Σ ln θ; ties break toward the
    * longer final piece, then the lexicographically smaller one —
    * deterministic. */
  private[graft] def viterbi(w: String, theta: Map[String, Double]): Seq[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity); best(0) = 0.0
    val back = Array.fill(n + 1)(-1)
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - MaxPieceLen)
      while (j < i) {
        val t = theta.getOrElse(w.substring(j, i), 0.0)
        if (t > 0.0) {
          val cand = best(j) + math.log(t)
          // strictly better, or an exact-score tie resolved toward the
          // LONGER final piece (smaller j) — back(i) = -1 means unset
          if (cand > best(i) || (cand == best(i) && back(i) >= 0 && j < back(i))) {
            best(i) = cand; back(i) = j
          }
        }
        j += 1
      }
      i += 1
    }
    require(n == 0 || best(n) > Double.NegativeInfinity,
      s"unigram: unsegmentable word '$w'")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { out.prepend(w.substring(back(pos), pos)); pos = back(pos) }
    out.toSeq
  }

  /** The distinct-word frequency relation (the one corpus-scale pass). */
  private def wordCounts(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"unigram.words:$dir") {
      TextPrep.cleanDocs(s, dir)
        .select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .cache()
    }

  /** One EM pass: expected piece counts + corpus ln L under θ.
    * Cross-word sums are 1e-9-rounded in the kernel and exact-DECIMAL
    * aggregated — deterministic at any partitioning. */
  private def emPass(words: DataFrame, theta: Map[String, Double])
      : (Map[String, Double], Double) = {
    val s = words.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(theta)
    val contrib = words.select(col("w"), col("cnt")).as[(String, Long)]
      .mapPartitions { it =>
        it.flatMap { case (w, cnt) =>
          val (counts, lnZ) = forwardBackward(w, bc.value)
          counts.iterator.map { case (p, e) => (p, r9(e * cnt), 0.0) } ++
            Iterator(("", 0.0, r9(lnZ * cnt)))
        }
      }.toDF("piece", "ec", "ll")
    val rows = contrib
      .select(col("piece"), col("ec").cast("decimal(38,9)").as("ec"),
        col("ll").cast("decimal(38,9)").as("ll"))
      .groupBy("piece").agg(sum(col("ec")).as("ec"), sum(col("ll")).as("ll"))
      .collect()
    val ll = rows.map(r => r.getDecimal(2)).foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      .doubleValue
    val counts = rows.filter(_.getString(0).nonEmpty)
      .map(r => r.getString(0) -> r.getDecimal(1).doubleValue).toMap
    val total = counts.toSeq.sortBy(_._1).map(_._2).sum // ordered fold, driver-side
    (counts.map { case (p, c) => p -> c / total }, ll)
  }

  /** Probability floor for required (single-char) pieces — SentencePiece's
    * required_chars handling: a char whose expected count rounds to zero
    * in one pass must not vanish (it could never come back, and an
    * unlucky corpus word would become unsegmentable). Negligible mass
    * (|chars| · 1e-12), so EM's ascent survives within the audit's
    * tolerance. */
  val CharFloor = 1e-12

  private def withCharFloor(theta: Map[String, Double],
      chars: Set[String]): Map[String, Double] = {
    val floored = chars.foldLeft(theta) { (m, c) =>
      if (m.getOrElse(c, 0.0) >= CharFloor) m else m.updated(c, CharFloor)
    }
    val total = floored.toSeq.sortBy(_._1).map(_._2).sum
    floored.map { case (p, t) => p -> t / total }
  }

  /** Train the unigram LM. Returns (final θ, ln-likelihood trajectory). */
  private[graft] def train(s: SparkSession, dir: String)
      : (Map[String, Double], Seq[Double]) =
    graft.ModelCache.getOrElseUpdate(s, s"unigram.model:$dir") {
      val words = wordCounts(s, dir)
      // seed: all substrings ≤ MaxPieceLen weighted by word freq (with
      // within-word multiplicity), top SeedSize + every single char
      val subs = words.select(col("w"), col("cnt"),
          explode(sequence(lit(0), length(col("w")) - 1)).as("i"))
        .select(col("w"), col("cnt"), col("i"),
          explode(sequence(lit(1), least(lit(MaxPieceLen), length(col("w")) - col("i")))).as("l"))
        .select(expr("substr(w, i + 1, l)").as("piece"), col("cnt"))
        .groupBy("piece").agg(sum(col("cnt")).as("freq"))
      val chars = subs.filter(length(col("piece")) === 1)
      val top = subs.filter(length(col("piece")) > 1)
        .orderBy(col("freq").desc, col("piece").asc).limit(SeedSize)
      val seed = chars.unionByName(top)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val seedTotal = seed.toSeq.sortBy(_._1).map(_._2.toDouble).sum
      val charSet = seed.keySet.filter(_.length == 1)
      var theta = seed.map { case (p, f) => p -> f / seedTotal }
      val traj = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 0 until EmItersPre) {
        val (t2, ll) = emPass(words, theta)
        theta = withCharFloor(t2, charSet); traj += ll
      }
      // prune: θ-rank cut to FinalVocab, single chars always protected
      val charsSet = theta.keySet.filter(_.length == 1)
      val kept = charsSet ++
        theta.filter(_._1.length > 1).toSeq
          .sortBy { case (p, t) => (-t, p) }
          .take(math.max(0, FinalVocab - charsSet.size))
          .map(_._1)
      val keptTotal = theta.filter(kv => kept(kv._1)).toSeq
        .sortBy(_._1).map(_._2).sum
      theta = theta.filter(kv => kept(kv._1)).map { case (p, t) => p -> t / keptTotal }
      for (_ <- 0 until EmItersPost) {
        val (t2, ll) = emPass(words, theta)
        theta = withCharFloor(t2, charSet); traj += ll
      }
      (theta, traj.toSeq)
    }

  /** q_unigram: the trained piece table (rank by θ desc, piece asc) —
    * rows-only (θ is EM-derived; q_unigram_audit is the SQL anchor). */
  def qUnigram(s: SparkSession, dir: String): DataFrame = {
    val (theta, _) = train(s, dir)
    import s.implicits._
    theta.toSeq.sortBy { case (p, t) => (-t, p) }.zipWithIndex
      .map { case ((p, t), i) =>
        (i + 1, p, math.floor(t * 1e6 + 0.5) / 1e6, p.length == 1)
      }.toDF("rank", "piece", "prob", "is_char")
  }

  /** The Viterbi-encoded DISTINCT vocabulary + (doc, word) pairs — one
    * assembly shared by q_unigram_encode and the audit (the encodedVocab
    * rule from Bpe). */
  private def encodedVocab(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (theta, _) = train(s, dir)
    val bc = s.sparkContext.broadcast(theta)
    import s.implicits._
    val pairs = TextPrep.cleanDocs(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("w"))
    val encoded = pairs.select("w").distinct().as[String]
      .mapPartitions { it => it.map(w => (w, viterbi(w, bc.value))) }
      .toDF("w", "pieces")
    (pairs, encoded)
  }

  /** q_unigram_encode: per-doc word and unigram-piece counts under the
    * TRAINED tokenizer — the q_bpe_encode twin for the second subword
    * family (their drift is the BPE-vs-unigram fertility gap, made
    * measurable). Vocabulary-sized Viterbi + one equi-join. Rows-only. */
  def qUnigramEncode(s: SparkSession, dir: String): DataFrame = {
    val (pairs, encoded) = encodedVocab(s, dir)
    val vocab = encoded.select(col("w"), size(col("pieces")).as("n_pieces"))
    pairs.join(vocab, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_unigram_tokens"))
  }

  /** q_unigram_audit: unigram-tokenizer contract certificate (the
    * q_bpe_audit shape): SQL anchors n_words and total_chars from the
    * clean-token pipeline; guarantees — `roundtrip_ok` (every distinct
    * word's Viterbi pieces concatenate back to the word), `bounds_ok`
    * (n_words ≤ Σpieces ≤ total_chars), `simplex_ok` (Σθ = 1 ± 1e-6
    * with no negative mass — a broken M-step normalization), `em_ok`
    * (the corpus log-likelihood is nondecreasing within each EM phase —
    * EM's ascent guarantee; the prune cut between phases may drop it),
    * and `coverage_ok` (every corpus character is a vocab piece — the
    * segmentability invariant). */
  def qUnigramAudit(s: SparkSession, dir: String): DataFrame = {
    val (theta, traj) = train(s, dir)
    val (pairs, encoded) = encodedVocab(s, dir)
    val vocab = encoded
      .select(col("w"), size(col("pieces")).as("n_pieces"),
        (concat_ws("", col("pieces")) === col("w")).as("rt"))
    val agg = pairs.join(vocab, Seq("w"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("total_chars"),
        sum(col("n_pieces")).as("total_pieces"),
        min(col("rt").cast("int")).as("rt_min"))
      .collect().head
    val mass = theta.toSeq.sortBy(_._1).map(_._2).sum
    val simplexOk = theta.values.forall(_ >= 0.0) && math.abs(mass - 1.0) <= 1e-6
    val phases = Seq(traj.take(EmItersPre), traj.drop(EmItersPre))
    val emOk = phases.forall(ph => ph.sliding(2).forall {
      case Seq(a, b) => b >= a - 1e-6 * math.abs(a)
      case _ => true
    })
    val corpusChars = wordCounts(s, dir)
      .select(explode(split(col("w"), "")).as("c")).distinct()
      .collect().map(_.getString(0)).filter(_.nonEmpty).toSet
    val coverageOk = corpusChars.subsetOf(theta.keySet)
    import s.implicits._
    Seq((agg.getAs[Long]("n_words"), agg.getAs[Long]("total_chars"),
      agg.getAs[Int]("rt_min") == 1,
      agg.getAs[Long]("n_words") <= agg.getAs[Long]("total_pieces") &&
        agg.getAs[Long]("total_pieces") <= agg.getAs[Long]("total_chars"),
      simplexOk, emOk, coverageOk))
      .toDF("n_words", "total_chars", "roundtrip_ok", "bounds_ok",
        "simplex_ok", "em_ok", "coverage_ok")
  }

  private lazy val qUnigramAuditSql =
    s"""WITH t AS (SELECT unnest(${graft.functions.TextFns.cleanTokensSql("text")}) AS w
             FROM documents)
       SELECT CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(len(w)) AS BIGINT) AS total_chars,
         TRUE AS roundtrip_ok, TRUE AS bounds_ok,
         TRUE AS simplex_ok, TRUE AS em_ok, TRUE AS coverage_ok
       FROM t"""

  override def registry: Seq[Q] = Seq(
    Q("q_unigram", qUnigram, Cert("q_unigram_audit"), Ml),
    Q("q_unigram_encode", qUnigramEncode, Cert("q_unigram_audit"), Ml),
    Q("q_unigram_audit", qUnigramAudit, Oracle(qUnigramAuditSql), Ml))
}
