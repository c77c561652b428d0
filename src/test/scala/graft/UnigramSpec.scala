package graft

import graft.operators.Unigram

/** Unigram-LM tokenizer pins: the lattice kernels against hand-computed
  * numbers, and the trained model's contract on the corpus. */
class UnigramSpec extends SparkSpec {

  test("forward-backward: hand-computed lattice on 'ab'") {
    // θ = {a: 0.4, b: 0.4, ab: 0.2}; paths a·b = 0.16, ab = 0.2 → Z = 0.36
    // E[a] = α₀·θa·β₁/Z = 0.4·0.4/0.36 = 4/9; E[b] likewise 4/9;
    // E[ab] = 0.2/0.36 = 5/9
    val (counts, lnZ) = Unigram.forwardBackward("ab",
      Map("a" -> 0.4, "b" -> 0.4, "ab" -> 0.2))
    assert(math.abs(lnZ - math.log(0.36)) < 1e-12)
    assert(math.abs(counts("a") - 4.0 / 9) < 1e-12)
    assert(math.abs(counts("b") - 4.0 / 9) < 1e-12)
    assert(math.abs(counts("ab") - 5.0 / 9) < 1e-12)
    // expected path mass is conserved: Σ E[piece]·1 = expected pieces per
    // word = (2·0.16 + 1·0.2)/0.36
    assert(math.abs(counts.values.sum - (2 * 0.16 + 0.2) / 0.36) < 1e-12)
  }

  test("viterbi: argmax segmentation, exact ties prefer the longer final piece") {
    val theta = Map("a" -> 0.4, "b" -> 0.4, "ab" -> 0.2)
    assert(Unigram.viterbi("ab", theta) == Seq("ab")) // 0.2 > 0.16
    assert(Unigram.viterbi("aab", theta) == Seq("a", "ab")) // 0.08 > 0.064
    // exact tie: a·b = 0.0625 = ab → longer final piece wins
    assert(Unigram.viterbi("ab",
      Map("a" -> 0.25, "b" -> 0.25, "ab" -> 0.0625)) == Seq("ab"))
    // unsegmentable fails loudly
    intercept[IllegalArgumentException] {
      Unigram.viterbi("ax", Map("a" -> 1.0))
    }
  }

  test("trained model on the corpus: audit contract green, encode fertility sane") {
    val a = Unigram.qUnigramAudit(spark, sfDir).collect()(0)
    for (c <- Seq("roundtrip_ok", "bounds_ok", "simplex_ok", "em_ok", "coverage_ok"))
      assert(a.getAs[Boolean](c), s"$c failed")
    val vocab = Unigram.qUnigram(spark, sfDir).collect()
    assert(vocab.nonEmpty && vocab.length <= Unigram.FinalVocab)
    // ranks contiguous from 1, probs nonincreasing in rank order
    assert(vocab.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to vocab.length))
    val byRank = vocab.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("prob"))
    byRank.sliding(2).foreach {
      case Array(x, y) => assert(x >= y)
      case _ =>
    }
    // every doc's piece count is at least its word count (≥1 piece/word)
    val enc = Unigram.qUnigramEncode(spark, sfDir).collect()
    enc.foreach { r =>
      assert(r.getAs[Long]("n_unigram_tokens") >= r.getAs[Long]("n_words"))
    }
  }
}
