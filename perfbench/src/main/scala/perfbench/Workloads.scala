package perfbench

/** The benchmark's workloads. A workload is a list of groups of query
  * names. Queries that share a memoized substrate are one group, kept in
  * order, so the same query always pays each fill; the seed permutes the
  * groups.
  *
  * `warm` workloads keep one session for a warm-up pass and every timed
  * pass; cold workloads give each timed pass a fresh session, so every
  * pass fills its substrates again. */
final case class Workload(name: String, warm: Boolean,
    groups: Seq[Seq[String]]) {
  def queries: Seq[String] = groups.flatten

  def order(rng: scala.util.Random): Seq[String] = rng.shuffle(groups).flatten
}

object Workloads {

  private def each(qs: String*): Seq[Seq[String]] = qs.map(Seq(_)).toSeq

  /** The thesis pipeline in pipeline order: N-Quads, cleaning,
    * bag-of-words, the LDA fit, topic assignments, polysemy and its
    * evaluation, language-id evaluation metrics and classifier features.
    * The raw and cleaned corpus and the LDA fit run through all of it, so
    * it is one group and the seed does not reorder it. */
  val polysemy: Workload = Workload("polysemy", warm = false, Seq(Seq(
    "q_nquads_parse", "q_clean_english", "q_doc2bow", "q_lda_topics", "q_doc_topics",
    "q_polysemy", "q_polysemy_eval", "q_eval_metrics", "q_features")))

  /** LLM-data curation: language id, exact and MinHash near-dup detection,
    * line dedup, duplicated n-grams and an exact k-NN search. All of it
    * reads the memoized raw corpus, so it is one group and the seed does
    * not reorder it. */
  val curation: Workload = Workload("curation", warm = false, Seq(Seq(
    "q_lang_id", "q_dedup_exact", "q_dedup_minhash", "q_line_dedup",
    "q_dup_ngrams", "q_knn_search")))

  /** An interactive session of short relational and statistical queries
    * over single-row-group tables, timed after a warm-up pass: TPC-H, rank
    * statistics, winsorizing, a KMV sketch and a merge through the
    * copy-on-write table format, which writes files beside the reads. */
  val analytics: Workload = Workload("analytics", warm = true, each(
    "q6_agg", "q12_priority", "q_spearman",
    "q_winsorize", "q_kmv_intersect", "q_merge_files"))

  val all: Seq[Workload] = Seq(polysemy, curation, analytics)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (have ${all.map(_.name).mkString(", ")})"))

  /** Certificates for rows-only queries: the `_audit` twin (hash-gated
    * against DuckDB) that checks each one's output. Hash-gated queries
    * need no entry. */
  val certificates: Map[String, String] = Map(
    "q_lda_topics" -> "q_lda_audit",
    "q_doc_topics" -> "q_lda_audit",
    "q_polysemy" -> "q_polysemy_audit",
    "q_polysemy_eval" -> "q_polysemy_eval_audit",
    "q_features" -> "q_features_audit",
    "q_dedup_minhash" -> "q_minhash_audit")
}
