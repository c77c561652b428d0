package graft

import graft.operators._
import graft.sources.NQuads
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The public query surface — see SURVEY.md §2 for the operator inventory; each
  * module contributes its registry of queries (see [[QueryModule]]). */
object SparkEntry {

  val modules: Seq[QueryModule] = Seq(
    Relational, Tpch, TextPrep, TextAnalysis, TextScoring, Dedup,
    SimilaritySearch, Evaluation, NQuads, Multimodal, TopicModeling,
    Classification, PolysemyEval, Stats, RobustStats, Inference, ScaleOps,
    Bpe, Unigram, Wordpiece, PatternMining, Recommender, Embeddings)

  /** Flagship: the polysemy-pipeline front half (clean → dictionary) on
    * sf0.001; driver smoke-checks rows > 0. (The end-to-end headline,
    * qPolysemyEval, is NOT the smoke target on purpose: MLlib's LDA
    * trips the REPL classloader under `sbt console` — "Prohibited package
    * name: java.sql" — and the smoke must stay environment-robust.) */
  def entry(spark: SparkSession): DataFrame =
    TextPrep.qDictionary(spark, "/root/testdata/sf0.001")

  /** Every registered query, in module order. */
  def registry: Seq[Q] = modules.flatMap(_.registry)

  /** The named queries, in registry order (execution order decides which
    * query pays each memoized substrate's build, so a subset keeps the
    * order of the full run). An unknown name throws. */
  def subset(names: Iterable[String]): Seq[String] = {
    val all = registry.map(_.name)
    val unknown = names.toSet -- all
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown query: ${unknown.toSeq.sorted.mkString(", ")}")
    all.filter(names.toSet)
  }

  /** Names of the queries in one bench lane, in registry order. */
  def lane(l: Lane): Seq[String] = registry.filter(_.lane == l).map(_.name)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each `Oracle`-gated query, equivalent ANSI SQL runnable by
    * DuckDB on the same parquet tables. The other queries get a
    * rows-only check, anchored by their `Cert`. */
  def oracleSql: Map[String, String] =
    registry.collect { case Q(name, _, Oracle(sql), _) => name -> sql }.toMap
}
