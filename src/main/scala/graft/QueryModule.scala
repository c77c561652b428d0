package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a query's result is checked against an independent engine. */
sealed trait Gate

/** Hash gate: the Spark result and the DuckDB result of `sql` must match
  * on (rows, schema, value-hash) with columns sorted by name.
  *
  * Determinism discipline for oracle SQL:
  *  - money-like sums go through exact DECIMAL casts, final cast to DOUBLE;
  *  - ratios are double divisions of exactly-equal inputs (identical IEEE);
  *  - any value with accumulated fp error is round()ed well above the error;
  *  - order-sensitive double sums fold through `OrderedFold.sum` ↔
  *    `list_sum(list(x ORDER BY k))`;
  *  - ordering ties are always broken by a unique integer key. */
final case class Oracle(sql: String) extends Gate

/** Certificate gate, for a query whose output is not SQL-derivable
  * (iterative ML, LSH, variational training): the query itself gets a
  * rows-only check, and `query` names the `Oracle`-gated query that
  * anchors it — usually its `_audit` companion. One certificate may
  * anchor several views of the same trained model: the LDA audit
  * anchors the topic table and the per-doc distributions, the
  * classifier-zoo accounting audit anchors every non-kernel zoo member,
  * and the exact brute-force top-k (q_knn_search) anchors the LSH index
  * and its recall measurement. */
final case class Cert(query: String) extends Gate

/** Which bench times a query. */
sealed trait Lane

/** One-pass analytics, timed by [[Bench]]. */
case object Headline extends Lane

/** An iterative or heavyweight training fit upstream (LDA, LR/CV, ALS,
  * W2V, GMM, KMeans/HAC, the classifier zoo, subword-tokenizer training,
  * IVF-PQ index builds), timed by [[BenchMl]]. */
case object Ml extends Lane

/** One registered query: its name, the function that builds it from
  * (session, sf dir), its correctness gate and its bench lane. */
final case class Q(name: String, build: (SparkSession, String) => DataFrame,
    gate: Gate, lane: Lane = Headline)

/** A block of registered queries. `registry` is the single source: the
  * name → build-function map, the oracle SQL, the certificates and the bench
  * lanes are all derived from it. It is a `def`, so the order of `val`s
  * in a module object does not matter.
  *
  * Adding a query means adding one `Q` line to its module's registry. */
trait QueryModule {
  def registry: Seq[Q]

  final def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap
}
