package graft.sources

import graft.{Oracle, Q, QueryModule}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-Quads ingestion (reference: Read_And_Clean.py parses the WebIsALOD
  * dump with rdflib; fix_dataset_uris.py repairs broken wasQuotedFrom IRIs).
  *
  * Spark-first re-expression: the dump is just lines — `spark.read.text` →
  * one regexp_extract per field, fully parallel, no RDF library, no driver
  * state. The URI repair is a Column transform applied before parsing.
  * Grouping quads by graph/context = a groupBy, not an in-memory graph.
  */
object NQuads extends QueryModule {

  val ConceptPrefix = "http://webisa.webdatacommons.org/concept/"
  val ProvValue = "http://www.w3.org/ns/prov#value"
  val WasDerivedFrom = "http://www.w3.org/ns/prov#wasDerivedFrom"
  val WasQuotedFrom = "http://www.w3.org/ns/prov#wasQuotedFrom"

  /** The full line grammar of the real WebIsALOD dump (r10 — verified
    * against the genuine `webisalod-instances` slice committed at
    * src/test/resources/webisalod-instances.sample.nq, which carries all
    * four shapes): IRI *or* literal object, optional `^^<datatype>` /
    * `@lang` literal suffix, OPTIONAL graph term, and flexible
    * whitespace (the dump writes `<o>  <g>.` with two spaces and no
    * space before the period). Groups: 1 subject, 2 predicate, 3 object
    * IRI, 4 object literal lexical form, 5 graph. The literal capture is
    * greedy to the LAST quote, so embedded quotes survive; the datatype
    * suffix is matched but NOT captured — `"2"^^<xsd:integer>` parses to
    * the bare lexical `2`, which is what the downstream text pipeline
    * consumes. */
  val LineRegex = "^\\s*<([^>]+)>\\s+<([^>]+)>\\s+(?:<([^>]+)>|\"(.*)\"" +
    "(?:\\^\\^<[^>]+>|@[A-Za-z][A-Za-z0-9-]*)?)\\s*(?:<([^>]+)>\\s*)?\\.\\s*$"

  /** fix_dataset_uris.py as a Column transform. */
  def fixUris(line: Column): Column =
    regexp_replace(line, "wasQuotedFrom> <(?!http://)", "wasQuotedFrom> <http://")

  /** Parse one N-Quad line into (subject, predicate, obj, graph): obj is
    * the IRI or the literal lexical form, graph is "" for triples in the
    * default graph (regexp_extract's unmatched-optional-group value —
    * the DSv2 reader emits the identical ""). */
  def parseLine(line: Column): DataFrame => DataFrame = df =>
    df.select(
      regexp_extract(line, LineRegex, 1).as("subject"),
      regexp_extract(line, LineRegex, 2).as("predicate"),
      when(regexp_extract(line, LineRegex, 3) =!= "",
        regexp_extract(line, LineRegex, 3))
        .otherwise(regexp_extract(line, LineRegex, 4)).as("obj"),
      regexp_extract(line, LineRegex, 5).as("graph"))

  /** Deterministic quad-line synthesis from `documents` (test fixture: the
    * driver corpus has no .nq file, so we round-trip format→parse). */
  def toLines(docs: DataFrame): DataFrame =
    docs.select(concat(
      lit("<" + ConceptPrefix), col("source"), lit("_"), col("doc_id"),
      lit("> <" + ProvValue + "> \""), col("text"),
      lit("\" <http://webisa.webdatacommons.org/prov/ctx"), col("doc_id"),
      lit("> .")).as("line"))

  /** q_nquads_parse: format each document as an N-Quad, parse it back, and
    * emit the parsed fields plus the concept extracted from the subject IRI.
    * The oracle constructs the EXPECTED fields directly from the columns, so
    * any parser defect breaks the hash match. */
  def qNquadsParse(s: SparkSession, dir: String): DataFrame = {
    val lines = toLines(Tables.documents(s, dir))
    parseLine(col("line"))(lines)
      .select(col("subject"), col("predicate"), col("obj"), col("graph"),
        regexp_replace(col("subject"), "^" + ConceptPrefix, "").as("concept"))
  }

  private val qNquadsParseSql =
    s"""SELECT '$ConceptPrefix' || source || '_' || doc_id AS subject,
        '$ProvValue' AS predicate,
        text AS obj,
        'http://webisa.webdatacommons.org/prov/ctx' || doc_id AS graph,
        source || '_' || doc_id AS concept
        FROM documents"""

  /** q_nquads_source: the SAME round-trip through the DataSource V2
    * connector — format the corpus as N-Quad line shards on disk, read
    * them back with `spark.read.format("nquads")` (one partition per
    * shard, pruning pushed to the reader), and emit the identical fields.
    * Gated by the SAME oracle as q_nquads_parse, so the connector and the
    * Column-transform parser can never drift. The shard directory is
    * memoized per (session, dir) — one write, many reads. */
  /** Content identity of the documents table: path plus mtime/size of its
    * file(s) — a regenerated corpus at the same path gets a NEW shard
    * cache instead of being served stale. */
  private def docsFingerprint(dir: String): String = {
    val root = new java.io.File(dir, "documents.parquet")
    val files = if (root.isDirectory) root.listFiles().filter(_.isFile).sortBy(_.getName)
                else Array(root)
    val sig = files.map(f => s"${f.getName}:${f.lastModified}:${f.length}").mkString("|")
    org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$dir|$sig")
  }

  /** Depth-first recursive delete: a Spark text write can leave a
    * `_temporary/` SUBDIRECTORY behind (interrupted job), and
    * File.delete() on a non-empty dir fails silently — the r7 cleanup
    * only removed top-level files, so a lost rename race leaked the
    * whole staging tree. */
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Reclaim staging directories orphaned by a JVM that died mid-write:
    * anything matching our staging pattern and untouched for an hour is
    * presumed dead. The victim is RENAMED ASIDE atomically before any
    * deletion — if the owner is actually alive (a >1h write), its later
    * `staging.renameTo(publish)` fails LOUDLY on the vanished path
    * instead of publishing a directory the sweeper half-emptied; and
    * concurrent sweepers race on the rename, so only one ever deletes. */
  private def sweepOrphanedStaging(tmpRoot: java.io.File): Unit = {
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    Option(tmpRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".graft_nquads_") &&
        f.getName.contains(".staging-") && f.lastModified < cutoff)
      .foreach { victim =>
        val doomed = new java.io.File(tmpRoot, s"${victim.getName}.sweeping")
        if (victim.renameTo(doomed)) deleteRecursively(doomed)
      }
  }

  def qNquadsSource(s: SparkSession, dir: String): DataFrame = {
    // Shard location keyed by the corpus CONTENT fingerprint, written once
    // and reused across sessions — a fresh createTempDirectory per session
    // would accumulate a corpus-sized copy in /tmp per run, and a
    // path-only key would serve stale shards after the driver regenerates
    // the table. Publication is ATOMIC (write to a staging dir, rename
    // into place) so a concurrent JVM never reads a half-written cache.
    val shardDir = {
      val p = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_nquads_${docsFingerprint(dir)}")
      if (!new java.io.File(p, "_SUCCESS").exists()) {
        sweepOrphanedStaging(p.getParentFile)
        val staging = new java.io.File(p.getParentFile,
          s".${p.getName}.staging-${ProcessHandle.current().pid()}-${System.nanoTime()}")
        toLines(Tables.documents(s, dir)).write.mode("overwrite").text(staging.toString)
        if (!staging.renameTo(p)) { // lost the race: someone else published
          deleteRecursively(staging)
        }
      }
      p.toString
    }
    s.read.format("nquads").load(shardDir)
      .select(col("subject"), col("predicate"), col("obj"), col("graph"),
        regexp_replace(col("subject"), "^" + ConceptPrefix, "").as("concept"))
  }

  override def registry: Seq[Q] = Seq(
    Q("q_nquads_parse", qNquadsParse, Oracle(qNquadsParseSql)),
    Q("q_nquads_source", qNquadsSource, Oracle(qNquadsParseSql)))
}
