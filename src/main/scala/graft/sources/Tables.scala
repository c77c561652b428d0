package graft.sources

import org.apache.hadoop.fs.{ContentSummary, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's parquet tables (see TESTDATA.md).
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the loader
  * keeps the access path in one place so scan options (pushdown, schema
  * pruning) are centralized. All queries select only the columns they need so
  * parquet column pruning applies. Operators read tables only through here.
  *
  * Schemas come from the parquet footer, read on the driver (`schemaOf`),
  * and are handed to the reader (`spark.read.schema(..).parquet(..)`). A
  * schema-less `spark.read.parquet` submits a one-task schema-merge job per
  * call just to read that footer; with the schema given, building a loader,
  * [[validate]], a `Views` registration or a query's DataFrame runs no job
  * before execution. The footer is converted by the converter Spark's own
  * inference uses, so `nanosAsLong`, TIMESTAMP_NTZ and the Spark row-metadata
  * key resolve exactly as inference would. A read costs a listing and one
  * footer (~ms), so nothing is cached.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Catalog contract: the columns every operator in this library assumes.
    * `validate` checks a data dir against it up front — at 100 TB you want
    * a schema drift to fail the job at submit time, not 3 hours into a
    * scan with a cryptic resolution error. */
  val ExpectedColumns: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  /** Returns one "table: missing [...]" line per violated contract; empty
    * means the dir satisfies the catalog (extra columns are allowed). */
  def validate(spark: SparkSession, dir: String): Seq[String] =
    All.flatMap { t =>
      val have = schemaOf(spark, pathOf(dir, t)).fieldNames.toSet
      val missing = ExpectedColumns(t).filterNot(have)
      if (missing.isEmpty) None else Some(s"$t: missing ${missing.mkString(", ")}")
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = pathOf(dir, name)
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private def pathOf(dir: String, name: String): String = s"$dir/$name.parquet"

  /** The schema Spark's inference gives `path` (mergeSchema off), read
    * from one footer on the driver. `path` is a single parquet file (the
    * driver's tables) or a Spark-written directory (`Amplify` output),
    * where the footer is the one inference picks: `_common_metadata`,
    * then `_metadata`, then the first data file by path. A missing path
    * throws `FileNotFoundException` naming it. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val file = footerFile(p.getFileSystem(conf), p)
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val footer = try in.getFooter finally in.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  private def footerFile(fs: FileSystem, p: Path): Path =
    if (!fs.getFileStatus(p).isDirectory) p
    else {
      val files = fs.listStatus(p).filter(_.isFile).map(_.getPath).sortBy(_.toString)
      def named(n: String) = files.find(_.getName == n)
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(files.find(f => !f.getName.startsWith("_") && !f.getName.startsWith(".")))
        .getOrElse(throw new java.io.FileNotFoundException(s"no parquet file under $p"))
    }

  /** Spread a SCAN-FUSED pipeline across cores when the input layout
    * under-splits (optimization guide §2.5, "input skew: one huge
    * unsplittable file → repartition immediately after the read"). The
    * driver's test tables are single-file, single-ROW-GROUP parquet:
    * Spark can never split one row group across scan tasks, so a
    * scan-fused pipeline (decode → project → filter → per-row compute →
    * partial agg) runs on ONE core no matter how many the session has.
    * This helper hash-repartitions on `key` (deterministic under task
    * retry, and no round-robin pre-sort — measured 5× cheaper than
    * repartition(n)) to defaultParallelism, ONLY when the table's file
    * layout yields fewer scan splits than half the cores. The split
    * estimate is the planner's own formula (bytes + per-file open cost,
    * over maxPartitionBytes), so at production scale this is a
    * structural no-op — nothing here is tuned to local[32]. Filters and
    * column pruning push THROUGH the exchange to the scan. Apply it
    * where the map stage is CPU-heavy (measured), not blanket: the
    * exchange costs one extra stage, a net loss for scan-light
    * aggregations. */
  def spread(df: DataFrame, dir: String, name: String,
      key: org.apache.spark.sql.Column): DataFrame = {
    val spark = df.sparkSession
    contentSummary(spark, pathOf(dir, name)) match {
      case Some(summary) if underSplit(spark, summary) =>
        // Partition-count sized by BYTES, not blindly the core count
        // (guide §2.2: fewer, larger partitions): over-splitting a small
        // table multiplies every downstream high-cardinality partial
        // aggregation's emitted rows by the partition count (each
        // partition emits ~its own copy of the group domain — measured 8×
        // CPU on the stylometry query at 32 partitions over a 584 KB
        // corpus). ~64 KB per partition keeps per-row compute parallel
        // while bounding that blowup; production-sized inputs take the
        // full core count.
        val n = math.max(2L, math.min(
          spark.sparkContext.defaultParallelism.toLong,
          summary.getLength / (64L * 1024))).toInt
        df.repartition(n, key)
      case _ => df
    }
  }

  /** One listing of `path`; None when it cannot be listed (no spread). */
  private def contentSummary(spark: SparkSession, path: String): Option[ContentSummary] =
    try {
      val p = new Path(path)
      Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Floor below which a spread cannot pay for its exchange: tables this
    * small are dimension-sized (broadcast fodder). */
  private val SpreadFloorBytes = 256L * 1024

  private def underSplit(spark: SparkSession, summary: ContentSummary): Boolean = {
    val bytes = summary.getLength
    val files = math.max(1L, summary.getFileCount)
    bytes >= SpreadFloorBytes && {
      val conf = spark.sessionState.conf
      val splits = 1L + (bytes + files * conf.filesOpenCostInBytes - 1L) /
        math.max(1L, conf.filesMaxPartitionBytes)
      splits * 2 <= spark.sparkContext.defaultParallelism
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.parquet has carried two timestamp encodings across driver
    * generations: TIMESTAMP(NANOS) (readable only via
    * spark.sql.legacy.parquet.nanosAsLong=true, set in Verify/Bench/tests)
    * and TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 reads as
    * TIMESTAMP_NTZ. Normalize BOTH to a session-TZ timestamp column: the
    * session is pinned to UTC (GraftSession), so the NTZ→LTZ cast
    * reinterprets the same wall-clock value as the same instant DuckDB's
    * naive timestamps compare as — and unix_micros()/window() downstream
    * require the LTZ type. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div` — a double division would lose precision on ns epochs
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
