package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict the dump to named queries (local
    // iteration; an unknown name throws before any dump); the driver
    // always calls with exactly (sfDir, outDir).
    val qs = SparkEntry.queries
    val names = if (args.length > 2) SparkEntry.subset(args.drop(2)) else qs.keys
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Single source of truth for the "<name>.parquet" convention: the dump
    // dir and the oracle-JSON key are BOTH this string (the driver keys its
    // oracle lookup by dump-dir basename — desync = silent no_oracle).
    def dumpName(k: String): String = s"$k.parquet"
    names.foreach { name =>
      try qs(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${dumpName(name)}")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(dumpName(k))}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
