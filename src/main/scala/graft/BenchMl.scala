package graft

/** ML-fit benchmark lane: the headline bench (graft.Bench) excludes
  * every query with an iterative training fit upstream (ALS / LDA / W2V /
  * GMM / the classifier zoo / subword-tokenizer training / IVF-PQ index
  * builds), so without this lane a fit-cost regression would only be
  * timed incidentally inside specs. This main times exactly that family.
  *
  * The query set is derived, not hand-listed: every registered query in
  * the `Ml` lane, so a future ML query is timed here the day it is
  * registered.
  *
  * ONE COLD PASS, no reps: ModelCache memoizes every fit per
  * (session, dir), so a second rep would time memoized reads, not the
  * fit — and the fit IS the metric of this lane. Cold single-shot
  * numbers carry ±2× machine noise; the lane exists to catch order-of-
  * magnitude fit regressions, not ±20% drift (SCALING.md records the
  * discipline). Execution order is alphabetical and deterministic;
  * shared substrates (the memoized LDA corpus, the PQ codebooks, cleaned
  * tokens) are charged to their first consumer, exactly like the
  * headline run's convention.
  *
  * A query that throws is left out of the per-query map and `ml_total`,
  * counted and named in both stdout lines, and makes the main exit
  * non-zero.
  *
  * Output: the Bench JSON shape (one full line + a compact slowest-10
  * line), sidecar BENCH_ML_QUERIES.json (override with
  * SPARK_GRAFT_BENCH_OUT). */
object BenchMl {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val qs = SparkEntry.queries
    val names = SparkEntry.lane(Ml).sorted
    val times = scala.collection.mutable.Map.empty[String, Double]
    val errs = scala.collection.mutable.Map.empty[String, String]
    for (name <- names) {
      try {
        val t0 = System.nanoTime()
        qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        times(name) = (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(e) =>
        // NonFatal only: an OutOfMemoryError/LinkageError must abort the
        // lane — timing later queries in a corrupted JVM silently skews
        // every subsequent number
        errs(name) = e.getClass.getSimpleName
      }
    }
    val results = names.filter(times.contains).map(n => n -> times(n))
    val qjson = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = times.values.sum
    val errJson = errs.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val failed = s""""n_errors":${errs.size},"errors":$errJson"""
    val line = s"""{"metric":"ml_total","value":$total,"unit":"sec","stat":"cold-single-shot","queries":$qjson,$failed,"sf":"$sfDir"}"""
    println(line)
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"ml_total","value":$total,"unit":"sec","stat":"cold-single-shot","n_queries":${results.size},"queries":$slowest,"queries_note":"slowest-10 of ${results.size}; full map in BENCH_ML_QUERIES.json",$failed,"sf":"$sfDir"}""")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_ML_QUERIES.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"bench-ml: could not write $out: $e") }
    spark.stop()
    if (errs.nonEmpty) {
      System.err.println(s"bench-ml: ${errs.size} queries failed: ${errs.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
