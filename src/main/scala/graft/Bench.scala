package graft

import java.util.Locale

/** Benchmark main: the headline lane of the registry (every query not
  * marked `Ml`) on SPARK_GRAFT_SF_DIR, one JSON line. Heavy ML-training
  * queries are timed by [[BenchMl]] instead; everything here is the
  * operator surface a 100 TB pipeline would run continuously.
  *
  * A query that throws is left out of the per-query maps and the total,
  * counted and named in both stdout lines and the sidecar, and makes the
  * main exit non-zero. */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qs = SparkEntry.queries
    // Optional comma-separated subset for local iteration (unset for the
    // full headline run). An explicit subset may name ANY registered query, including
    // the ML-lane ones, so the scale ladder can measure a topic-model fit
    // path without putting iterative training in the headline run. An
    // unknown name throws.
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(sel) => SparkEntry.subset(sel.split(",").map(_.trim))
      case None => SparkEntry.lane(Headline)
    }
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    // Measure a full materialization of EVERY output column via the noop
    // sink — a bare .count() lets Catalyst prune the projections under
    // test, so map-only queries would be timed as empty scans. n=3 reps:
    // single-shot numbers at this scale carry ±2× JIT/IO noise.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // INTERLEAVED rep rounds (A,B,C,A,B,C — not A,A,A,B,B,B): a transient
    // contention spike (GC pause, page-cache eviction, a co-tenant burst)
    // lands in one round and the per-query statistic absorbs it, instead
    // of poisoning every rep of whichever query was running.
    // ROTATED rep rounds: round r starts at offset r·|Q|/reps, so no
    // query sits at a round boundary in every rep. Without rotation the
    // first queries of each round always absorb round-start turnover
    // (executor-pool churn, page-cache refill after the previous round's
    // tail). Rotation spreads the boundary cost across the suite so
    // min-of-reps needs only one clean placement.
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    val errs = scala.collection.mutable.Map.empty[String, String]
    for (r <- 0 until reps;
         offset = if (names.isEmpty) 0 else (r.toLong * names.size / reps).toInt;
         name <- names.drop(offset) ++ names.take(offset)) {
      try {
        val t0 = System.nanoTime()
        qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        times(name) = ((System.nanoTime() - t0) / 1e9) :: times.getOrElse(name, Nil)
      } catch { case scala.util.control.NonFatal(e) =>
        // NonFatal only: a fatal JVM error must abort the run, not leave
        // a corrupted JVM timing every later query
        errs.getOrElseUpdate(name, e.getClass.getSimpleName)
      }
    }
    // A query that threw in any rep is a failure, not a fast query.
    val ok = names.filter(n => times.contains(n) && !errs.contains(n))
    // Headline statistic is MIN-of-reps, not the median: with only 3
    // interleaved reps a 2-rep contention burst lands IN the median,
    // while the min is the standard contention-robust statistic — the
    // query demonstrably CAN run that fast, so anything above it is
    // machine noise, not plan cost. Medians stay in the sidecar for
    // spread-watching.
    val results = ok.map(name => name -> times(name).min)
    val medians = ok.map { name =>
      val ts = times(name).sorted
      name -> ts(ts.size / 2)
    }
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def nums(kvs: Seq[(String, Double)]): String =
      obj(kvs.map { case (k, v) => k -> v.toString })
    val errJson = obj(errs.toSeq.sortBy(_._1).map { case (k, v) => k -> ("\"" + v + "\"") })
    val failed = s""""n_errors":${errs.size},"errors":$errJson"""
    val total = results.map(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","stat":"min-of-reps","queries":${nums(results)},$failed,"sf":"$sfDir"}"""
    println(line)
    // COMPACT trailing line: log captures keep only the last ~2000 chars
    // of stdout, and the full per-query line above is ~9 KB. This second
    // line carries the same headline metric plus the slowest-10 subset
    // and fits in the captured tail; the complete per-query map stays in
    // the line above and in the BENCH_QUERIES.json sidecar.
    val slowest = nums(results.sortBy(-_._2).take(10))
    println(s"""{"metric":"total","value":$total,"unit":"sec","stat":"min-of-reps","n_queries":${results.size},"queries":$slowest,"queries_note":"slowest-10 of ${results.size}; full map in BENCH_QUERIES.json",$failed,"sf":"$sfDir"}""")
    // The FULL result — min-of-reps headline, medians, plus every
    // interleaved rep, so a reader can judge spread — also lands in a
    // sidecar file for per-query diffing across runs.
    val repsJson = obj(ok.map(name => name -> times(name).reverse.mkString("[", ",", "]")))
    // Substrate build-cost attribution: min-of-reps charges each memoized
    // ModelCache substrate's build to whichever query reaches it first in
    // rep 1, so per-query numbers for family members understate
    // standalone cost — the sidecar reports every substrate's one-time
    // build seconds so readers can re-attribute. (For lazily persisted
    // substrates this is plan-build time only; the first consumer's rep
    // still carries the fill.)
    val subJson = obj(ModelCache.buildCosts(spark).toSeq.sortBy(-_._2)
      .map { case (k, v) => k -> String.format(Locale.ROOT, "%.3f", Double.box(v)) })
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_QUERIES.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line.dropRight(1) +
        s""","medians":${nums(medians)},"substrate_build_sec":$subJson,"reps":$repsJson}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"bench: could not write $out: $e") }
    spark.stop()
    if (errs.nonEmpty) {
      System.err.println(s"bench: ${errs.size} queries failed: ${errs.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
