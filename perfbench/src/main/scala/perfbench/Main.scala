package perfbench

import graft.{GraftSession, ModelCache, SparkEntry}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run: set up, write every query's output at the gate
  * scale for the DuckDB check, run a warm-up pass (warm workloads only),
  * then timed passes until `--seconds` have elapsed. One client, one query
  * at a time, no think time.
  *
  * Each query is timed as graft's callers see it: the
  * `SparkEntry.queries(name)(spark, dir)` call that constructs the
  * DataFrame (and already runs any eager jobs), then a noop write that
  * executes it. A query that throws counts as failed and its elapsed time
  * stays in the pass.
  *
  * Writes `result.json` (and with `--trace 1` also `trace.json`) into
  * `--out`; perfbench/run.py turns them into the reported line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  *             --data DIR --gate DIR
  */
object Main {

  private val SetupReps = 3
  private val JobSpanBase = 1000000000L
  private val StageSpanBase = 2000000000L

  final case class QRec(name: String, cSpan: Long, eSpan: Long,
      start: Double, mid: Double, end: Double, error: Option[String]) {
    def constructS: Double = (mid - start) / 1e3
    def executeS: Double = (end - mid) / 1e3
    def latencyS: Double = (end - start) / 1e3
  }

  final case class Pass(index: Int, traced: Boolean, start: Double,
      end: Double, queries: Seq[QRec], substrateBuilds: Map[String, Double],
      cachedBytes: Long) {
    def wallS: Double = (end - start) / 1e3
  }

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = opt("out")
    val gate = opt("gate")
    Files.createDirectories(Paths.get(out))
    new Run(workload, seed, seconds, trace, out, opt("data"), gate).run()
  }

  /** Median, interpolating between the middle two of an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Harrell-Davis quantile: a Beta((n+1)p, (n+1)(1-p))-weighted mean of
    * all order statistics. A pass yields only 6-9 latencies of different
    * queries, so a single order statistic jumps between neighbouring
    * queries from run to run; the weighted mean does not. */
  def hdQuantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n <= 1) s.headOption.getOrElse(0.0) else {
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      val steps = 1000 * n
      val pdf = (0 to steps).map { k =>
        val x = k.toDouble / steps
        math.pow(x, a - 1) * math.pow(1 - x, b - 1)
      }
      val cdf = pdf.sliding(2).map(w => (w(0) + w(1)) / 2).scanLeft(0.0)(_ + _).toIndexedSeq
      s.indices.map(i => (cdf((i + 1) * 1000) - cdf(i * 1000)) / cdf.last * s(i)).sum
    }
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else String.format(Locale.ROOT, "%.6f", Double.box(x))

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")

  /** Substrate keys embed `System.identityHashCode` and data paths, which
    * change between runs and checkouts; strip both so listings diff. */
  def stableKey(key: String, dirs: Map[String, String]): String = {
    val noDirs = dirs.foldLeft(key) { case (k, (label, dir)) => k.replace(dir, label) }
    noDirs.split(":", -1).map(seg => if (seg.matches("-?\\d{7,}")) "#" else seg).mkString(":")
  }

  private final class Run(w: Workload, seed: Long, seconds: Double, trace: Boolean,
      out: String, data: String, gate: String) {

    private val ledger = if (trace) Some(new Ledger) else None
    private val queries = SparkEntry.queries
    private val spans = mutable.ArrayBuffer.empty[(Long, Long, String, Double, Double)]
    private var nextSpan = 1L
    private def newSpan(): Long = { nextSpan += 1; nextSpan }
    private val runSpan = 1L
    private val sessionBuilds = mutable.ArrayBuffer.empty[Double]
    private var attempted = 0

    private def newSession(): SparkSession = {
      val t0 = nowMs()
      val spark = GraftSession.local()
      spark.sparkContext.setLogLevel("WARN")
      ledger.foreach { l =>
        spark.sparkContext.addSparkListener(l)
        spark.listenerManager.register(l)
      }
      sessionBuilds += (nowMs() - t0) / 1e3
      spark
    }

    def run(): Unit = {
      val runStart = nowMs()
      // Set-up: session plus catalog validation, several times. The first
      // is timed from JVM start; setup_s is the median.
      val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
      def validate(spark: SparkSession, dir: String): Unit = {
        val bad = Tables.validate(spark, dir)
        require(bad.isEmpty, s"catalog check failed for $dir: ${bad.mkString("; ")}")
      }
      val setups = (0 until SetupReps).map { i =>
        val t0 = if (i == 0) jvmStart else nowMs()
        val spark = newSession()
        validate(spark, data)
        val s = (nowMs() - t0) / 1e3
        if (i < SetupReps - 1) spark.stop()
        s
      }
      progress(f"set-up ${setups.map(x => f"$x%.2f").mkString(" ")} s, " +
        f"sessions ${sessionBuilds.map(x => f"$x%.2f").mkString(" ")} s")
      var spark = SparkSession.active
      validate(spark, gate)

      // The gate pass is the first run of graft's code in this JVM, so it
      // also warms the JIT. Warm workloads then fill their substrates at the
      // timed scale in a warm-up pass. Cold workloads give each timed pass a
      // fresh session, so every timed pass fills its substrates again; their
      // warm-up is the gate pass.
      val failures = mutable.ArrayBuffer.empty[String]
      val t0 = nowMs()
      val checked = writeGateOutputs(spark, failures)
      val gateS = (nowMs() - t0) / 1e3
      progress(f"gate pass $gateS%.2f s")
      val rng = new scala.util.Random(seed)
      val warm = if (w.warm) {
        val p = runPass(spark, -1, w.order(rng), traced = false)
        failures ++= p.queries.flatMap(q => q.error.map(e => s"warm-up ${q.name}: $e"))
        progress(f"warm-up ${p.wallS}%.2f s")
        Some(p)
      } else None

      val passes = mutable.ArrayBuffer.empty[Pass]
      val deadline = nowMs() + seconds * 1e3
      // Another pass starts while it would end, by the last pass's length,
      // less than half a pass after the deadline. A traced run alternates
      // untraced and traced passes, at least untraced-traced-untraced, so
      // the overhead compares passes on both sides of the traced one.
      val minPasses = if (trace) 3 else 1
      def more = passes.size < minPasses ||
        nowMs() + passes.last.wallS * 500 < deadline
      while (more) {
        if (!w.warm) {
          spark.stop()
          spark = newSession()
        }
        val p = runPass(spark, passes.size, w.order(rng), traced = trace && passes.size % 2 == 1)
        failures ++= p.queries.flatMap(q => q.error.map(e => s"pass ${p.index} ${q.name}: $e"))
        passes += p
        progress(f"pass ${p.index}${if (p.traced) " (traced)" else ""} ${p.wallS}%.2f s")
      }
      val substrateKeys = ModelCache.buildCosts(spark).keys
        .map(stableKey(_, Map("<data>" -> data, "<gate>" -> gate))).toSeq.sorted
      spark.stop()
      val runEnd = nowMs()
      spans += ((runSpan, 0L, "run", runStart, runEnd))

      val timed = passes.filterNot(_.traced).toSeq
      val lat = timed.flatMap(_.queries.map(_.latencyS))
      attempted += (warm.toSeq ++ passes).map(_.queries.size).sum
      val metrics = Seq(
        "wall_s" -> median(timed.map(_.wallS)),
        "setup_s" -> median(setups),
        "warmup_s" -> warm.fold(gateS)(_.wallS),
        "query_p50_s" -> hdQuantile(lat, 0.5),
        "query_p75_s" -> hdQuantile(lat, 0.75),
        "peak_rss_mb" -> peakRssMb())
      val info = Seq(
        "setup_cold_s" -> setups.head,
        "gate_pass_s" -> gateS,
        "passes" -> timed.size.toDouble,
        "latency_samples" -> lat.size.toDouble,
        "wall_s_min" -> timed.map(_.wallS).min,
        "wall_s_max" -> timed.map(_.wallS).max)
      val perQuery = w.queries.map { q =>
        q -> num(median(timed.flatMap(_.queries.filter(_.name == q).map(_.latencyS))))
      }
      val layers = ledger.map(l => new Layers(l, passes.toSeq, sessionBuilds.toSeq).metrics)
        .getOrElse(Nil)

      val result = obj(Seq(
        "workload" -> str(w.name),
        "seed" -> seed.toString,
        "attempted" -> attempted.toString,
        "failures" -> arr(failures.map(str)),
        "checked" -> arr(checked.map(str)),
        "metrics" -> obj(metrics.map { case (k, v) => k -> num(v) }),
        "layers" -> obj(layers.map { case (k, v) => k -> num(v) }),
        "info" -> obj(info.map { case (k, v) => k -> num(v) }),
        "query_median_s" -> obj(perQuery),
        "order" -> arr(passes.headOption.toSeq.flatMap(_.queries.map(q => str(q.name))))))
      Files.write(Paths.get(out, "result.json"), (result + "\n").getBytes(UTF_8))
      ledger.foreach(l => writeTrace(l, substrateKeys))
    }

    /** Runs every workload query (and each rows-only query's certificate)
      * at the gate scale and writes the outputs beside their oracle SQL,
      * in the layout scripts/check_oracle.py reads. The pass is untimed, so
      * the queries run concurrently, one thread per core; two that race to
      * fill one memoized substrate both build it and one build is dropped
      * (`ModelCache.getOrElseUpdate`). Returns the names written; a query
      * that throws is a failure. */
    private def writeGateOutputs(spark: SparkSession,
        failures: mutable.Buffer[String]): Seq[String] = {
      val oracles = SparkEntry.oracleSql
      val names = w.queries.map { q =>
        if (oracles.contains(q)) q
        else Workloads.certificates.getOrElse(q,
          throw new IllegalStateException(s"$q has neither an oracle nor a certificate"))
      }.distinct
      attempted += names.size
      val dir = Paths.get(out, "check")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(GraftSession.cpus.toInt)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val written = try {
        val work = scala.concurrent.Future.traverse(names) { q =>
          scala.concurrent.Future {
            try {
              queries(q)(spark, gate).coalesce(1).write.mode("overwrite")
                .parquet(dir.resolve(s"$q.parquet").toString)
              Some(q)
            } catch { case NonFatal(e) =>
              failures.synchronized {
                failures += s"check $q: ${e.getClass.getSimpleName}: ${e.getMessage}"
              }
              None
            }
          }
        }
        scala.concurrent.Await.result(work, scala.concurrent.duration.Duration.Inf).flatten
      } finally pool.shutdown()
      Files.write(dir.resolve("oracle_sql.json"),
        obj(written.map(q => s"$q.parquet" -> str(oracles(q)))).getBytes(UTF_8))
      written
    }

    private def runPass(spark: SparkSession, index: Int, order: Seq[String],
        traced: Boolean): Pass = {
      val sc = spark.sparkContext
      val passSpan = newSpan()
      val before = ModelCache.buildCosts(spark)
      val recs = order.map { name =>
        val (qSpan, cSpan, eSpan) = (newSpan(), newSpan(), newSpan())
        def tag(span: Long): Unit =
          if (traced) sc.setLocalProperty(Ledger.SpanKey, span.toString)
        val start = nowMs()
        var mid = start
        val error = try {
          tag(cSpan)
          val df: DataFrame = queries(name)(spark, data)
          mid = nowMs()
          tag(eSpan)
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case NonFatal(e) =>
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        } finally sc.setLocalProperty(Ledger.SpanKey, null)
        val end = nowMs()
        if (mid == start) mid = end
        progress(f"  $name%-22s construct ${(mid - start) / 1e3}%7.3f execute ${(end - mid) / 1e3}%7.3f")
        if (traced) {
          spans += ((qSpan, passSpan, s"query:$name", start, end))
          spans += ((cSpan, qSpan, "construct", start, mid))
          spans += ((eSpan, qSpan, "execute", mid, end))
        }
        QRec(name, cSpan, eSpan, start, mid, end, error)
      }
      val after = ModelCache.buildCosts(spark)
      val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val p = Pass(index, traced, recs.head.start, recs.last.end, recs,
        after -- before.keySet, cached)
      if (traced) spans += ((passSpan, runSpan, s"pass:$index", p.start, p.end))
      p
    }

    private def writeTrace(l: Ledger, substrateKeys: Seq[String]): Unit = {
      // Job and stage ids are unique per SparkContext only; cold passes
      // restart it, so their span ids are numbered here.
      val jobSpan = l.jobs.zipWithIndex.map { case (j, i) => (j.span, j.id) -> (JobSpanBase + i) }.toMap
      val all = spans.toSeq ++
        l.jobs.map(j => (jobSpan((j.span, j.id)), j.span, s"job:${j.id}", j.start.toDouble, j.end.toDouble)) ++
        l.stages.zipWithIndex.map { case (s, i) => (StageSpanBase + i,
          jobSpan.getOrElse((s.span, s.job), s.span),
          s"stage:${s.id} tasks=${s.numTasks}", s.start.toDouble, s.end.toDouble) }
      val spanJson = all.sortBy(_._4).map { case (id, parent, name, s, e) =>
        obj(Seq("id" -> id.toString, "parent" -> parent.toString, "run" -> str(s"${w.name}-$seed"),
          "name" -> str(name), "start_ms" -> num(s), "end_ms" -> num(e)))
      }
      val body = obj(Seq(
        "workload" -> str(w.name),
        "seed" -> seed.toString,
        "substrates" -> arr(substrateKeys.map(str)),
        "spans" -> arr(spanJson)))
      Files.write(Paths.get(out, "trace.json"), (body + "\n").getBytes(UTF_8))
    }
  }

  def progress(msg: String): Unit = System.err.println(s"perfbench: $msg")

  /** VmHWM of this JVM: in local mode it covers driver and executors. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
