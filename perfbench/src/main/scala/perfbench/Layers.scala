package perfbench

import perfbench.Main.{Pass, median}

/** Per-layer metrics of a traced run, per traced pass (totals over the
  * traced passes divided by their number), named by module and layer.
  * See perfbench/README.md for the definitions. */
final class Layers(l: Ledger, passes: Seq[Pass], sessionBuilds: Seq[Double]) {
  private val traced = passes.filter(_.traced)

  /** The modules a workload query can belong to, by name. */
  val Modules: Seq[String] = Seq("Tpch", "Relational", "Stats", "RobustStats", "ScaleOps",
    "TextPrep", "TextAnalysis", "TextScoring", "TopicModeling", "PolysemyEval",
    "Evaluation", "Classification", "Dedup", "SimilaritySearch", "NQuads")

  private val moduleOf: Map[String, String] = graft.SparkEntry.modules.flatMap { m =>
    val name = m.getClass.getSimpleName.stripSuffix("$")
    m.queries.keys.map(_ -> name)
  }.toMap

  private val n = math.max(1, traced.size).toDouble
  private val recs = traced.flatMap(_.queries)
  private val wallS = traced.map(_.wallS).sum
  private val cores = graft.GraftSession.cpus.toDouble

  private val jobsBySpan = l.jobs.groupBy(_.span)
  private val stagesBySpan = l.stages.groupBy(_.span)
  private val execsBySpan: Map[Long, Seq[Ledger.ExecRec]] = {
    val phases = recs.flatMap(r => Seq((r.cSpan, r.start, r.mid), (r.eSpan, r.mid, r.end)))
      .sortBy(_._2).toArray
    l.executions.toSeq.flatMap { e =>
      val i = phases.lastIndexWhere(_._2 <= e.atMs)
      if (i >= 0 && e.atMs <= phases(i)._3) Some(phases(i)._1 -> e) else None
    }.groupMap(_._1)(_._2)
  }
  private def counters(spans: Seq[Long]): Seq[Ledger.Counters] = spans.flatMap(l.tasks.get)
  private def sumC(spans: Seq[Long])(f: Ledger.Counters => Long): Double =
    counters(spans).map(f).sum.toDouble
  private def jobs(spans: Seq[Long]): Double = spans.map(s => jobsBySpan.getOrElse(s, Nil).size).sum

  private val allSpans = recs.flatMap(r => Seq(r.cSpan, r.eSpan))
  private val stages = allSpans.flatMap(s => stagesBySpan.getOrElse(s, Nil))

  /** Driver time of a phase not covered by any of its jobs. */
  private def selfS(span: Long, start: Double, end: Double): Double = {
    val ivs = jobsBySpan.getOrElse(span, Nil)
      .map(j => (math.max(start, j.start.toDouble), math.min(end, j.end.toDouble)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var lo = start
    ivs.foreach { case (a, b) =>
      val from = math.max(a, lo)
      if (b > from) { covered += b - from; lo = b }
    }
    (end - start - covered) / 1e3
  }

  def metrics: Seq[(String, Double)] = {
    val moduleMetrics = Modules.flatMap { m =>
      val rs = recs.filter(r => moduleOf.get(r.name).contains(m))
      Seq(
        s"$m.construct_s" -> rs.map(_.constructS).sum / n,
        s"$m.execute_s" -> rs.map(_.executeS).sum / n,
        s"$m.jobs" -> jobs(rs.flatMap(r => Seq(r.cSpan, r.eSpan))) / n)
    }
    val constructS = recs.map(_.constructS).sum
    val constructSpans = recs.map(_.cSpan)
    val tasks = sumC(allSpans)(_.tasks)
    val runS = sumC(allSpans)(_.runMs) / 1e3
    val singleTaskQueries = recs.count { r =>
      val st = Seq(r.cSpan, r.eSpan).flatMap(s => stagesBySpan.getOrElse(s, Nil))
      st.nonEmpty && st.forall(_.numTasks == 1)
    }
    val execs = allSpans.flatMap(s => execsBySpan.getOrElse(s, Nil))
    val pairRecs = recs.filter(r => moduleOf.get(r.name).exists(Set("Dedup", "SimilaritySearch")))
    val joinRows = pairRecs.flatMap(r => Seq(r.cSpan, r.eSpan))
      .flatMap(s => execsBySpan.getOrElse(s, Nil)).map(_.joinRows).sum.toDouble
    val pairRows = pairRecs.flatMap(r => execsBySpan.getOrElse(r.eSpan, Nil))
      .map(_.outputRows).sum.toDouble
    // each traced pass against the untraced pass after it: the first pass
    // of a run still pays JIT warm-up, so it is no fair comparison
    val overhead = passes.sliding(2).collect {
      case Seq(t, u) if t.traced && !u.traced => t.wallS / u.wallS
    }.toSeq
    Seq(
      "session.build_s" -> median(sessionBuilds),
      "operators.construct_s" -> constructS / n,
      "operators.construct_jobs" -> jobs(constructSpans) / n,
      "operators.construct_share" -> (if (wallS > 0) constructS / wallS else 0.0),
      "operators.construct_self_s" -> recs.map(r => selfS(r.cSpan, r.start, r.mid)).sum / n,
      "operators.execute_self_s" -> recs.map(r => selfS(r.eSpan, r.mid, r.end)).sum / n,
      "catalyst.analysis_s" -> execs.map(_.analysisS).sum / n,
      "catalyst.optimization_s" -> execs.map(_.optimizationS).sum / n,
      "catalyst.planning_s" -> execs.map(_.planningS).sum / n,
      "engine.jobs" -> jobs(allSpans) / n,
      "engine.stages" -> stages.size / n,
      "engine.tasks" -> tasks / n,
      "engine.tasks_per_stage" -> (if (stages.nonEmpty) tasks / stages.size else 0.0),
      "engine.single_task_stages" -> stages.count(_.numTasks == 1) / n,
      "engine.single_task_queries" -> singleTaskQueries / n,
      "engine.executor_run_s" -> runS / n,
      "engine.executor_cpu_s" -> sumC(allSpans)(_.cpuNs) / 1e9 / n,
      "engine.gc_s" -> sumC(allSpans)(_.gcMs) / 1e3 / n,
      "engine.core_util" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "engine.task_wait_s" -> sumC(allSpans)(c => c.durationMs - c.runMs) / 1e3 / n,
      "sources.bytes_read" -> sumC(allSpans)(_.bytesRead) / n,
      "sources.rows_read" -> sumC(allSpans)(_.rowsRead) / n,
      "sources.bytes_written" -> sumC(allSpans)(_.bytesWritten) / n,
      "shuffle.write_bytes" -> sumC(allSpans)(_.shuffleWrite) / n,
      "shuffle.read_bytes" -> sumC(allSpans)(_.shuffleRead) / n,
      "shuffle.fetch_wait_s" -> sumC(allSpans)(_.fetchWaitMs) / 1e3 / n,
      "shuffle.spill_bytes" -> sumC(allSpans)(_.spill) / n,
      "driver.result_bytes" -> sumC(allSpans)(_.resultBytes) / n,
      "substrate.builds" -> traced.map(_.substrateBuilds.size).sum / n,
      "substrate.build_s" -> traced.map(_.substrateBuilds.values.sum).sum / n,
      "substrate.cached_bytes" -> traced.map(_.cachedBytes.toDouble).sum / n,
      "dedup.join_rows" -> joinRows / n,
      "dedup.pair_yield" -> (if (joinRows > 0) pairRows / joinRows else 0.0),
      "trace.wall_s" -> median(traced.map(_.wallS)),
      "trace.overhead" -> median(overhead)
    ) ++ moduleMetrics
  }
}
