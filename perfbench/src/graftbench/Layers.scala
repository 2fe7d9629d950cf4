package graftbench

/** The per-layer metrics of a traced run, derived from the recorded
  * spans, their Spark counters and the ops' own records. Every metric is
  * reported on every workload; a span the workload never opens reads 0. */
object Layers {

  /** `<layer>.<call>` spans the benchmark opens around program calls. */
  val SpanNames: Seq[String] = Seq(
    "setup.generate",      // seeded input generation (data files or corpus)
    "setup.index_build",   // IndexBuilder/BloomIndex.build, PostingsStore.build+append
    "plans.optimize",      // queryExecution.optimizedPlan: runs GraftPruneRule
    "query.select_files",  // PrunedScanner.scanWithReport / BloomIndex.scan
    "spark.execute",       // the action
    "text.construct",      // live/normsLive reads, QueryLang.parse/compile, DataFrame build
    "text.execute")        // the text op's action

  val SpanFields: Seq[(String, String)] = Seq(
    "self_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "input_bytes" -> "bytes", "input_records" -> "count",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "task_busy_ms" -> "ms", "sched_wait_ms" -> "ms", "gc_ms" -> "ms")

  /** Counters that are not span fields, with their units. */
  val Counters: Seq[(String, String)] = Seq(
    "query.files_selected_frac" -> "ratio",
    "query.fallback_frac" -> "ratio",
    "query.bytes_read_frac" -> "ratio",
    "query.prune_report_ms" -> "ms",
    "spark.rows_scanned_per_row_returned" -> "ratio",
    "spark.task_max_over_median" -> "ratio",
    "build.mb_per_s" -> "MB/s",
    "text.postings_rows_read" -> "count",
    "baseline.full_scan_p50_ms" -> "ms",
    "trace.overhead_frac" -> "ratio",
    "failed_frac" -> "ratio")

  def unitOf(counter: String): String =
    Counters.toMap.getOrElse(counter, sys.error(s"undeclared counter $counter"))

  /** Every per-layer metric with its unit, in BENCHMARK.json order. */
  def all: Seq[(String, String)] =
    SpanNames.flatMap(s => SpanFields.map { case (f, u) => s"$s.$f" -> u }) ++ Counters

  /** `ms` in BENCHMARK.json order, with 0 for what a workload never measured. */
  def complete(ms: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val have = ms.map(m => m._1 -> m).toMap
    require(have.keySet.subsetOf(all.map(_._1).toSet), s"undeclared: ${have.keySet -- all.map(_._1)}")
    all.map { case (n, u) => have.getOrElse(n, (n, 0.0, u)) }
  }

  /** Per-span metrics: each field is the mean over the span's
    * occurrences (per op for op spans, per set-up for set-up spans), and
    * the op-level counters. The file and byte shares are over every op
    * of the run (whole passes over the inputs, so they repeat per seed). */
  def metrics(tracer: Tracer, traced: Seq[OpRecord], all: Seq[OpRecord])
      : Seq[(String, Double, String)] = {
    // set-up spans from set-up; op spans from the loop, never from the
    // warm-up ops that set-up runs
    val spans = tracer.recorded.filter(s => s.name.startsWith("setup.") == (s.phase == "setup"))
    val children = spans.groupBy(_.parent)
    val perSpan = SpanNames.flatMap { name =>
      val occ = spans.filter(_.name == name)
      val n = math.max(occ.size, 1).toDouble
      val cs = occ.map(s => Option(tracer.counters.get(s.id)).getOrElse(new SpanCounters))
      def sum(f: SpanCounters => Long): Double = cs.map(f).sum.toDouble / n
      Seq(
        "self_ms" -> occ.map(s => tracer.selfNs(s, children) / 1e6).sum / n,
        "jobs" -> sum(_.jobs), "tasks" -> sum(_.tasks),
        "input_bytes" -> sum(_.inputBytes), "input_records" -> sum(_.inputRecords),
        "shuffle_bytes" -> sum(_.shuffleBytes), "spill_bytes" -> sum(_.spillBytes),
        "task_busy_ms" -> sum(_.taskBusyMs), "sched_wait_ms" -> sum(_.schedWaitMs),
        "gc_ms" -> sum(_.gcMs)
      ).map { case (f, x) => (s"$name.$f", x, SpanFields.toMap.apply(f)) }
    }

    val ok = traced.filter(_.ok)
    def frac(num: OpRecord => Double, den: OpRecord => Double): Double = {
      val rs = all.filter(_.ok)
      val d = rs.map(den).sum
      if (d == 0) 0.0 else rs.map(num).sum / d
    }
    val explicit = all.filter(r => r.ok && r.explicitPath)
    val executeIds = spans.filter(_.name == "spark.execute").map(_.id).toSet
    val scanned = executeIds.toSeq.map(id =>
      Option(tracer.counters.get(id)).map(_.inputRecords).getOrElse(0L)).sum
    val returned = ok.map(_.rowsReturned).sum
    // straggler: per stage of an action, slowest task over the median one
    val skew = {
      import scala.jdk.CollectionConverters._
      tracer.stageTaskMs.asScala.toSeq.collect {
        case ((span, _), ds) if executeIds(span) && ds.size >= 2 && Stats.median(ds.map(_.toDouble).toSeq) > 0 =>
          ds.max / Stats.median(ds.map(_.toDouble).toSeq)
      }
    }
    perSpan ++ Seq(
      ("query.files_selected_frac", frac(_.filesRead, _.filesTotal), "ratio"),
      ("query.fallback_frac",
        if (explicit.isEmpty) 0.0
        else explicit.map(_.fallbackFiles).sum.toDouble / math.max(1, explicit.map(_.filesTotal).sum),
        "ratio"),
      ("query.bytes_read_frac", frac(_.bytesRead.toDouble, _.bytesTotal.toDouble), "ratio"),
      ("spark.rows_scanned_per_row_returned",
        if (returned == 0) 0.0 else scanned.toDouble / returned, "ratio"),
      ("spark.task_max_over_median", Stats.mean(skew), "ratio"))
  }
}
