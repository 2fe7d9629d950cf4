package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one timed op produced. `answer` is a canonical rendering of the
  * op's output: it must be the same every time the op's input repeats,
  * and equal to what the no-index path computes for that input. */
final case class OpRecord(
    input: Int,
    ns: Long,
    answer: String,
    ok: Boolean = true,
    rowsReturned: Long = 0L,
    filesRead: Int = 0,
    filesTotal: Int = 0,
    bytesRead: Long = 0L,
    bytesTotal: Long = 0L,
    fallbackFiles: Int = 0,
    explicitPath: Boolean = false)

/** Result of the correctness phase. `baselineMs` are the no-index
  * timings of the checked inputs (only collected when asked for). */
final case class Verification(
    checked: Int, mismatches: Seq[(Int, String)], baselineMs: Seq[Double])

/** One benchmark workload. The runner owns timing, repetition, tracing
  * and the result line; a workload owns its inputs, ops and checks. */
trait Workload {
  /** One complete set-up into the fresh directory `dir`: generate the
    * seeded inputs and build the index or store. */
  def setup(dir: String): Unit
  /** Untimed ops after the last set-up, so the loop starts warm. */
  def warmup(): Unit
  /** Rows, files, bytes and a content hash of the final set-up's inputs;
    * with `sizeFacts`, also the sizes the documentation quotes. */
  def fingerprint(sizeFacts: Boolean): Seq[(String, Any)]
  /** The distinct input op number `seq` runs. */
  def inputOf(seq: Int): Int
  /** Run op number `seq`; the record's `ns` covers only its timed part. */
  def op(seq: Int): OpRecord
  /** Ops in one whole pass over the inputs; a loop runs whole passes, so
    * every run holds the same mix. */
  def passOps: Int
  /** Passes a loop runs at least. */
  def minPasses: Int
  /** Recompute every distinct input without any index and compare. */
  def verify(answers: Map[Int, String], timeBaseline: Boolean): Verification
  /** `index_bytes_per_data_byte`. */
  def endToEnd(): Seq[(String, Double)]
  /** Layer counters this workload knows beyond the span metrics. */
  def layerCounters(traced: Seq[OpRecord]): Seq[(String, Double)]
}

final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    workDir: String, traceOut: String)

object Main {
  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** Per-op watchdog: a hung op's jobs are cancelled and it counts failed. */
  val OpTimeoutSec = 60L
  /** Ops per block in a traced run's alternation of untraced and traced. */
  val TraceBlock = 5

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val spark = Session.start(a)
    val sessionReadyMs = System.currentTimeMillis()
    val code =
      try run(spark, a, (sessionReadyMs - jvmStartMs) / 1000.0)
      finally spark.stop()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work-dir"), m.getOrElse("trace-out", ""))
  }

  def workloadFor(spark: SparkSession, a: Args, tracer: Tracer): Workload =
    a.workload match {
      case "lookup" => new LookupWorkload(spark, a.seed, tracer)
      case "text" => new TextWorkload(spark, a.seed, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }

  private def run(spark: SparkSession, a: Args, sessionStartS: Double): Int = {
    val tracer = new Tracer(spark.sparkContext)
    val wl = workloadFor(spark, a, tracer)

    // ---- set-up, several times; the last one's inputs are used
    if (a.trace) tracer.start()
    val setupSecs = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(s"${a.workDir}/setup$r")
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"setup $r: $s%.2f s")
      if (r > 0) Files.deleteRecursively(s"${a.workDir}/setup${r - 1}")
      s
    }
    val w0 = System.nanoTime()
    wl.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    tracer.stop()
    val setupS = sessionStartS + Stats.median(setupSecs) + warmupS
    System.err.println(f"session $sessionStartS%.2f s, warm-up $warmupS%.2f s")
    println("input " + Json.obj(Seq("workload" -> a.workload, "seed" -> a.seed) ++
      wl.fingerprint(sizeFacts = a.trace)))

    // ---- timed loop. A traced run alternates blocks of untraced and
    // traced ops over the same time, so both see the same JVM warmth: the
    // untraced ones are the reference for the tracing overhead.
    val watchdog = Executors.newSingleThreadScheduledExecutor()
    val cpu0 = Proc.cpuTicks()
    try {
      tracer.setPhase("loop")
      val (recs, loopWallS) =
        try loop(spark, wl, a.seconds, watchdog, if (a.trace) Some(tracer) else None)
        finally tracer.stop()
      val ticks = Proc.cpuTicks().zip(cpu0).map { case (x, y) => x - y }
      // the host's share of this machine's CPU time during the loop: latency
      // here rises several times faster than it, so A/B readers need it
      System.err.println(f"loop steal ${ticks(7).toDouble / ticks.sum}%.4f")
      val ops = recs.filterNot(_._2).map(_._1)
      val traced = recs.filter(_._2).map(_._1)

      // ---- correctness: repeats agree, and agree with the no-index path
      val all = ops ++ traced
      val byInput = all.filter(_.ok).groupBy(_.input)
        .map { case (k, v) => k -> v.map(_.answer).distinct }
      val unstable = byInput.collect {
        case (k, as) if as.size > 1 => k -> s"repeats disagree: ${as.take(2).mkString(" vs ")}" }
      val v = wl.verify(byInput.map { case (k, as) => k -> as.head }, timeBaseline = a.trace)
      val bad = (unstable.keySet ++ v.mismatches.map(_._1)).toSet
      val failed = all.count(r => !r.ok || bad.contains(r.input))
      (unstable.toSeq ++ v.mismatches).foreach { case (k, m) =>
        System.err.println(s"MISMATCH input $k: $m") }
      all.filterNot(_.ok).foreach(r => System.err.println(s"FAILED op on input ${r.input}: ${r.answer}"))
      System.err.println(s"checked ${v.checked} distinct inputs, ${v.mismatches.size} mismatches, " +
        s"${all.count(!_.ok)} failed ops")

      val lat = ops.filter(_.ok).map(_.ns / 1e6)
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) {
          require(lat.nonEmpty, "no op completed")
          Seq(
            ("setup_s", setupS, "s"),
            ("ops_per_s", lat.size / (lat.sum / 1e3), "1/s"),
            ("op_p50_ms", Stats.percentile(lat, 50), "ms"),
            ("op_p75_ms", Stats.percentile(lat, 75), "ms")) ++
            wl.endToEnd().map { case (k, x) => (k, x, "ratio") } ++
            Seq(("peak_rss_mb", Proc.peakRssMb(), "MB"))
        } else {
          val tracedLat = traced.filter(_.ok).map(_.ns / 1e6)
          val untracedP50 = Stats.percentile(lat, 50)
          Layers.complete(Layers.metrics(tracer, traced, all) ++
            wl.layerCounters(traced).map { case (k, x) => (k, x, Layers.unitOf(k)) } ++
            Seq(
              ("baseline.full_scan_p50_ms",
                if (v.baselineMs.isEmpty) 0.0 else Stats.median(v.baselineMs), "ms"),
              ("trace.overhead_frac",
                (Stats.percentile(tracedLat, 50) - untracedP50) / untracedP50, "ratio"),
              ("failed_frac", failed.toDouble / all.size, "ratio")))
        }
      System.err.println(s"loop: ${ops.size} ops in ${"%.2f".format(loopWallS)} s" +
        s"${if (a.trace) s", traced loop: ${traced.size} ops" else ""}")
      if (a.trace && a.traceOut.nonEmpty) tracer.writeJsonl(a.traceOut)
      val correct = failed == 0
      println(Json.obj(Seq(
        "correct" -> correct,
        "attempted" -> all.size,
        "failed" -> failed,
        "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (k, x, u) =>
          k -> Map("value" -> x, "unit" -> u) }: _*))))
      if (correct) 0 else 1
    } finally watchdog.shutdownNow()
  }

  /** Closed loop, one client: op after op until `seconds` have passed
    * and the workload's minimum of whole passes has run. Each op runs in its
    * own job group under a watchdog that cancels the group when the op
    * hangs. With a tracer, every other block of `TraceBlock` ops is
    * traced; each record says whether it was. */
  private def loop(
      spark: SparkSession, wl: Workload, seconds: Double,
      watchdog: java.util.concurrent.ScheduledExecutorService,
      tracer: Option[Tracer]): (Seq[(OpRecord, Boolean)], Double) = {
    val sc = spark.sparkContext
    val out = mutable.ArrayBuffer.empty[(OpRecord, Boolean)]
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    var seq = 0
    while (elapsedS < seconds || seq < wl.passOps * wl.minPasses || seq % wl.passOps != 0) {
      val group = s"graftbench-op-$seq"
      sc.setJobGroup(group, group, interruptOnCancel = true)
      val timer = watchdog.schedule(new Runnable {
        def run(): Unit = sc.cancelJobGroup(group)
      }, OpTimeoutSec, TimeUnit.SECONDS)
      val traceThis = tracer.isDefined && (seq / TraceBlock) % 2 == 1
      tracer.foreach { t =>
        if (traceThis) t.start() else t.stop()
        t.setOp(seq)
      }
      val s0 = System.nanoTime()
      val rec =
        try wl.op(seq)
        catch {
          case e: Exception =>
            OpRecord(wl.inputOf(seq), System.nanoTime() - s0,
              s"${e.getClass.getName}: ${e.getMessage}", ok = false)
        } finally {
          timer.cancel(false)
          sc.clearJobGroup()
        }
      out += rec -> traceThis
      seq += 1
    }
    (out.toSeq, elapsedS)
  }
}

object Proc {
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** The machine's cumulative CPU ticks from /proc/stat (user, nice,
    * system, idle, iowait, irq, softirq, steal). */
  def cpuTicks(): Seq[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").slice(1, 9).map(_.toLong).toSeq
    finally src.close()
  }
}

object Files {
  def deleteRecursively(path: String): Unit = {
    val p = new java.io.File(path)
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(f => deleteRecursively(f.getPath)))
    p.delete()
  }
}

object Session {
  /** Spark's width. The machine has 4 vCPUs, the JIT compiler threads
    * keep about one busy during the loop, and an op has a few tasks per
    * stage at most. */
  val Cpus: Int = math.min(2, Runtime.getRuntime.availableProcessors())

  def start(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .appName(s"graftbench-${a.workload}")
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.default.parallelism", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .getOrCreate()
    s
  }
}
