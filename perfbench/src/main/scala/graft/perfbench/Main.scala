package graft.perfbench

import graft.GraftSession
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What a workload needs from the harness: the session, fresh scratch
  * dirs, the ledger and the tracer.
  */
final class Ctx(val args: Args) {
  val ledger = new Ledger
  val tracer = new Tracer(false)
  val cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors) - 1)
  private var session: SparkSession = _
  private var counters: Option[Counters] = None
  private var dirs = 0

  def spark: SparkSession = session

  def startSession(): Unit = {
    val b = GraftSession.builder(s"local[$cores]")
      .config("spark.local.dir", args.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.workDir.resolve("warehouse").toString)
    if (args.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    session = b.getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
  }

  def stopSession(): Unit = {
    tracing(false)
    counters = None
    session.stop()
    session = null
  }

  /** A fresh, empty scratch dir under the run's work dir. */
  def scratch(tag: String): Path = synchronized {
    dirs += 1
    val p = args.workDir.resolve(f"data/$dirs%03d-$tag")
    Files2.deleteTree(p)
    Files.createDirectories(p)
    p
  }

  def traced: Boolean = tracer.enabled

  /** Turn spans and engine counters on or off; counter totals persist. */
  def tracing(on: Boolean): Unit = if (on != traced) {
    if (on) {
      val c = counters.getOrElse(new Counters(session))
      c.install()
      counters = Some(c)
    } else counters.foreach(_.uninstall())
    tracer.enabled = on
  }

  def snapshot(): Map[String, Double] = counters.map(_.snapshot()).getOrElse(Map.empty)

  /** Counter deltas of each measured call, by span name (traced runs). */
  val spanCounters = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Double]]]

  /** Run `body` inside a span; on traced runs also keep its counter delta. */
  def measure[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val before = snapshot()
      val r = tracer.span(name)(body)
      val d = Counters.diff(before, snapshot())
      spanCounters.synchronized(spanCounters.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += d)
      r
    }

  /** Median over the calls named `name` of one counter delta. */
  def spanMedian(name: String, counter: String): Double =
    Stats.medianOr0(spanCounters.getOrElse(name, Nil).map(_.getOrElse(counter, 0.0)).toSeq)
}

/** One online window: per-operation latency samples (a failed operation
  * contributes the time until it failed, at least the window length) and
  * the number of operations completed within the same wall-clock window.
  */
final case class Online(latMs: Seq[Double], completed: Long, windowS: Double)

trait Workload {
  /** Share of `--seconds` given to the online window; the job gets the rest. */
  val onlineShare: Double = 0.55
  /** Untimed job repetitions before the timed ones. */
  val warmupJobReps: Int = 2
  /** One full set-up in the current session; returns its phase split (s). */
  def setup(ctx: Ctx): Map[String, Double]
  /** Stop whatever set-up started, before the session is stopped. */
  def teardown(ctx: Ctx): Unit
  /** One online window of at least `seconds` and `minSamples` operations. */
  def online(ctx: Ctx, seconds: Double, minSamples: Int): Online
  /** One repetition of the batch job on fresh inputs; its timed wall seconds. */
  def jobRep(ctx: Ctx, rep: Int): Double
  /** End-of-run correctness gates. */
  def finish(ctx: Ctx): Unit
  /** This workload's per-layer metrics (traced runs). */
  def layerMetrics(ctx: Ctx): Map[String, Double]
  /** Name prefixes of the per-layer metrics of layers this workload does
    * not reach; a traced run reports them as 0. Any other metric the run
    * did not produce fails the run. */
  def unreached: Seq[String]
}

object Main {
  val SetupReps = 3
  val MinJobReps = 3
  val MaxJobReps = 12
  /** Closed loops run past their window until they have this many samples. */
  val MinSamples = 100
  /** An untimed online window just before the timed one: latencies still
    * drift down by 10–15 % across a window that follows the job directly. */
  val OnlineWarmupS = 1.0

  def workload(name: String, seed: Long): Workload = name match {
    case "cdc_apply" => new CdcApply(seed)
    case "snapshot_validate" => new SnapshotValidate(seed)
    case "dedup_corpus" => new DedupCorpus(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val ctx = new Ctx(args)
    val w = workload(args.workload, args.seed)
    val code = try run(ctx, w) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  private def run(ctx: Ctx, w: Workload): Int = {
    val args = ctx.args
    // set-up: repeated in fresh sessions; the median is reported
    val setups = (0 until SetupReps).map { i =>
      if (i > 0) { w.teardown(ctx); ctx.stopSession() }
      val t0 = Clock.now()
      ctx.startSession()
      val session = Clock.s(t0, Clock.now())
      val split = w.setup(ctx) + ("session_s" -> session)
      split + ("total_s" -> Clock.s(t0, Clock.now()))
    }
    def setupMedian(k: String) = Stats.median(setups.map(_.getOrElse(k, 0.0)))

    val onlineS = args.seconds * w.onlineShare
    val jobS = args.seconds - onlineS
    // The batch job runs before the online window: its repetitions carry
    // the JIT further, and online latencies drift most while it warms. Its
    // first repetitions are untimed: right after set-up the job's own code
    // paths are cold and the first repetition runs ~30 % slower.
    def job(rep: Int): Double = {
      val t0 = Clock.now()
      ctx.ledger.attempt(s"${args.workload}.job")(w.jobRep(ctx, rep)).getOrElse {
        ctx.ledger.gate(s"${args.workload}.job repetition $rep completed", ok = false, "it failed")
        Clock.s(t0, Clock.now())
      }
    }
    (0 until w.warmupJobReps).foreach(job)
    val jobTimes = mutable.ArrayBuffer.empty[Double]
    ctx.tracing(args.trace)
    val s0 = ctx.snapshot()
    val jobStart = Clock.now()
    while (jobTimes.size < MinJobReps ||
        (jobTimes.size < MaxJobReps && Clock.s(jobStart, Clock.now()) < jobS))
      jobTimes += job(w.warmupJobReps + jobTimes.size)
    val s1 = ctx.snapshot()
    // An untimed warm-up window, then the timed one. A traced run first
    // runs an untraced window of the same length, so the tracing overhead
    // is a same-run difference.
    ctx.tracing(false)
    w.online(ctx, OnlineWarmupS, minSamples = 0)
    val baseline = if (args.trace) Some(w.online(ctx, onlineS, MinSamples)) else None
    ctx.tracing(args.trace)
    val s1b = ctx.snapshot()
    val online = w.online(ctx, onlineS, MinSamples)
    val s2 = ctx.snapshot()
    val heap = Counters.liveHeapMb()
    w.finish(ctx)

    val p50 = Stats.quantile(online.latMs, 0.5)
    val endToEnd = Seq(
      "setup_s" -> (setupMedian("total_s"), "s"),
      "latency_ms_p50" -> (p50, "ms"),
      "latency_ms_p90" -> (Stats.quantile(online.latMs, 0.9), "ms"),
      "throughput_per_s" -> (online.completed / online.windowS, "1/s"),
      "job_s" -> (Stats.median(jobTimes.toSeq), "s"),
      "live_heap_mb" -> (heap, "MB"))
    System.err.println(f"[perfbench] ${args.workload} seed=${args.seed} samples=${online.latMs.size}" +
      f" uptime=${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f" +
      f" jobs=${jobTimes.size} setups=${setups.map(_.toSeq.sorted.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")).mkString("; ")}" +
      f" job=${jobTimes.map(t => f"$t%.2f").mkString(",")}")

    val metrics: Seq[(String, (Double, String))] =
      if (!args.trace) endToEnd
      else {
        val jobD = Counters.diff(s0, s1)
        val onlineD = Counters.diff(s1b, s2)
        val both = (jobD.keySet ++ onlineD.keySet).map(k => k -> (jobD(k) + onlineD(k))).toMap
          .withDefaultValue(0.0)
        val ops = math.max(1L, online.latMs.size).toDouble
        val engine = Map(
          "spark.jobs" -> both("jobs"), "spark.stages" -> both("stages"),
          "spark.tasks" -> both("tasks"), "spark.executor_run_ms" -> both("executor_run_ms"),
          "spark.executor_cpu_ms" -> both("executor_cpu_ms"),
          "spark.shuffle_write_bytes" -> both("shuffle_write_bytes"),
          "spark.shuffle_read_bytes" -> both("shuffle_read_bytes"),
          "spark.planning_ms" -> both("planning_ms"),
          "spark.planning_frac" -> (if (both("query_ms") > 0) both("planning_ms") / both("query_ms") else 0.0),
          "spark.jobs_per_op" -> onlineD("jobs") / ops,
          "spark.tasks_per_op" -> onlineD("tasks") / ops,
          "fs.read_ops" -> (both("fs_opens") + both("fs_stats")), "fs.list_ops" -> both("fs_lists"),
          "fs.write_ops" -> both("fs_writes"), "fs.bytes_written" -> both("fs.bytesWritten"),
          "jvm.gc_ms" -> both("gc_ms"), "jvm.gc_count" -> both("gc_count"))
        val layers = ctx.tracer.selfMsByLayer.map { case (l, ms) => s"self_ms.$l" -> ms }
        val setupSplit = setups.head.keySet.filter(_ != "total_s").map(k => s"setup.$k" -> setupMedian(k)).toMap
        val overhead = baseline.map(b => 100.0 * (p50 / Stats.quantile(b.latMs, 0.5) - 1.0))
        val all = engine ++ layers ++ setupSplit ++ w.layerMetrics(ctx) ++ Map(
          "trace.overhead_pct" -> overhead.getOrElse(0.0),
          "trace.spans" -> ctx.tracer.all.size.toDouble)
        ctx.tracer.dump(args.outDir.resolve(s"trace-${args.workload}-${args.seed}.json"), Seq(
          "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
          "job_phase_counters" -> Json.obj(jobD.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })))
        val declared = args.perLayer.map(_._1).toSet
        def skipped(name: String) = w.unreached.exists(name.startsWith)
        val unknown = all.keySet -- declared
        val missing = declared -- all.keySet
        require(unknown.isEmpty, s"per-layer metrics not declared in BENCHMARK.json: ${unknown.toSeq.sorted}")
        require(missing.forall(skipped), s"per-layer metrics not produced: ${missing.filterNot(skipped).toSeq.sorted}")
        require(!all.keySet.exists(skipped),
          s"metrics declared unreached but produced: ${all.keySet.filter(skipped).toSeq.sorted}")
        args.perLayer.map { case (name, unit) => name -> (all.getOrElse(name, 0.0), unit) }
      }

    val correct = ctx.ledger.correct
    val result = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ctx.ledger.attempted.toString,
      "failed" -> ctx.ledger.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    Files2.write(args.outDir.resolve(s"ledger-${args.workload}-${args.seed}-${if (args.trace) 1 else 0}.json"),
      Json.obj(Seq(
        "gates" -> Json.arr(ctx.ledger.gates.toSeq.map(g => Json.obj(Seq(
          "name" -> Json.str(g.name), "ok" -> g.ok.toString, "detail" -> Json.str(g.detail))))),
        "checks" -> Json.arr(ctx.ledger.notes.toSeq.map(g => Json.obj(Seq(
          "name" -> Json.str(g.name), "ok" -> g.ok.toString, "detail" -> Json.str(g.detail))))),
        "failures" -> Json.arr(ctx.ledger.failures.toSeq.map(f => Json.obj(Seq(
          "op" -> Json.str(f.op), "class" -> Json.str(f.cls), "message" -> Json.str(f.message))))))) + "\n")
    Files2.write(args.outDir.resolve(s"samples-${args.workload}-${args.seed}-${if (args.trace) 1 else 0}.json"),
      Json.obj(Seq(
        "latency_ms" -> Json.arr(online.latMs.map(Json.num)),
        "job_s" -> Json.arr(jobTimes.toSeq.map(Json.num)),
        "setup_s" -> Json.arr(setups.map(s => Json.num(s("total_s")))))) + "\n")
    w.teardown(ctx)
    ctx.stopSession()
    println(result)
    if (correct) 0 else 3
  }
}
