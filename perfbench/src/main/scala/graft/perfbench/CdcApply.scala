package graft.perfbench

import graft.catalog.TableMeta
import graft.streaming.CdcPipeline
import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.collection.mutable
import scala.util.Random

case class SrcMeta(db: String, table: String, ts_ms: Long)
case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String, o_totalprice: Double,
    o_orderdate: java.time.LocalDate, o_orderpriority: String, o_clerk: String, o_comment: String)
case class OrderEnv(op: String, ts_ms: Long, source: SrcMeta, before: Order, after: Order)

/** Orders-shaped change events plus the exact model of the store they
  * must produce: the latest row per key, deleted keys removed. Ops are
  * c/u/d; updates and deletes pick keys Zipf-skewed toward the newest
  * rows, so one key often changes several times within a batch.
  */
final class OrderChanges(seed: Long, baseRows: Int) {
  val CreateShare = 0.25
  val DeleteShare = 0.10
  val ZipfS = 1.1
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(baseRows)(r => 1.0 / math.pow(r + 1, ZipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  val model = mutable.LongMap.empty[Order]
  private var maxKey = 0L
  private var ts = 1700000000000L
  private val words = Array("quick", "final", "ironic", "bold", "pending", "regular", "express",
    "furious", "silent", "even", "blithe", "careful", "special", "unusual", "daring", "idle")
  private val Statuses = Vector("O", "F", "P")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def row(rng: Random, key: Long): Order = Order(key, rng.nextInt(15000) + 1L,
    Statuses(rng.nextInt(Statuses.size)), (rng.nextInt(50000000) + 100) / 100.0,
    java.time.LocalDate.of(1992, 1, 1).plusDays(rng.nextInt(2400).toLong),
    Priorities(rng.nextInt(Priorities.size)),
    f"Clerk#${rng.nextInt(1000)}%09d",
    Seq.fill(3 + rng.nextInt(4))(words(rng.nextInt(words.length))).mkString(" "))

  def base(): Seq[Order] = {
    val rng = new Random(Seeds.sub(seed, "base", 0))
    (1 to baseRows).map { k =>
      val r = row(rng, k.toLong); model(k.toLong) = r; maxKey = k.toLong; r
    }
  }

  def events(n: Int, rng: Random): Array[OrderEnv] = Array.fill(n) {
    ts += 1
    val src = SrcMeta("shop", "orders", ts)
    val u = rng.nextDouble()
    val zipfKey = maxKey - java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble()).abs + 1
    val existing = if (zipfKey >= 1) model.get(zipfKey) else None
    if (u < CreateShare || existing.isEmpty) {
      maxKey += 1
      val r = row(rng, maxKey); model(maxKey) = r
      OrderEnv("c", ts, src, null, r)
    } else if (u < CreateShare + DeleteShare) {
      model.remove(zipfKey)
      OrderEnv("d", ts, src, existing.get, null)
    } else {
      val r = row(rng, zipfKey); model(zipfKey) = r
      OrderEnv("u", ts, src, existing.get, r)
    }
  }

  def modelDigest: (Long, String) =
    CdcApply.digest(model.valuesIterator.map(CdcApply.canonical).toSeq)
}

/** Structured Streaming progress, observed from outside the pipeline.
  * A batch's changes are visible once its progress event arrives: the
  * event is posted after `foreachBatch` (the merge and its manifest
  * commit) and the offset commit have finished.
  */
final class StreamProgress extends StreamingQueryListener {
  final case class P(batchId: Long, rows: Long, endOffset: Long, dur: Map[String, Long],
      recvNs: Long)
  private val buf = mutable.ArrayBuffer.empty[P]
  @volatile var onData: P => Unit = _ => ()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val pr = e.progress
    val end = pr.sources.headOption.flatMap(s => Option(s.endOffset))
      .map(_.filter(_.isDigit)).filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)
    import scala.jdk.CollectionConverters._
    val p = P(pr.batchId, pr.numInputRows, end,
      pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, now)
    synchronized { buf += p; notifyAll() }
    if (p.rows > 0) onData(p)
  }

  def all: Seq[P] = synchronized(buf.toList)
  def maxEnd: Long = synchronized(if (buf.isEmpty) -1L else buf.map(_.endOffset).max)
  def visibleAt(offset: Long): Option[Long] =
    synchronized(buf.find(_.endOffset >= offset).map(_.recvNs))

  /** Wait until the stream has committed `offset`; false on timeout. */
  def await(offset: Long, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (maxEnd < offset && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    maxEnd >= offset
  }
}

/** cdc_apply: the write path. Open-loop change events into a
  * MemoryStream, applied by `CdcPipeline` to an upsert store seeded by
  * `CdcPipeline.bootstrap`; the batch job is a catch-up backlog.
  */
final class CdcApply(seed: Long) extends Workload {
  // catch-up repetitions take ~1 s: three warm the merge path before the
  // timed ones, and the open loop gets the rest of the run
  override val onlineShare = 0.75
  override val warmupJobReps = 3
  val BaseRows = 8000
  val Buckets = 8
  val Rate = 100.0
  // A processing-time trigger, as CdcPipeline.start uses by default
  // (1 s). Spark fires it at wall-clock multiples of the interval, so an
  // event waits for the next boundary and then for its batch. A batch
  // takes ~0.8 s here whatever its size; 1.5 s keeps batches inside the
  // interval, so one slow batch does not delay the next.
  val TriggerMs = 1500L
  val WarmupBatches = 1
  val WarmupEvents = 100
  val Backlog = 4000
  val DrainTimeoutMs = 30000L
  // Events due before a trigger boundary are handed to the stream this
  // long before it, in one call: a MemoryStream makes one input
  // partition per call, and a log source such as Kafka reads one offset
  // range per topic partition per batch. Set-up and catch-up data go in
  // at the same point, so their timings hold no idle wait for a trigger.
  val LeadNs = 30000000L

  private var gen: OrderChanges = _
  private var pipe: CdcPipeline = _
  private var stream: MemoryStream[OrderEnv] = _
  private var query: StreamingQuery = _
  private var progress: StreamProgress = _
  private var tablePath: Path = _
  private var windows = 0
  // per addData call: (offset, event keys), for the collapse ratio
  private val calls = mutable.LongMap.empty[Array[Long]]
  // traced-window layer samples
  private val touchedFrac = mutable.ArrayBuffer.empty[Double]
  private val filesPerCommit = mutable.ArrayBuffer.empty[Double]
  private var tracedBatches: Seq[StreamProgress#P] = Nil
  private var tracedFirstOffset = 0L
  private val catchupBatches = mutable.ArrayBuffer.empty[StreamProgress#P]
  private var lagMs: Seq[Double] = Nil
  private var backlogEnd = 0L
  private var backlogDrained = 0L
  private var keptUp = 0.0
  private var onlineEvents = 0L
  private var onlineCounters: Map[String, Double] = Map.empty
  private var transformMs: Seq[Double] = Nil
  private val bootstrapMs = mutable.ArrayBuffer.empty[Double]

  def setup(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val t0 = Clock.now()
    gen = new OrderChanges(seed, BaseRows)
    val base = gen.base()
    val warmRng = new Random(Seeds.sub(seed, "warmup", 0))
    val warm = Seq.fill(WarmupBatches)(gen.events(WarmupEvents, warmRng))
    val t1 = Clock.now()
    val dir = ctx.scratch("cdc")
    tablePath = dir.resolve("table")
    pipe = new CdcPipeline(spark, TableMeta("orders", Seq("o_orderkey")),
      tablePath.toString, dir.resolve("checkpoint").toString, numBuckets = Buckets)
    pipe.bootstrap(base.toDF())
    val t2 = Clock.now()
    bootstrapMs += Clock.ms(t1, t2)
    progress = new StreamProgress
    spark.streams.addListener(progress)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    stream = MemoryStream[OrderEnv]
    calls.clear()
    query = pipe.start(stream.toDF(), Trigger.ProcessingTime(TriggerMs))
    val t3 = Clock.now()
    val warmS = warm.map { evs =>
      val t = beforeTrigger()
      val off = add(evs)
      require(progress.await(off, DrainTimeoutMs), s"warm-up batch $off not applied")
      Clock.s(t, Clock.now())
    }.sum
    Map("generate_s" -> Clock.s(t0, t1), "bootstrap_s" -> Clock.s(t1, t2),
      "stream_start_s" -> Clock.s(t2, t3), "warmup_s" -> warmS)
  }

  /** The next trigger boundary (wall-clock ms), as a `Clock` time. */
  private def nextTriggerNs(): Long = {
    val (ms, ns) = (System.currentTimeMillis(), Clock.now())
    ns + (ms / TriggerMs * TriggerMs + TriggerMs - ms) * 1000000L
  }

  /** Sleep until `LeadNs` before the next trigger boundary; returns the time. */
  private def beforeTrigger(): Long = {
    var at = nextTriggerNs() - LeadNs
    if (at < Clock.now() + 1000000L) at += TriggerMs * 1000000L
    while (Clock.now() < at) LockSupport.parkNanos(at - Clock.now())
    Clock.now()
  }

  private def add(evs: Array[OrderEnv]): Long = {
    val off = stream.addData(evs.toSeq).toString.filter(_.isDigit).toLong
    calls(off) = evs.map(e => if (e.after != null) e.after.o_orderkey else e.before.o_orderkey)
    off
  }

  def teardown(ctx: Ctx): Unit = if (query != null) {
    query.stop()
    ctx.spark.streams.removeListener(progress)
    query = null
  }

  def online(ctx: Ctx, seconds: Double, minSamples: Int): Online = {
    // whole trigger intervals, so every window sees the same spread of
    // waits for the next boundary
    val perTrigger = math.round(Rate * TriggerMs / 1000.0).toInt
    val intervals = Seq(1.0, math.ceil(minSamples.toDouble / perTrigger),
      math.floor(seconds * 1000 / TriggerMs)).max.toInt
    val n = intervals * perTrigger
    val evs = gen.events(n, new Random(Seeds.sub(seed, "online", windows)))
    windows += 1
    val interval = 1e9 / Rate
    val traced = ctx.traced
    val before = ctx.snapshot()
    val firstOffset = progress.maxEnd + 1
    if (traced) progress.onData = p => observeBatch(ctx, p)
    val adds = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)] // from, until, addNs, offset
    // due times fill whole intervals ending at the hand-over points
    val t0 = beforeTrigger()
    def due(i: Int): Long = t0 + (i * interval).toLong
    def handOver(j: Int): Long = t0 + j * TriggerMs * 1000000L
    var committedAtEnd = -1L
    val lags = mutable.ArrayBuffer.empty[Double]
    ctx.tracer.span("streaming.online_window") {
      (1 to intervals).foreach { j =>
        while (Clock.now() < handOver(j)) LockSupport.parkNanos(handOver(j) - Clock.now())
        lags += Clock.ms(handOver(j), Clock.now())
        if (j == intervals) committedAtEnd = progress.maxEnd
        val (from, until) = ((j - 1) * perTrigger, j * perTrigger)
        val off = ctx.tracer.span("gen.add_data")(add(evs.slice(from, until)))
        adds += ((from, until, Clock.now(), off))
      }
      progress.await(adds.last._4, DrainTimeoutMs)
    }
    progress.onData = _ => ()
    val lat = mutable.ArrayBuffer.empty[Double]
    val visibleAt = mutable.ArrayBuffer.empty[Long]
    val windowNs = due(n - 1) - t0
    adds.foreach { case (from, until, addNs, off) =>
      val vis = progress.visibleAt(off)
      (from until until).foreach { i =>
        vis match {
          case Some(v) => lat += Clock.ms(due(i), v); visibleAt += v
          case None => lat += math.max(windowNs, Clock.now() - due(i)) / 1e6
        }
      }
    }
    val visible = visibleAt.size.toLong
    ctx.ledger.count(n, n - visible, "cdc_apply.event",
      s"${n - visible} of $n events not visible after ${DrainTimeoutMs} ms")
    val batches = progress.all.filter(p => p.rows > 0 && p.endOffset >= firstOffset)
    // Backlog at the window's last due time (the last hand-over): events
    // handed to the stream at earlier hand-overs and not yet committed.
    // A pipeline that keeps up has committed them all, and none of its
    // batches overran the interval (Spark's "falling behind" condition).
    val backlog = adds.init.collect { case (from, until, _, off) if off > committedAtEnd => until - from }.sum
    val slowest = if (batches.isEmpty) 0L else batches.map(_.dur.getOrElse("triggerExecution", 0L)).max
    val kept = slowest <= TriggerMs && backlog == 0
    ctx.ledger.note(s"cdc_apply.kept_up (window $windows)", kept,
      s"backlog $backlog events at the last due time, slowest batch $slowest ms, interval $TriggerMs ms")
    if (traced) {
      onlineCounters = Counters.diff(before, ctx.snapshot())
      tracedBatches = batches
      tracedFirstOffset = firstOffset
      lagMs = lags.toSeq
      backlogEnd = backlog
      backlogDrained = n - visible
      keptUp = if (kept) 1.0 else 0.0
      onlineEvents = n
      transformMs = envelopePlanMs(ctx, evs.take(200))
    }
    System.err.println(s"[perfbench] cdc window $windows: batches (offsets, trigger ms, addBatch ms) " +
      batches.map(p => s"(${p.endOffset},${p.dur.getOrElse("triggerExecution", 0L)},${p.dur.getOrElse("addBatch", 0L)})").mkString(" "))
    checkStore(ctx, s"after online window $windows")
    // applied events per second between the window's first and last batch
    // commits: events made visible after the first commit, over that span
    if (visibleAt.size < 2) Online(lat.toSeq, visible, windowNs / 1e9)
    else {
      val (first, last) = (visibleAt.min, visibleAt.max)
      Online(lat.toSeq, visibleAt.count(_ > first).toLong, Clock.s(first, last))
    }
  }

  /** Time `CdcPipeline.transformBatch` plan construction on one batch. */
  private def envelopePlanMs(ctx: Ctx, sample: Array[OrderEnv]): Seq[Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val df = sample.toSeq.toDF().withColumn("__seq", monotonically_increasing_id())
    (0 until 20).map { _ =>
      val t0 = Clock.now()
      ctx.tracer.span("envelope.transform_batch")(pipe.transformBatch(df))
      Clock.ms(t0, Clock.now())
    }
  }

  /** Traced runs: per-batch spans and the commit's layout from `_manifest`. */
  private def observeBatch(ctx: Ctx, p: StreamProgress#P): Unit = {
    val trig = p.dur.getOrElse("triggerExecution", 0L) * 1000000L
    val add = p.dur.getOrElse("addBatch", 0L) * 1000000L
    val commit = p.dur.getOrElse("commitOffsets", 0L) * 1000000L
    val parent = ctx.tracer.add("streaming.trigger", 0, p.recvNs - trig, p.recvNs)
    ctx.tracer.add("upsert.merge", parent, p.recvNs - commit - add, p.recvNs - commit)
    try {
      val (version, buckets) = CdcApply.latestManifest(tablePath)
      val epoch = f"data/e$version%05d"
      touchedFrac += buckets.count(_.startsWith(epoch)).toDouble / Buckets
      val files = Files.walk(tablePath.resolve(epoch))
      try filesPerCommit += files.filter(_.toString.endsWith(".parquet")).count().toDouble
      finally files.close()
    } catch { case _: java.io.IOException => () }
  }

  def jobRep(ctx: Ctx, rep: Int): Double = {
    val evs = gen.events(Backlog, new Random(Seeds.sub(seed, "catchup", rep)))
    val t0 = beforeTrigger()
    val off = ctx.measure("streaming.catch_up") {
      val off = add(evs)
      if (!progress.await(off, DrainTimeoutMs))
        ctx.ledger.fail("cdc_apply.catch_up", new IllegalStateException(
          s"backlog of $Backlog events not applied within $DrainTimeoutMs ms"))
      off
    }
    val t = Clock.s(t0, Clock.now())
    if (ctx.traced) catchupBatches ++= progress.all.filter(p => p.rows > 0 && p.endOffset == off)
    t
  }

  private def checkStore(ctx: Ctx, when: String): Unit = {
    val df = pipe.table.read()
    val stored = df.select(concat_ws("|", df.columns.toIndexedSeq.map(c => col(c).cast("string")): _*))
      .collect().map(_.getString(0)).toSeq
    val got = CdcApply.digest(stored)
    val want = gen.modelDigest
    ctx.ledger.gate(s"cdc_apply.store_equals_model ($when)", got == want,
      s"store rows/digest ${got._1}/${got._2}, model ${want._1}/${want._2}")
  }

  def finish(ctx: Ctx): Unit = checkStore(ctx, "after catch-up")

  val unreached = Seq("upsert.lookup_", "sources.", "snapshot.", "validation.", "dedup.", "similarity.",
    "self_ms.sources", "self_ms.snapshot", "self_ms.validation", "self_ms.dedup", "self_ms.similarity")

  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    def p50(k: String) = Stats.medianOr0(tracedBatches.map(_.dur.getOrElse(k, 0L).toDouble))
    def both(ks: String*) = Stats.medianOr0(tracedBatches.map(p => ks.map(p.dur.getOrElse(_, 0L)).sum.toDouble))
    val windowMs = ctx.tracer.durations("streaming.online_window").lastOption.getOrElse(1.0)
    // distinct keys per batch over events per batch: offsets (prev end, end]
    // form a batch; the window's first batch starts at its first offset
    val ends = tracedBatches.map(_.endOffset).sorted
    val batchKeys = ends.zip((tracedFirstOffset - 1) +: ends.init).map { case (e, s) =>
      ((s + 1) to e).flatMap(o => calls.getOrElse(o, Array.empty[Long]))
    }
    val keys = batchKeys.map(_.distinct.size.toLong).sum
    val events = batchKeys.map(_.size.toLong).sum
    Map(
      "gen.lag_ms_p90" -> Stats.quantile(lagMs, 0.9),
      "gen.backlog_events_end" -> backlogEnd.toDouble,
      "gen.backlog_events_drained" -> backlogDrained.toDouble,
      "gen.kept_up" -> keptUp,
      "streaming.batches" -> tracedBatches.size.toDouble,
      "streaming.events_per_batch_p50" -> Stats.medianOr0(batchKeys.map(_.size.toDouble)),
      "streaming.trigger_ms_p50" -> p50("triggerExecution"),
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.query_planning_ms_p50" -> p50("queryPlanning"),
      "streaming.source_fetch_ms_p50" -> both("latestOffset", "getBatch"),
      "streaming.offset_commit_ms_p50" -> both("walCommit", "commitOffsets"),
      "streaming.busy_frac" -> tracedBatches.map(_.dur.getOrElse("triggerExecution", 0L)).sum / windowMs,
      "envelope.transform_plan_ms_p50" -> Stats.medianOr0(transformMs),
      "cdcmerge.keys_per_event" -> (if (events == 0) 0.0 else keys.toDouble / events),
      "cdcmerge.broadcast_antijoin_frac" -> (if (onlineCounters.getOrElse("antijoins", 0.0) == 0) 0.0
        else onlineCounters("antijoins_broadcast") / onlineCounters("antijoins")),
      "upsert.merge_ms_p50" -> Stats.medianOr0(catchupBatches.map(_.dur.getOrElse("addBatch", 0L).toDouble).toSeq),
      "upsert.buckets_touched_frac" -> Stats.medianOr0(touchedFrac.toSeq),
      "upsert.rows_rewritten_per_event" -> onlineCounters.getOrElse("output_records", 0.0) / math.max(1L, onlineEvents),
      "upsert.bytes_written_per_event" -> onlineCounters.getOrElse("output_bytes", 0.0) / math.max(1L, onlineEvents),
      "upsert.files_per_commit" -> Stats.medianOr0(filesPerCommit.toSeq),
      "upsert.seed_ms" -> Stats.medianOr0(bootstrapMs.toSeq))
  }
}

object CdcApply {
  def canonical(o: Order): String = Seq(o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
    o.o_orderdate, o.o_orderpriority, o.o_clerk, o.o_comment).mkString("|")

  /** Order-independent digest of a row set: (rows, sha-256 of the sorted rows). */
  def digest(rows: Seq[String]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.size.toLong, md.digest().map(b => f"$b%02x").mkString.take(16))
  }

  /** The latest committed manifest of an upsert store: version and bucket dirs. */
  def latestManifest(table: Path): (Int, Seq[String]) = {
    import org.json4s._
    val dir = table.resolve("_manifest")
    val s = Files.list(dir)
    val latest = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .maxBy(_.stripPrefix("v").stripSuffix(".json").toInt)
    } finally s.close()
    val j = org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(dir.resolve(latest)), "UTF-8"))
    val buckets = (j \ "buckets") match {
      case JObject(fs) => fs.collect { case (_, JString(rel)) => rel }
      case _ => Nil
    }
    (latest.stripPrefix("v").stripSuffix(".json").toInt, buckets)
  }
}
