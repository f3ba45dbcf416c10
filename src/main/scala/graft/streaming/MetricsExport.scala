package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Prometheus-style export of the engine's streaming signals — the
  * name/label-shape parity layer for the reference's JMX exporter
  * mapping (reference: metrics.yaml:5-40, which rewrites
  * connector-metrics / source-task / sink-task / task-status /
  * worker / producer MBeans into lowercase gauges with
  * server/connector/task labels).
  *
  * Spark has its own metrics sink system for infrastructure metrics;
  * what users of the reference actually dashboard is this NAME SHAPE:
  * `<ns>_connector_<context>_<metric>{server=…}` and
  * `kafka_connect_*_task_<metric>{connector=…,task=…}` analogs. This
  * object renders the engine's own signals (StreamingQueryProgress,
  * [[StreamMonitor.HeartbeatListener]] lag, [[CdcTableMeta]]-level
  * counters) into that shape as Prometheus text exposition — a PURE
  * function of its inputs: no server, no registry, no background
  * thread. Callers scrape-render on demand (e.g. in a foreachBatch or
  * a driver endpoint they already own).
  */
object MetricsExport {

  final case class Gauge(name: String, labels: Seq[(String, String)], value: Double)

  /** Prometheus name charset: lowercase, [a-z0-9_], like the
    * reference's `lowercaseOutputName` + its hyphen-to-underscore
    * attribute rewriting (record-send-rate → record_send_rate).
    */
  def sanitize(s: String): String = {
    // Locale.ROOT: default-locale lowercasing mangles names on
    // Turkish-type locales ('I' → dotless 'ı', failing the a-z test)
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    val sb = new StringBuilder(lower.length)
    var i = 0
    while (i < lower.length) {
      val c = lower.charAt(i)
      sb.append(if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) c else '_')
      i += 1
    }
    // Prometheus names must not START with a digit
    // ([a-zA-Z_:][a-zA-Z0-9_:]*) — one bad name fails the whole scrape
    if (sb.nonEmpty && sb.charAt(0) >= '0' && sb.charAt(0) <= '9') "_" + sb
    else sb.toString
  }

  private def escapeLabel(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  /** One exposition line: `name{k="v",…} value`. Values render like
    * Prometheus text format: integral doubles without exponent noise.
    */
  def renderLine(g: Gauge): String = {
    val ls =
      if (g.labels.isEmpty) ""
      else g.labels.map { case (k, v) => s"""${sanitize(k)}="${escapeLabel(v)}"""" }
        .mkString("{", ",", "}")
    val v =
      if (g.value.isNaN) "NaN"
      else if (g.value.isInfinity) { if (g.value > 0) "+Inf" else "-Inf" }
      else if (g.value == math.rint(g.value) && math.abs(g.value) < 1e15) g.value.toLong.toString
      else g.value.toString
    s"${sanitize(g.name)}$ls $v"
  }

  /** Full scrape body, one gauge per line, trailing newline — the text
    * a /metrics endpoint would serve.
    */
  def render(gauges: Seq[Gauge]): String =
    gauges.map(renderLine).mkString("", "\n", "\n")

  /** metrics.yaml rule 1 analog — connector metrics with a
    * snapshot/streaming context and a server label:
    * `debezium_$plugin_$context_$metric{server=…}` becomes
    * `<ns>_<plugin>_<context>_<metric>{server=…}`.
    */
  def connectorGauge(ns: String, plugin: String, context: String,
      metric: String, server: String, value: Double): Gauge =
    Gauge(s"${sanitize(ns)}_${sanitize(plugin)}_${sanitize(context)}_${sanitize(metric)}",
      Seq("server" -> server), value)

  /** metrics.yaml source/sink-task rule analogs:
    * `kafka_connect_source_task_<metric>{connector=…,task=…}`.
    */
  def taskGauge(kind: String, metric: String, connector: String, task: Int,
      value: Double): Gauge =
    Gauge(s"kafka_connect_${sanitize(kind)}_task_${sanitize(metric)}",
      Seq("connector" -> connector, "task" -> task.toString), value)

  /** metrics.yaml connector-task-metrics rule analog (status,
    * pause-ratio, offset-commit stats): `kafka_connect_task_<metric>`.
    */
  def taskStatusGauge(metric: String, connector: String, task: Int,
      value: Double): Gauge =
    Gauge(s"kafka_connect_task_${sanitize(metric)}",
      Seq("connector" -> connector, "task" -> task.toString), value)

  /** The reference's task-status gauge renders RUNNING/PAUSED/FAILED as
    * a numeric gauge; same encoding here so dashboards can threshold.
    */
  def statusValue(status: String): Double =
    status.toUpperCase(java.util.Locale.ROOT) match {
    case "RUNNING" => 1.0
    case "PAUSED" => 0.5
    case _ => 0.0
  }

  /** Engine-signal snapshot for one CDC pipeline "task" — the analog of
    * one Kafka-Connect source task + its Debezium connector context.
    * Pure data so the golden spec can pin the rendered text exactly.
    */
  final case class PipelineSnapshot(
      ns: String, // namespace, e.g. "graft"
      server: String, // logical server/topic-prefix (reference `server` label)
      connector: String, // pipeline name
      task: Int,
      context: String, // "snapshot" while bootstrapping, then "streaming"
      status: String, // RUNNING / PAUSED / FAILED
      totalEvents: Long, // connector-context event counter
      eventsPerSecond: Double, // current rate (processedRowsPerSecond)
      lagSeconds: Double, // freshness lag (HeartbeatListener / lagMetric)
      batchDurationMs: Double, // last micro-batch wall
      // checkpoint-commit analog of offset-commit-success-percentage;
      // NaN = "not tracked" → the gauge is OMITTED from the scrape
      // (a fabricated constant would blind reference dashboards that
      // threshold on commit failures — r12 ADVICE)
      commitSuccessPct: Double,
      commitAvgTimeMs: Double) // offset-commit-avg-time-ms analog

  /** All gauges for one pipeline snapshot, in the reference mapping's
    * rule order (connector context first, then source-task, then
    * task-status/offset-commit).
    */
  def gaugesFor(s: PipelineSnapshot): Seq[Gauge] = Seq(
    connectorGauge(s.ns, "cdc", s.context, "total-events", s.server, s.totalEvents.toDouble),
    connectorGauge(s.ns, "cdc", s.context, "events-per-second", s.server, s.eventsPerSecond),
    connectorGauge(s.ns, "cdc", s.context, "lag-seconds", s.server, s.lagSeconds),
    taskGauge("source", "source-record-write-rate", s.connector, s.task, s.eventsPerSecond),
    taskGauge("source", "poll-batch-avg-time-ms", s.connector, s.task, s.batchDurationMs),
    taskStatusGauge("status", s.connector, s.task, statusValue(s.status))) ++
    // NaN commitSuccessPct = caller doesn't track commit outcomes:
    // omit the gauge (an absent series reads as "not instrumented" on
    // a reference dashboard; a constant 100 reads as "always healthy")
    (if (s.commitSuccessPct.isNaN) Seq.empty else Seq(
      taskStatusGauge("offset-commit-success-percentage", s.connector, s.task, s.commitSuccessPct))) ++
    Seq(taskStatusGauge("offset-commit-avg-time-ms", s.connector, s.task, s.commitAvgTimeMs))

  /** Live adapter: a snapshot from a running query's last progress.
    * `totalEvents` is REQUIRED (a cumulative counter the caller
    * tracks, e.g. summed numInputRows across batches) — defaulting it
    * to the last batch's numInputRows would render a sawtooth as the
    * *_total_events gauge and poison every dashboard rate() over it.
    * `context` is "snapshot" until the bootstrap completes — callers
    * that track bootstrap state pass it explicitly.
    * `commitSuccessPct` is caller-tracked like totalEvents (progress
    * objects only exist for batches that ran; commit FAILURES surface
    * as query exceptions the caller observes) — left at the NaN
    * default, the offset-commit-success gauge is omitted from the
    * scrape rather than hardcoded to a constant 100 that would blind
    * dashboards thresholding on commit failures (r12 ADVICE).
    */
  def fromProgress(ns: String, server: String, connector: String, task: Int,
      p: StreamingQueryProgress, totalEvents: Long,
      status: String = "RUNNING", context: String = "streaming",
      lagSeconds: Double = 0.0,
      commitSuccessPct: Double = Double.NaN): PipelineSnapshot = {
    val commitMs = {
      val d = p.durationMs
      val k = "commitOffsets"
      if (d != null && d.containsKey(k)) d.get(k).doubleValue else 0.0
    }
    val batchMs = {
      val d = p.durationMs
      val k = "triggerExecution"
      if (d != null && d.containsKey(k)) d.get(k).doubleValue else 0.0
    }
    PipelineSnapshot(ns, server, connector, task, context, status,
      totalEvents,
      if (p.processedRowsPerSecond.isNaN) 0.0 else p.processedRowsPerSecond,
      lagSeconds, batchMs, commitSuccessPct, commitMs)
  }
}
