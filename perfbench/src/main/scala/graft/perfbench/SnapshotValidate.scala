package graft.perfbench

import graft.catalog.TableMeta
import graft.operators.{ParquetUpsertTable, Validation, ValidationRunner}
import graft.sources.{Snapshot, Tables}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.Random

/** Formula-generated lineitem/orders/customer sources and the drift
  * planted into their sink copies. Every value is an integer formula of
  * the key and a salt, so the expected content of any row is known
  * without reading it back.
  */
final class SourceSet(val salt: Long, val orders: Int) {
  val LinesPerOrder = 4
  val customers: Int = orders / 10
  val lineitems: Long = orders.toLong * LinesPerOrder
  val orphans: Int = 25 + (salt % 20).toInt

  // planted lineitem drift: missing rows, duplicate rows, orphan rows
  def missingLine(k: Long, ln: Int): Boolean = ln == 1 && (k + salt) % 97 == 0
  def dupLine(k: Long, ln: Int): Boolean = ln == 2 && (k + salt) % 89 == 0
  def missingOrder(k: Long): Boolean = (k + salt) % 101 == 0
  private def countKeys(p: Long => Boolean): Long = (1L to orders).count(p).toLong
  val missingLines: Long = countKeys(k => missingLine(k, 1))
  val dupLines: Long = countKeys(k => dupLine(k, 2))
  val missingOrders: Long = countKeys(missingOrder)

  /** The expected lineitem row as `key|line|partkey|quantity|price`. */
  def line(k: Long, ln: Int): String =
    s"$k|$ln|${(k * 31 + ln * 17 + salt) % 20000 + 1}|${(k + ln * 7 + salt) % 50 + 1}|" +
      s"${((k * 13 + ln * 101 + salt) % 10000000) / 100.0}"

  /** Rows a sink lookup of (k, ln) must return. */
  def expectedSink(k: Long, ln: Int): Seq[String] =
    if (k >= 1 && k <= orders && ln >= 1 && ln <= LinesPerOrder) {
      if (missingLine(k, ln)) Nil else if (dupLine(k, ln)) Seq(line(k, ln), line(k, ln))
      else Seq(line(k, ln))
    } else if (k > orders && k <= orders + orphans && ln == 1) Seq(line(k, ln))
    else Nil

  private def lineitemFrame(spark: SparkSession, from: Long, until: Long): DataFrame = {
    spark.range(from, until).select(expr(s"id div $LinesPerOrder + 1").as("l_orderkey"),
        (col("id") % LinesPerOrder + 1).cast("int").as("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"),
        ((col("l_orderkey") * 31 + col("l_linenumber") * 17 + salt) % 20000 + 1).as("l_partkey"),
        ((col("l_orderkey") + col("l_linenumber") * 7 + salt) % 50 + 1).as("l_quantity"),
        (((col("l_orderkey") * 13 + col("l_linenumber") * 101 + salt) % 10000000) / 100.0)
          .as("l_extendedprice"),
        date_add(lit("1992-01-02").cast("date"),
          ((col("l_orderkey") * 7 + col("l_linenumber") + salt) % 2500).cast("int")).as("l_shipdate"),
        concat(lit("line "), col("l_orderkey"), lit("-"), col("l_linenumber")).as("l_comment"))
  }

  /** Write the three source tables as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: Path): Unit = {
    lineitemFrame(spark, 0, lineitems).write.parquet(s"$dir/lineitem.parquet")
    spark.range(1, orders + 1L).select(col("id").as("o_orderkey"),
      ((col("id") * 7919 + salt) % customers + 1).as("o_custkey"),
      (((col("id") * 104729 + salt) % 5000000) / 100.0).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), ((col("id") * 31 + salt) % 2400).cast("int"))
        .as("o_orderdate"),
      concat(lit("order "), col("id")).as("o_comment"))
      .write.parquet(s"$dir/orders.parquet")
    spark.range(1, customers + 1L).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      (((col("id") * 37 + salt) % 1000000) / 100.0).as("c_acctbal"))
      .write.parquet(s"$dir/customer.parquet")
  }

  /** The sink copy of a source table, with this set's drift planted. */
  def drifted(name: String, source: DataFrame): DataFrame = name match {
    case "lineitem" =>
      val k = col("l_orderkey"); val ln = col("l_linenumber")
      val kept = source.filter(!(ln === 1 && (k + salt) % 97 === 0))
      val dups = source.filter(ln === 2 && (k + salt) % 89 === 0)
      val orphanRows = lineitemFrame(source.sparkSession, lineitems, lineitems + orphans * LinesPerOrder)
        .filter(col("l_linenumber") === 1)
      kept.unionByName(dups).unionByName(orphanRows)
    case "orders" => source.filter(!((col("o_orderkey") + salt) % 101 === 0))
    case _ => source
  }

  /** The report fields the planted drift must produce, per table. */
  def expectedReport: Map[String, Map[String, Long]] = {
    val l = lineitems
    Map(
      "lineitem" -> Map("source_rows" -> l, "sink_rows" -> (l - missingLines + dupLines + orphans),
        "source_distinct" -> l, "sink_distinct" -> (l - missingLines + orphans),
        "duplicate_rows" -> dupLines, "orphans" -> orphans.toLong),
      "orders" -> Map("source_rows" -> orders.toLong, "sink_rows" -> (orders - missingOrders),
        "source_distinct" -> orders.toLong, "sink_distinct" -> (orders - missingOrders),
        "duplicate_rows" -> 0L, "orphans" -> 0L),
      "customer" -> Map("source_rows" -> customers.toLong, "sink_rows" -> customers.toLong,
        "source_distinct" -> customers.toLong, "sink_distinct" -> customers.toLong,
        "duplicate_rows" -> 0L, "orphans" -> 0L))
  }
}

/** snapshot_validate: the upsert store used for seeding and reading.
  * Online: closed-loop PK point lookups through
  * `ParquetUpsertTable.lookup`. Batch job: re-seed a drifted sink with
  * `Snapshot.materialize` and verify it with `ValidationRunner.runAll`.
  */
final class SnapshotValidate(seed: Long) extends Workload {
  val Orders = 6000
  val Buckets = 8
  val Clients = 3
  val AbsentShare = 0.2
  val WarmupLookups = 8
  val Metas = Seq(
    TableMeta("lineitem", Seq("l_orderkey", "l_linenumber"), tsCol = Some("l_shipdate")),
    TableMeta("orders", Seq("o_orderkey"), tsCol = Some("o_orderdate")),
    TableMeta("customer", Seq("c_custkey")))

  private var live: SourceSet = _
  private var store: ParquetUpsertTable = _
  private var windows = 0
  private val seedMs = mutable.ArrayBuffer.empty[Double]
  private val repMs = mutable.ArrayBuffer.empty[(Double, Double)] // materialize ms, rows
  private val lookupCounters = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var lookupOps = 0L

  private def salt(tag: String, i: Int): Long = math.abs(Seeds.sub(seed, tag, i) % 1000003)

  /** Seed sink stores for every table from drifted sources; returns the stores. */
  private def seedSinks(ctx: Ctx, set: SourceSet, src: Path, sink: Path, metas: Seq[TableMeta],
      rows: Option[mutable.ArrayBuffer[Double]]): Map[String, ParquetUpsertTable] =
    metas.map { m =>
      val source = ctx.measure("sources.tables_apply")(Tables.apply(ctx.spark, src.toString, m.name))
      val t0 = Clock.now()
      ctx.measure("snapshot.materialize")(
        Snapshot.materialize(set.drifted(m.name, source), m, s"$sink/${m.name}", Buckets))
      rows.foreach(_ += Clock.ms(t0, Clock.now()))
      m.name -> new ParquetUpsertTable(ctx.spark, s"$sink/${m.name}", m.pkCols, Buckets)
    }.toMap

  private def validate(ctx: Ctx, set: SourceSet, src: Path,
      sinks: Map[String, ParquetUpsertTable], what: String): Unit = {
    val suite = ctx.measure("validation.run_all")(ValidationRunner.runAll(Metas.map(m =>
      (m, Tables.apply(ctx.spark, src.toString, m.name), sinks(m.name).read()))))
    val want = set.expectedReport
    def details(r: Validation.TableValidationReport): Map[String, Long] = {
      val d = r.checks.flatMap(_.details).toMap
      Map("source_rows" -> d("source_rows"), "sink_rows" -> d("sink_rows"),
        "source_distinct" -> d("source_distinct"), "sink_distinct" -> d("sink_distinct"),
        "duplicate_rows" -> d("duplicate_rows"), "orphans" -> d("orphans")).map { case (k, v) => k -> v.toLong }
    }
    val got = suite.reports.map(r => r.table -> details(r)).toMap
    ctx.ledger.gate(s"snapshot_validate.planted_drift ($what)", suite.errors.isEmpty && got == want,
      s"suite errors ${suite.errors}; reported $got; planted $want")
  }

  def setup(ctx: Ctx): Map[String, Double] = {
    val t0 = Clock.now()
    live = new SourceSet(salt("setup", 0), Orders)
    val src = ctx.scratch("source")
    live.write(ctx.spark, src)
    val t1 = Clock.now()
    // set-up seeds only the store the lookups read; the job seeds all three
    store = seedSinks(ctx, live, src, ctx.scratch("sink"), Metas.take(1), None)("lineitem")
    val t2 = Clock.now()
    seedMs += Clock.ms(t1, t2)
    val rng = new Random(Seeds.sub(seed, "warmup", 0))
    (0 until WarmupLookups).foreach(_ => lookupOnce(ctx, rng))
    val t3 = Clock.now()
    Map("generate_s" -> Clock.s(t0, t1), "bootstrap_s" -> Clock.s(t1, t2), "warmup_s" -> Clock.s(t2, t3))
  }

  def teardown(ctx: Ctx): Unit = ()

  /** One point lookup, checked against the planted sink content. */
  private def lookupOnce(ctx: Ctx, rng: Random): Unit = {
    val k = if (rng.nextDouble() < AbsentShare) live.orders + 1000L + rng.nextInt(100000)
      else 1L + rng.nextInt(live.orders + live.orphans)
    val ln = 1 + rng.nextInt(live.LinesPerOrder)
    val rows = ctx.tracer.span("upsert.lookup")(
      store.lookup(Map("l_orderkey" -> k, "l_linenumber" -> ln)).collect())
    val got = rows.map(r => s"${r.getAs[Long]("l_orderkey")}|${r.getAs[Int]("l_linenumber")}|" +
      s"${r.getAs[Long]("l_partkey")}|${r.getAs[Long]("l_quantity")}|${r.getAs[Double]("l_extendedprice")}")
      .toSeq
    val want = live.expectedSink(k, ln)
    if (got != want)
      throw new WrongAnswer(s"lookup ($k, $ln) returned $got, expected $want")
  }

  def online(ctx: Ctx, seconds: Double, minSamples: Int): Online = {
    val w = windows
    windows += 1
    val before = ctx.snapshot()
    val t0 = Clock.now()
    val deadline = t0 + (seconds * 1e9).toLong
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val done = new java.util.concurrent.atomic.AtomicLong
    val last = new java.util.concurrent.atomic.AtomicLong(t0)
    val clients = (0 until Clients).map { c =>
      new Thread(() => {
        val rng = new Random(Seeds.sub(seed, s"lookups-$w", c))
        while (Clock.now() < deadline || lat.size < minSamples) {
          val s = Clock.now()
          val ok = ctx.ledger.attempt("snapshot_validate.lookup")(lookupOnce(ctx, rng)).isDefined
          val e = Clock.now()
          lat.add(if (ok) Clock.ms(s, e) else math.max(Clock.ms(s, e), seconds * 1000))
          if (ok) done.incrementAndGet()
          last.accumulateAndGet(e, (a, b) => math.max(a, b))
        }
      }, s"lookup-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    if (ctx.traced) {
      lookupCounters += Counters.diff(before, ctx.snapshot())
      lookupOps += lat.size
    }
    import scala.jdk.CollectionConverters._
    Online(lat.asScala.toSeq, done.get, Clock.s(t0, last.get))
  }

  def jobRep(ctx: Ctx, rep: Int): Double = {
    val set = new SourceSet(salt("job", rep), Orders)
    val src = ctx.scratch(s"job$rep-source")
    set.write(ctx.spark, src)
    val sink = ctx.scratch(s"job$rep-sink")
    val t0 = Clock.now()
    val matMs = mutable.ArrayBuffer.empty[Double]
    val sinks = seedSinks(ctx, set, src, sink, Metas, Some(matMs))
    validate(ctx, set, src, sinks, s"job $rep")
    val t = Clock.s(t0, Clock.now())
    val rows = set.lineitems - set.missingLines + set.dupLines + set.orphans +
      set.orders - set.missingOrders + set.customers
    repMs += ((matMs.sum, rows.toDouble))
    t
  }

  def finish(ctx: Ctx): Unit = ()

  val unreached = Seq("gen.", "setup.stream_start_s", "streaming.", "envelope.", "cdcmerge.",
    "upsert.merge_", "upsert.buckets_", "upsert.rows_", "upsert.bytes_", "upsert.files_", "dedup.", "similarity.",
    "self_ms.gen", "self_ms.streaming", "self_ms.envelope", "self_ms.dedup", "self_ms.similarity")

  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val lookups = lookupCounters.headOption.getOrElse(Map.empty[String, Double]).withDefaultValue(0.0)
    val ops = math.max(1L, lookupOps).toDouble
    val matMs = Stats.medianOr0(repMs.map(_._1).toSeq)
    val materialize = ctx.spanCounters.getOrElse("snapshot.materialize", Nil).map(_.getOrElse("input_bytes", 0.0))
    val validation = ctx.spanCounters.getOrElse("validation.run_all", Nil)
    Map(
      "upsert.seed_ms" -> Stats.medianOr0(seedMs.toSeq),
      "upsert.lookup_ms_p50" -> Stats.medianOr0(ctx.tracer.durations("upsert.lookup")),
      "upsert.lookup_jobs" -> lookups("jobs") / ops,
      "upsert.lookup_files_read" -> lookups("scan_files") / ops,
      "sources.tables_apply_ms" -> Stats.medianOr0(ctx.tracer.durations("sources.tables_apply")),
      "snapshot.materialize_ms" -> matMs,
      "snapshot.rows_per_s" -> (if (matMs > 0) Stats.medianOr0(repMs.map(_._2).toSeq) / (matMs / 1000) else 0.0),
      "sources.scan_bytes" -> (materialize.sum + validation.map(_.getOrElse("input_bytes", 0.0)).sum) /
        math.max(1, validation.size),
      "validation.run_all_checks_ms" -> Stats.medianOr0(ctx.tracer.durations("validation.run_all")),
      "validation.jobs_per_table" -> ctx.spanMedian("validation.run_all", "jobs") / Metas.size,
      "validation.scan_rows" -> ctx.spanMedian("validation.run_all", "input_records"),
      "validation.shuffle_bytes" -> ctx.spanMedian("validation.run_all", "shuffle_write_bytes"))
  }
}
