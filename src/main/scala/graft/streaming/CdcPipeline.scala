package graft.streaming

import graft.catalog.TableMeta
import graft.operators.{Envelope, ParquetUpsertTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming CDC path — the Spark form of the reference's
  * source-connector → Kafka → sink-connector pipeline (SURVEY §3.1):
  * a change-event stream is unwrapped (P3), SMT-transformed (P5/P6/P8),
  * deduplicated to latest-per-key (W1) and merged into a keyed
  * materialized table with upsert/delete semantics (S7/T3) inside
  * `foreachBatch`, with checkpointing supplying restart/replay safety
  * (T9 — each merge passes the query id and batch id, and the store
  * skips a redelivered batch it already committed).
  *
  * Scale notes: each micro-batch shuffles once on the PK and appends one
  * delta epoch to the merge-on-read store; failed rows go to a DLQ side
  * output instead of failing the query (S10, reference:
  * connectors/sinks/postgres/performance.json:32-37).
  */
class CdcPipeline(spark: SparkSession, val meta: TableMeta, tablePath: String,
    checkpointPath: String, dlqPath: Option[String] = None, numBuckets: Int = 64) {

  val table = new ParquetUpsertTable(spark, tablePath, meta.pkCols, numBuckets)

  /** Local property a streaming query sets on its micro-batch thread. */
  private val QueryIdProperty = "sql.streaming.queryId"

  /** Transform one micro-batch of envelope rows into unwrapped, repaired
    * change rows carrying `__op`, `__source_ts_ms`, `__seq`.
    */
  def transformBatch(envelope: DataFrame): DataFrame = {
    val withSeq =
      if (envelope.columns.contains("__seq")) envelope
      else envelope.withColumn("__seq", monotonically_increasing_id())
    val unwrapped = Envelope.unwrap(withSeq)
    val renamed = meta.renames.foldLeft(unwrapped) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
    val cast = Envelope.castColumns(renamed, meta.casts)
    graft.functions.Conversions.lowercaseColumns(cast)
  }

  private def mergeBatch(batch: DataFrame, batchId: Long): Unit = {
    val changes = transformBatch(batch)
    // the fence names the stream by its persistent query id, which the
    // checkpoint stores: a restart from the same checkpoint keeps it, and
    // a fresh checkpoint at the same path gets a new one, whose batch ids
    // restart at 0 without being fenced by the old stream's
    val queryId = spark.sparkContext.getLocalProperty(QueryIdProperty)
    try table.merge(changes, Seq(col("__source_ts_ms"), col("__seq")),
      batch = Option(queryId).map(ParquetUpsertTable.StreamBatch(_, batchId)))
    catch {
      case e: Exception =>
        dlqPath match {
          // S10: tolerate-all + route the failed batch to the DLQ.
          case Some(dlq) =>
            changes.withColumn("__error", lit(e.getMessage))
              .withColumn("__batch_id", lit(batchId))
              .write.mode("append").parquet(dlq)
          case None => throw e
        }
    }
  }

  /** T2 bootstrap: seed the materialized table from a batch snapshot if
    * it does not exist yet (`schema_only`-style: batch seed, then the
    * stream applies changes from its recorded position; reference:
    * connectors/sources/mariadb/trading.json:18). For `recovery`-style
    * re-seeds of selected tables, call with `force = true` while the
    * stream for other tables keeps running.
    */
  def bootstrap(snapshot: DataFrame, force: Boolean = false): Unit =
    if (force || !table.exists) {
      val repaired = graft.functions.Conversions.lowercaseColumns(
        Envelope.castColumns(snapshot, meta.casts))
      table.seed(repaired)
    }

  /** Start the stream: envelope rows in, materialized keyed table out. */
  def start(envelopeStream: DataFrame,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    envelopeStream.writeStream
      .queryName(s"cdc-${meta.name}")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch(mergeBatch _)
      .start()
}

/** T5/T6 — heartbeat/liveness and freshness-lag monitoring over running
  * streaming queries (reference: heartbeat.interval.ms=30000,
  * connectors/sources/mariadb/trading.json:54-55; lag SLA
  * tests/validation.py:73,271).
  */
object StreamMonitor {
  import org.apache.spark.sql.streaming.StreamingQueryListener
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  /** Collects per-query last-progress timestamps; `lagSeconds` answers
    * "how long since this query last advanced" — the heartbeat analog.
    */
  class HeartbeatListener extends StreamingQueryListener {
    private val last = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      last.put(e.progress.id, System.currentTimeMillis())
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = last.remove(e.id)
    def lagSeconds(id: java.util.UUID): Option[Long] =
      Option(last.get(id)).map(t => (System.currentTimeMillis() - t) / 1000)
  }
}
