package graft.streaming

import graft.operators.Envelope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}

/** S1 — change-event stream sources. The reference's source side is a
  * Debezium binlog connector publishing JSON envelopes to Kafka
  * (reference: connectors/sources/mariadb/trading.json:4-20); the Spark
  * engine consumes any of three equivalent transports:
  *
  *  - Kafka: `kafka` format, value = JSON envelope (production path);
  *  - files: a directory of JSON/parquet envelope batches (replay,
  *    backfill, and air-gapped testing — used here, since this
  *    container has no Kafka);
  *  - MemoryStream (unit tests).
  *
  * All yield the same envelope DataFrame, so the downstream pipeline
  * (unwrap → SMT chain → merge) is transport-agnostic.
  */
object ChangeEventSource {

  /** File-based envelope stream over a directory of JSON batches. */
  def jsonDir(spark: SparkSession, dir: String, rowSchema: StructType,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(Envelope.schemaFor(rowSchema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** The wire schema the Spark Kafka connector presents after `.load()`
    * — one row per record, binary key/value plus source-position
    * metadata. [[fromKafkaRecords]] consumes exactly this shape, so a
    * test can drive the full post-transport path with a stream of
    * [[KafkaRecordSchema]] rows in place of a live broker.
    */
  val KafkaRecordSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Reader options for the `kafka` format, pure so the subscription
    * wiring is unit-testable: topic-regex subscribe (P2) and replay
    * from earliest (T9) — config-compatible with the reference's topics
    * `<prefix>.<db>.<table>` (reference:
    * connectors/sources/mariadb/trading.json:4-20, README.md:287).
    */
  def kafkaOptions(bootstrap: String, topicPattern: String,
      startingOffsets: String = "earliest"): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribePattern" -> topicPattern,
    "startingOffsets" -> startingOffsets)

  /** Decode Kafka-shaped records into the envelope DataFrame: JSON-parse
    * the value bytes and carry the source position through as
    * `__topic`/`__kafka_partition`/`__kafka_offset` — Envelope.unwrap
    * passes `__`-prefixed columns through, so downstream dedup/ordering
    * (T1/T4) can use the broker offset as a monotonic per-partition
    * sequence and P4 routing can read the real topic. Works on the live
    * reader's output or any test stream in [[KafkaRecordSchema]] shape.
    */
  def fromKafkaRecords(records: DataFrame, rowSchema: StructType): DataFrame = {
    val env = Envelope.schemaFor(rowSchema)
    records.select(
      from_json(col("value").cast("string"), env).as("e"),
      col("topic").as("__topic"),
      col("partition").as("__kafka_partition"),
      col("offset").as("__kafka_offset"))
      .select(col("e.*"), col("__topic"), col("__kafka_partition"), col("__kafka_offset"))
  }

  /** Kafka envelope stream (production transport; requires the Kafka
    * connector jars on the cluster — absent in this container, so the
    * post-`.load()` path is covered by KafkaTransportSpec driving
    * [[fromKafkaRecords]] with wire-shaped records instead).
    */
  def kafka(spark: SparkSession, bootstrap: String, topicPattern: String,
      rowSchema: StructType, startingOffsets: String = "earliest"): DataFrame =
    fromKafkaRecords(
      spark.readStream.format("kafka")
        .options(kafkaOptions(bootstrap, topicPattern, startingOffsets))
        .load(),
      rowSchema)
}
