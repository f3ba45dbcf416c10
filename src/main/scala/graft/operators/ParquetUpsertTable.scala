package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Mutable keyed table over immutable parquet — the engineering core of
  * the reference's upsert sink (SURVEY §7.4.1). Plain parquet cannot be
  * updated in place, so the table is hash-bucketed on the PK
  * (`pmod(xxhash64(pk), numBuckets)` directory partitions) and each
  * bucket is merge-on-read: a base plus an ordered list of deltas.
  *
  * Storage layout (MVCC, Delta/Iceberg-lite — neither is available in
  * this dependency-free build):
  * {{{
  *   <path>/_manifest/v00000.json      committed snapshots (atomic rename)
  *   <path>/data/e00000/__bucket=<b>/  immutable epoch data, one per commit
  * }}}
  * The manifest maps every bucket to its base dir (`buckets`) and to its
  * ordered delta dirs (`deltas`; absent = base-only, the pre-delta
  * format). A merge writes the batch's latest-per-key rows, delete
  * markers (`__op`) included, as ONE new epoch dir partitioned by
  * bucket — it reads no base — and publishes a manifest appending that
  * epoch to each touched bucket's deltas. Reads let the newest layer
  * win per key (base < delta 1 < … < delta n; a delete marker drops the
  * key); a bucket with no deltas is a plain scan of its base. A bucket
  * with deltas costs more to read: its layers are collapsed per key (a
  * shuffle for a full read, one partition for a lookup).
  *
  * Compaction: a bucket that would reach `maxDeltas` deltas is instead
  * rewritten into a new base inside the same commit (base ∪ deltas
  * collapsed, then the batch applied — the bucket-rewrite path), so no
  * committed bucket ever holds more than `maxDeltas - 1` deltas.
  * `maxDeltas = 1` rewrites every touched bucket on every merge.
  *
  * Readers resolve the latest manifest and read only immutable dirs, so
  * a concurrent merge never yanks files out from under them. Epoch dirs
  * are GC'd once no manifest in the last [[ParquetUpsertTable.KeptManifests]]
  * references them; a manifest references at most `maxDeltas` epochs per
  * bucket, and each newer kept manifest adds one, so the data dir holds
  * at most `numBuckets * maxDeltas + KeptManifests - 1` epoch dirs.
  *
  * Replay fence: a streaming merge passes its stream identity (the
  * query id) and batch id; the manifest records the last committed pair,
  * and a redelivered batch at or below it costs one manifest read and
  * changes nothing (the idempotent-sink recipe of Structured Streaming).
  * That keeps appended deltas exactly-once, and keeps a replay from
  * re-resolving same-ts_ms ties by a `__seq` that depends on partition
  * layout. A new stream identity is never fenced. A stream batch's
  * NULL-PK rows are quarantined under its id, so a replay before the
  * commit replaces them instead of appending them twice.
  *
  * The manifest also records the table's current schema; reads apply it
  * explicitly, so after an additive evolution untouched buckets surface
  * the new column as nulls instead of footer inference dropping it (T8).
  *
  * Single-writer by design (one CDC apply stream per table, matching the
  * reference's one-connector-per-table deployment); the atomic manifest
  * rename makes a second concurrent writer fail loudly instead of
  * corrupting state. NULL-PK rows are quarantined to `<path>.nullpk/`
  * at both write boundaries (violations — see quarantineNullPk).
  *
  * `crashPoint` is called with each of [[ParquetUpsertTable.CrashPoints]]
  * as the commit reaches it; it does nothing unless a test injects a
  * crash there.
  */
class ParquetUpsertTable(
    spark: SparkSession,
    val path: String,
    val pkCols: Seq[String],
    val numBuckets: Int = 64,
    crashPoint: String => Unit = _ => ()) {

  import ParquetUpsertTable._

  private val BucketCol = "__bucket"
  private val OpCol = "__op"
  private val EpochCol = "__epoch"
  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def manifestDir = new Path(path, "_manifest")

  private def bucketExpr: Column =
    pmod(xxhash64(pkCols.map(col): _*), lit(numBuckets.toLong)).cast("int")

  private def keyed: Column = pkCols.map(col(_).isNotNull).reduce(_ && _)

  def exists: Boolean = loadManifest().isDefined

  // ------------------------------------------------------------ manifest

  /** A committed snapshot: table schema, bucket -> base dir, bucket ->
    * ordered delta dirs, and the last committed stream batch.
    */
  private case class Manifest(version: Int, schema: StructType, buckets: Map[Int, String],
      deltas: Map[Int, Seq[String]] = Map.empty, fence: Option[StreamBatch] = None)

  private def manifestName(v: Int) = f"v$v%05d.json"

  private def readText(p: Path): String = {
    val f = fs
    val buf = new Array[Byte](f.getFileStatus(p).getLen.toInt)
    val in = f.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, "UTF-8")
  }

  private def loadManifest(): Option[Manifest] = {
    val f = fs
    if (!f.exists(manifestDir)) return None
    // numeric sort, not lexicographic: past v99999 the zero-padding no
    // longer orders names ("v100000.json" < "v99998.json" as strings),
    // which would resolve a stale snapshot and brick the next commit
    val names = f.listStatus(manifestDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .sortBy(_.stripPrefix("v").stripSuffix(".json").toInt)
    names.lastOption.map(latest => parseManifest(readText(new Path(manifestDir, latest))))
  }

  private def parseManifest(s: String): Manifest = {
    val j = JsonMethods.parse(s)
    val version = j \ "version" match {
      case JInt(n) => n.toInt
      case other => sys.error(s"bad manifest version: $other")
    }
    val buckets = j \ "buckets" match {
      case JObject(fields) => fields.collect { case (k, JString(rel)) => k.toInt -> rel }.toMap
      case other => sys.error(s"bad manifest buckets: $other")
    }
    val deltas = j \ "deltas" match {
      case JObject(fields) => fields.collect { case (k, JArray(rels)) =>
        k.toInt -> rels.collect { case JString(rel) => rel } }.toMap
      case JNothing => Map.empty[Int, Seq[String]]
      case other => sys.error(s"bad manifest deltas: $other")
    }
    val fence = (j \ "stream", j \ "batchId") match {
      case (JString(stream), JInt(id)) => Some(StreamBatch(stream, id.toLong))
      case _ => None
    }
    val schema = DataType.fromJson(JsonMethods.compact(j \ "schema"))
      .asInstanceOf[StructType]
    Manifest(version, schema, buckets, deltas, fence)
  }

  /** Publish a new snapshot: write to a temp file, then atomically rename
    * into place. A failed writer leaves only an ignorable temp file; a
    * concurrent writer loses the rename race and throws.
    */
  private def commitManifest(m: Manifest): Unit = {
    val f = fs
    if (!f.exists(manifestDir)) f.mkdirs(manifestDir)
    val fields = Seq[JField](
      "version" -> JInt(m.version),
      "buckets" -> JObject(m.buckets.toSeq.sortBy(_._1)
        .map { case (b, rel) => b.toString -> (JString(rel): JValue) }: _*)) ++
      (if (m.deltas.isEmpty) Nil
       else Seq[JField]("deltas" -> JObject(m.deltas.toSeq.sortBy(_._1)
         .map { case (b, rels) => b.toString -> (JArray(rels.map(JString(_)).toList): JValue) }: _*))) ++
      m.fence.toSeq.flatMap(b => Seq[JField]("stream" -> JString(b.stream), "batchId" -> JInt(b.id))) :+
      ("schema" -> JsonMethods.parse(m.schema.json))
    val json = JsonMethods.compact(JsonMethods.render(JObject(fields: _*)))
    val tmp = new Path(manifestDir, s".tmp-${manifestName(m.version)}")
    val out = f.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    crashPoint(ManifestRename)
    val dest = new Path(manifestDir, manifestName(m.version))
    if (f.exists(dest) || !f.rename(tmp, dest))
      sys.error(s"manifest commit conflict at $dest — concurrent writer?")
    gc(m.version)
  }

  /** The epoch dir ("data/eNNNNN") holding a base or delta dir. */
  private def epochOf(rel: String): String = rel.split('/').take(2).mkString("/")

  private def epochsOf(m: Manifest): Set[String] =
    (m.buckets.values ++ m.deltas.values.flatten).map(epochOf).toSet

  /** Drop manifests older than the kept window and any epoch dir no kept
    * manifest references. Readers always re-resolve the latest manifest,
    * so the window only needs to cover reads in flight across a commit.
    */
  private def gc(latestVersion: Int): Unit = {
    val f = fs
    val keepFrom = latestVersion - (KeptManifests - 1)
    val all = f.listStatus(manifestDir).map(_.getPath)
      .filter(p => p.getName.startsWith("v") && p.getName.endsWith(".json"))
    val (kept, dropped) = all.partition { p =>
      p.getName.stripPrefix("v").stripSuffix(".json").toInt >= keepFrom
    }
    dropped.foreach(f.delete(_, false))
    crashPoint(Gc)
    val referenced = kept.flatMap(p => epochsOf(parseManifest(readText(p)))).toSet
    val dataDir = new Path(path, "data")
    if (f.exists(dataDir)) {
      f.listStatus(dataDir).map(_.getPath).foreach { e =>
        if (!referenced.contains(s"data/${e.getName}")) f.delete(e, true)
      }
    }
  }

  private def epochDir(version: Int) = f"data/e$version%05d"

  // ------------------------------------------------------------ reads

  /** Current materialized state. Resolves the latest committed manifest
    * and reads its (immutable) epoch dirs under the manifest's schema —
    * safe under concurrent merges, stable under T8 evolution.
    */
  def read(): DataFrame = {
    val m = loadManifest().getOrElse(
      sys.error(s"no committed snapshot at $path — seed() or merge() first"))
    readBuckets(m, (m.buckets.keySet ++ m.deltas.keySet).toSeq)
  }

  /** Buckets without deltas are a plain scan of their bases; buckets
    * with deltas scan base and deltas together and keep the newest
    * layer per key (base rows carry no `__epoch`, so they sort last).
    * `key` restricts the read to one key (a lookup).
    */
  private def readBuckets(m: Manifest, buckets: Seq[Int], key: Option[Column] = None): DataFrame = {
    def abs(rels: Seq[String]) = rels.map(rel => s"$path/$rel")
    def keyed(d: DataFrame) = key.fold(d)(d.filter)
    val (layered, plain) = buckets.sorted.partition(m.deltas.contains)
    val baseDirs = abs(plain.flatMap(m.buckets.get))
    val plainScan =
      if (baseDirs.isEmpty) None else Some(keyed(spark.read.schema(m.schema).parquet(baseDirs: _*)))
    val merged = if (layered.isEmpty) None else {
      // past this many paths Spark lists them with a distributed job,
      // which costs more than reading a store's deltas, so layered dirs
      // are scanned in groups below it
      val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
      val layerSchema = m.schema.add(OpCol, StringType).add(EpochCol, LongType)
      val layers = abs(layered.flatMap(b => m.buckets.get(b).toSeq ++ m.deltas(b)))
        .grouped(threshold).map(dirs => spark.read.schema(layerSchema).parquet(dirs: _*))
        .reduce(_ unionByName _)
      // one key's layers are a few rows: in one partition the per-key
      // window needs no shuffle
      val rows = if (key.isEmpty) layers else keyed(layers).coalesce(1)
      Some(CdcMerge.latestPerKey(rows, pkCols, Seq(col(EpochCol)))
        .filter(!(col(OpCol) <=> lit(Envelope.OpDelete)))
        .select(m.schema.fieldNames.toIndexedSeq.map(col): _*))
    }
    (plainScan ++ merged).reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema))
  }

  /** P9 at scale: PK point lookup reading ONLY the key's hash bucket —
    * partition pruning via the bucket directory, so a lookup touches
    * 1/numBuckets of the table regardless of size. Literals are cast to
    * the stored column types before hashing: `xxhash64(1: Int)` differs
    * from `xxhash64(1L)`, so an uncast literal of the "wrong" Scala type
    * would land on the wrong bucket and silently return nothing. On a
    * bucket with deltas the key filter sits below the per-key collapse,
    * which then runs in one partition without a shuffle.
    */
  def lookup(pkValues: Map[String, Any]): DataFrame = {
    require(pkValues.keySet == pkCols.toSet, s"lookup needs all PK cols $pkCols")
    val m = loadManifest().getOrElse(
      sys.error(s"no committed snapshot at $path"))
    val typed = pkCols.map(c => lit(pkValues(c)).cast(m.schema(c).dataType))
    val bucket = spark.range(1)
      .select(pmod(xxhash64(typed: _*), lit(numBuckets.toLong)).cast("int"))
      .head().getInt(0)
    readBuckets(m, Seq(bucket), Some(
      pkCols.map(c => col(c) === lit(pkValues(c)).cast(m.schema(c).dataType))
        .reduce(_ && _)))
  }

  /** Merge batches whose deltas no compaction has folded yet. */
  def deltaCount: Int = loadManifest().fold(0)(_.deltas.values.flatten.map(epochOf).toSet.size)

  /** The last stream batch a merge committed, if any. */
  def committedBatch: Option[StreamBatch] = loadManifest().flatMap(_.fence)

  // ------------------------------------------------------------ writes

  /** Bootstrap/seed the table from a snapshot (T2 `schema_only` seed:
    * batch load then stream from the recorded position). Replaces every
    * bucket; the recorded stream batch carries over.
    */
  def seed(snapshot: DataFrame): Unit = seed(snapshot, None)

  private def seed(snapshot: DataFrame, batch: Option[StreamBatch]): Unit = {
    // a seeded NULL-PK row would be a PERMANENT ghost — no later merge
    // could update or delete it — so the seed path quarantines too
    val keyedRows = quarantineNullPk(snapshot, batch)
    val prev = loadManifest()
    val version = prev.map(_.version + 1).getOrElse(0)
    val buckets = writeEpoch(keyedRows.withColumn(BucketCol, bucketExpr), version, append = false)
    crashPoint(EpochWrite)
    recordNewSchema(keyedRows.schema)
    commitManifest(Manifest(version, keyedRows.schema, buckets,
      fence = batch.orElse(prev.flatMap(_.fence))))
  }

  /** Write bucket-partitioned rows under one epoch dir; return bucket ->
    * relative dir for the buckets that materialized (a fully-deleted
    * bucket writes no dir and drops out of the manifest). `append` adds
    * the rows next to a delta already written into the same epoch.
    */
  private def writeEpoch(bucketed: DataFrame, version: Int, append: Boolean,
      only: Set[Int] = Set.empty): Map[Int, String] = {
    val rel = epochDir(version)
    val dir = s"$path/$rel"
    bucketed.repartition(col(BucketCol))
      .write.mode(if (append) "append" else "overwrite").partitionBy(BucketCol).parquet(dir)
    val f = fs
    f.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith(s"$BucketCol="))
      .map(n => n.stripPrefix(s"$BucketCol=").toInt -> s"$rel/$n")
      .filter { case (b, _) => only.isEmpty || only(b) }
      .toMap
  }

  /** S11 schema-history log — every schema version is appended as JSON
    * under `<path>.schema_history/` for restart/forensics, the engine
    * analog of Debezium's schema-history topic (reference:
    * connectors/sources/mariadb/trading.json:22-25).
    */
  def recordSchemaVersion(schema: StructType): Unit = {
    val dir = new Path(s"$path.schema_history")
    val f = fs
    if (!f.exists(dir)) f.mkdirs(dir)
    val version = f.listStatus(dir).length
    val out = f.create(new Path(dir, f"v$version%05d.json"), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
  }

  /** Recorded schema versions, oldest first (S11 read side). */
  def schemaHistory(): Seq[StructType] = historyFiles().map(readSchema)

  private def historyFiles(): Seq[Path] = {
    val dir = new Path(s"$path.schema_history")
    val f = fs
    if (!f.exists(dir)) Nil else f.listStatus(dir).map(_.getPath).sortBy(_.getName).toSeq
  }

  private def readSchema(p: Path): StructType =
    DataType.fromJson(readText(p)).asInstanceOf[StructType]

  /** Merge a batch of unwrapped change events (`__op`, ordering cols +
    * row fields): upsert latest-per-key and apply deletes, by appending
    * one delta epoch (compacting buckets that reach `maxDeltas`). Replay
    * of a latest-state batch leaves the state unchanged (T9); a stream
    * passes `batch`, and a redelivered batch at or below the committed
    * one is skipped. Publishes a new epoch + manifest; readers on the
    * previous snapshot are unaffected.
    */
  def merge(changes: DataFrame, orderCols: Seq[Column], maxDeltas: Int = DefaultMaxDeltas,
      batch: Option[StreamBatch] = None): Unit = {
    require(maxDeltas >= 1, s"maxDeltas must be >= 1, got $maxDeltas")
    loadManifest() match {
      case None =>
        // NULL-PK events are violations, not keyable changes: NULL never
        // equals itself, so such a row could never be upserted or
        // deleted. They are quarantined (never silently dropped).
        val rows = quarantineNullPk(changes, batch)
        if (rows.isEmpty) return
        val latest = CdcMerge.latestPerKey(rows, pkCols, orderCols)
          .filter(col(OpCol) =!= Envelope.OpDelete)
          .drop(OpCol)
        seed(latest.drop(latest.columns.toIndexedSeq.filter(_.startsWith("__")): _*), batch)
      case Some(m) if batch.exists(b => m.fence.exists(f => f.stream == b.stream && b.id <= f.id)) =>
        () // redelivered: already committed
      case Some(m) => appendDelta(m, changes, orderCols, maxDeltas, batch)
    }
  }

  /** Side-write NULL-PK rows to `<path>.nullpk/` and return the keyable
    * remainder. The quarantine dir is the observability surface for the
    * drop (alongside the P10/A3 checks on the SOURCE side); zero-ghost
    * snapshots cost one cheap isEmpty probe.
    */
  private def quarantineNullPk(changes: DataFrame, batch: Option[StreamBatch]): DataFrame = {
    val (keyedRows, ghosts) = CdcMerge.splitKeyed(changes, pkCols)
    if (!ghosts.isEmpty) quarantine(ghosts, batch)
    keyedRows
  }

  /** Write NULL-PK rows to the quarantine. A stream batch's rows are
    * files named by its stream and batch id, which a redelivery of the
    * batch replaces, so a batch replayed after a crash before its commit
    * is quarantined once; other merges append.
    */
  private def quarantine(ghosts: DataFrame, batch: Option[StreamBatch]): Unit = batch match {
    case None => ghosts.write.mode("append").parquet(s"$path.nullpk")
    case Some(b) =>
      val f = fs
      val dir = new Path(s"$path.nullpk")
      val name = s"batch-${b.stream.replaceAll("[^A-Za-z0-9_-]", "_")}-${b.id}-"
      // a leading "_" hides the staging dir from readers of the quarantine
      val staging = new Path(dir, s"_$name")
      ghosts.write.mode("overwrite").parquet(staging.toString)
      f.listStatus(dir).map(_.getPath).filter(_.getName.startsWith(name)).foreach(f.delete(_, false))
      f.listStatus(staging).map(_.getPath).filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (p, i) =>
          val dest = new Path(dir, f"$name$i%05d.parquet")
          if (!f.rename(p, dest)) sys.error(s"quarantine rename failed: $p -> $dest")
        }
      f.delete(staging, true)
  }

  /** NULL-PK rows quarantined by merge()/seed(), empty if none. */
  def nullPkQuarantine(): DataFrame = {
    val dir = new Path(s"$path.nullpk")
    if (fs.exists(dir)) spark.read.parquet(dir.toString)
    else spark.emptyDataFrame
  }

  /** One write carries the whole batch: the delta write's observed
    * metrics give the touched buckets, the keyed row count and the
    * NULL-PK count, so a merge that compacts nothing runs no other job.
    * Buckets that would reach `maxDeltas` are left out of the delta and
    * rewritten into new bases in the same epoch dir.
    */
  private def appendDelta(m: Manifest, changes: DataFrame, orderCols: Seq[Column],
      maxDeltas: Int, batch: Option[StreamBatch]): Unit = {
    val version = m.version + 1
    val epoch = epochDir(version)
    // T8 additive schema evolution (schema.evolution=basic, reference:
    // connectors/sinks/postgres/trading.json:17): new incoming fields
    // join the table schema; older rows read them as nulls
    val incoming = changes.schema.fields
      .filter(f => !f.name.startsWith("__") && !m.schema.fieldNames.contains(f.name))
    val schema = StructType(m.schema.fields ++ incoming)
    // a short batch (columns dropped upstream) reads its missing
    // columns as nulls through the manifest schema
    val rowCols = schema.fields.toSeq.filter(f => changes.columns.contains(f.name))
      .map(f => col(f.name).cast(f.dataType).as(f.name))
    val full = (0 until numBuckets).filter(b => m.deltas.getOrElse(b, Nil).size + 1 >= maxDeltas).toSet
    val bucketed = changes.withColumn(BucketCol, bucketExpr)
    // observed above the shuffle, which the filter cannot cross: AQE
    // drops an empty shuffle stage's metrics, and Spark then completes
    // the observation with no values, read below as an empty batch
    val stats = Observation()
    val observed = bucketed.repartition(col(BucketCol)).observe(stats,
      count(when(keyed, lit(1))).as("rows"),
      count(when(!keyed, lit(1))).as("nullpk"),
      collect_set(when(keyed, col(BucketCol))).as("touched"))
    val deltaRows = observed.filter(
      if (full.isEmpty) keyed else keyed && !col(BucketCol).isin(full.toSeq: _*))
    CdcMerge.latestPerKey(deltaRows, BucketCol +: pkCols, orderCols)
      .select(rowCols ++ Seq(col(OpCol), lit(version.toLong).as(EpochCol), col(BucketCol)): _*)
      .write.mode("overwrite").partitionBy(BucketCol).parquet(s"$path/$epoch")
    crashPoint(EpochWrite)
    val r = stats.get
    val touched = r.getOrElse("touched", Nil).asInstanceOf[Seq[Int]].toSet
    val rows = r.getOrElse("rows", 0L).asInstanceOf[Long]
    val nullPk = r.getOrElse("nullpk", 0L).asInstanceOf[Long]
    if (nullPk > 0) quarantine(changes.filter(!keyed), batch)
    // a batch of only NULL-PK rows still commits, to fence its id
    if (touched.isEmpty && nullPk == 0) {
      fs.delete(new Path(path, epoch), true)
      return
    }
    val compacting = touched.intersect(full)
    val rebased =
      if (compacting.isEmpty) Map.empty[Int, String]
      else {
        def withNulls(d: DataFrame, fields: Seq[StructField]) =
          fields.foldLeft(d)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
        val current = withNulls(readBuckets(m, compacting.toSeq), incoming.toSeq)
        val batchRows = withNulls(
          bucketed.filter(keyed && col(BucketCol).isin(compacting.toSeq: _*)).drop(BucketCol),
          schema.fields.toSeq.filterNot(f => changes.columns.contains(f.name)))
        val merged = CdcMerge.applyChanges(current, batchRows, pkCols, orderCols, Some(rows))
          .select(schema.fieldNames.toIndexedSeq.map(col): _*)
          .withColumn(BucketCol, bucketExpr)
        val written = writeEpoch(merged, version, append = true, only = compacting)
        crashPoint(CompactionWrite)
        written
      }
    if (incoming.nonEmpty) recordNewSchema(schema)
    val appended = touched -- compacting
    commitManifest(Manifest(version, schema,
      buckets = (m.buckets -- compacting) ++ rebased,
      deltas = (m.deltas -- compacting) ++
        appended.map(b => b -> (m.deltas.getOrElse(b, Nil) :+ s"$epoch/$BucketCol=$b")),
      fence = batch.orElse(m.fence)))
  }

  /** Append a schema to the history, before the manifest commit that
    * publishes it, unless it is already the latest entry: a commit
    * replayed after a crash between the two records the version once.
    */
  private def recordNewSchema(schema: StructType): Unit = {
    if (!historyFiles().lastOption.map(readSchema).contains(schema)) recordSchemaVersion(schema)
    crashPoint(SchemaHistory)
  }

  /** Fold every bucket's deltas into a new base, in one commit. */
  def compact(): Unit = loadManifest().filter(_.deltas.nonEmpty).foreach { m =>
    val version = m.version + 1
    val layered = m.deltas.keySet
    val written = writeEpoch(
      readBuckets(m, layered.toSeq).withColumn(BucketCol, bucketExpr), version, append = false)
    crashPoint(CompactionWrite)
    commitManifest(m.copy(version = version,
      buckets = (m.buckets -- layered) ++ written, deltas = Map.empty))
  }
}

object ParquetUpsertTable {
  /** Snapshots kept before GC — the grace window for readers that
    * resolved a manifest just before a commit.
    */
  val KeptManifests = 3

  /** Deltas a bucket may reach before a merge rewrites it into a base. */
  val DefaultMaxDeltas = 16

  /** A streaming micro-batch: the stream's identity (its persistent
    * query id, new for every fresh checkpoint) and its batch id.
    */
  final case class StreamBatch(stream: String, id: Long)

  /** Commit steps a crash can interrupt, in commit order. */
  val EpochWrite = "epoch.write"
  val CompactionWrite = "compaction.write"
  val SchemaHistory = "schema.history"
  val ManifestRename = "manifest.rename"
  val Gc = "gc"
  val CrashPoints = Seq(EpochWrite, CompactionWrite, SchemaHistory, ManifestRename, Gc)
}
