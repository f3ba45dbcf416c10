package graft

import graft.operators.ParquetUpsertTable
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicReference

/** Hardening specs for the MVCC upsert store: the concurrent-reader race
  * that used to fail `LiveRoundTripSpec` (delete-then-rename bucket swap),
  * crash-consistency of the manifest commit, and T8 schema evolution with
  * an untouched bucket.
  */
class UpsertStoreSpec extends SparkSuite {
  import spark.implicits._

  private def changes(rows: (Long, String, String, Long)*) =
    rows.toSeq.toDF("k", "v", "__op", "__source_ts_ms")
      .withColumn("__seq", monotonically_increasing_id())

  test("concurrent reader never sees missing files across repeated merges") {
    val path = tmpDir("mvcc") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 8)
    t.seed((1L to 64L).map(i => KV(i, s"v$i")).toDF("k", "v"))

    val failure = new AtomicReference[Throwable](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val n = t.read().count() // full-table read during live merges
          assert(n >= 60 && n <= 64, s"inconsistent snapshot: $n rows")
        }
      } catch { case e: Throwable => failure.set(e) }
    })
    reader.start()
    try {
      // 12 merges, each rewriting a few buckets (update 2 keys, delete 1,
      // re-insert it next round) — under the old swap this reliably threw
      // FILE_NOT_EXIST in the reader within a few iterations.
      (1 to 12).foreach { i =>
        val k1 = (i % 64) + 1L; val k2 = ((i * 7) % 64) + 1L
        t.merge(changes(
          (k1, s"u$i", "u", i.toLong),
          (k2, s"w$i", "u", i.toLong),
          ((i % 32) + 1L, "", "d", i.toLong)), Seq(col("__source_ts_ms"), col("__seq")))
        t.merge(changes(
          ((i % 32) + 1L, "back", "c", i + 100L)), Seq(col("__source_ts_ms"), col("__seq")))
      }
    } finally {
      stop.set(true); reader.join(30000)
    }
    assert(failure.get() == null, s"reader failed: ${failure.get()}")
    assert(t.read().count() == 64)
  }

  test("a crashed writer's uncommitted epoch dir is invisible to readers") {
    val path = tmpDir("crash") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 4)
    t.seed(Seq(KV(1, "a"), KV(2, "b")).toDS().toDF())
    val before = t.read().as[KV].collect().toSet
    // simulate a writer that died after writing epoch data but BEFORE the
    // manifest commit: stray epoch dir with garbage rows, no manifest
    Seq(KV(99, "ghost")).toDS().toDF()
      .withColumn("__bucket", lit(0))
      .write.partitionBy("__bucket").parquet(s"$path/data/e99998")
    assert(t.read().as[KV].collect().toSet == before)
    // and the next real merge still works and still excludes the ghost
    t.merge(changes((3L, "c", "c", 1L)), Seq(col("__source_ts_ms"), col("__seq")))
    assert(t.read().as[KV].collect().toSet == before + KV(3, "c"))
  }

  test("T8: untouched bucket surfaces the evolved column as nulls") {
    val path = tmpDir("evo2") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 64)
    // find two keys in different buckets
    val ks = (1L to 20L)
    t.seed(ks.map(i => KV(i, s"v$i")).toDF("k", "v"))
    // evolve by touching ONLY key 1's bucket
    val ch = Seq((1L, "V1", 42, "u", 1L, 0L))
      .toDF("k", "v", "extra", "__op", "__source_ts_ms", "__seq")
    t.merge(ch, Seq(col("__source_ts_ms"), col("__seq")))
    val got = t.read().orderBy("k").collect()
    assert(got.length == 20)
    val schema = t.read().schema
    assert(schema.fieldNames.contains("extra"))
    // every untouched row reads the new column as null — this is exactly
    // the case footer-inference-without-explicit-schema used to get wrong
    ks.filter(_ != 1L).foreach { k =>
      val r = got.find(_.getLong(0) == k).get
      assert(r.isNullAt(r.fieldIndex("extra")), s"k=$k lost the evolved column")
    }
    assert(got.find(_.getLong(0) == 1L).get.getInt(schema.fieldIndex("extra")) == 42)
  }

  test("lookup casts literals to stored types (Int literal on Long column)") {
    val path = tmpDir("lkcast") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 16)
    t.seed((1L to 200L).map(i => KV(i, s"v$i")).toDF("k", "v"))
    // Int literal, Long column: xxhash64(1: Int) != xxhash64(1L) — the
    // uncast version bucketed wrong and silently returned zero rows
    assert(t.lookup(Map("k" -> 123)).as[KV].collect().toSeq == Seq(KV(123, "v123")))
    assert(t.lookup(Map("k" -> 123L)).as[KV].collect().toSeq == Seq(KV(123, "v123")))
  }

  test("replay fence: a committed batch id is skipped, a new stream's batch is applied") {
    import ParquetUpsertTable.StreamBatch
    val t = new ParquetUpsertTable(spark, tmpDir("fence") + "/t", Seq("k"), numBuckets = 4)
    val order = Seq(col("__source_ts_ms"), col("__seq"))
    t.seed(Seq(KV(1, "a")).toDS().toDF())
    t.merge(changes((1L, "b", "u", 1L)), order, batch = Some(StreamBatch("ckpt-a", 5)))
    // redelivered at and below the committed id: no effect
    t.merge(changes((1L, "stale", "u", 2L)), order, batch = Some(StreamBatch("ckpt-a", 5)))
    t.merge(changes((1L, "older", "u", 3L)), order, batch = Some(StreamBatch("ckpt-a", 4)))
    assert(t.read().as[KV].collect().toSeq == Seq(KV(1, "b")))
    assert(t.deltaCount == 1)
    // a new checkpoint restarts its ids at 0 and is never skipped
    t.merge(changes((1L, "c", "u", 4L)), order, batch = Some(StreamBatch("ckpt-b", 0)))
    assert(t.read().as[KV].collect().toSeq == Seq(KV(1, "c")))
    assert(t.committedBatch == Some(StreamBatch("ckpt-b", 0)))
    // an unfenced merge applies and keeps the stream's fence
    t.merge(changes((1L, "d", "u", 5L)), order)
    assert(t.read().as[KV].collect().toSeq == Seq(KV(1, "d")))
    assert(t.committedBatch == Some(StreamBatch("ckpt-b", 0)))
  }

  test("an empty batch merged into a stored table returns without a commit") {
    val path = tmpDir("empty") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 4)
    t.seed(Seq(KV(1, "a")).toDS().toDF())
    t.merge(changes((1L, "b", "u", 1L)), Seq(col("__source_ts_ms"), col("__seq")))
    def manifests = new java.io.File(s"$path/_manifest").listFiles().map(_.getName).toSet
    val before = manifests
    // no rows reach the delta write, so it observes no metrics at all
    val merged = scala.concurrent.Future(t.merge(changes(), Seq(col("__source_ts_ms"), col("__seq"))))(
      scala.concurrent.ExecutionContext.global)
    scala.concurrent.Await.result(merged, scala.concurrent.duration.Duration(120, "s"))
    assert(manifests == before)
    assert(new java.io.File(s"$path/data").listFiles().map(_.getName).sorted.toSeq == Seq("e00000", "e00001"))
    assert(t.read().as[KV].collect().toSeq == Seq(KV(1, "b")))
  }

  test("old snapshots are GC'd but the kept window preserves in-flight reads") {
    val path = tmpDir("gc") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 4)
    t.seed(Seq(KV(1, "a")).toDS().toDF())
    // maxDeltas = 1: every merge rewrites the bucket it touches
    (1 to 6).foreach { i =>
      t.merge(changes((1L, s"v$i", "u", i.toLong)), Seq(col("__source_ts_ms"), col("__seq")),
        maxDeltas = 1)
    }
    val manifests = new java.io.File(s"$path/_manifest").listFiles()
      .map(_.getName).filter(n => n.startsWith("v") && n.endsWith(".json"))
    assert(manifests.length == ParquetUpsertTable.KeptManifests)
    // epochs referenced by kept manifests survive; ancient ones are gone
    val epochs = new java.io.File(s"$path/data").listFiles().map(_.getName).sorted
    assert(epochs.contains("e00006") && !epochs.contains("e00000"))
    assert(t.read().as[KV].collect().toSeq == Seq(KV(1, "v6")))
  }

  test("steady-state retention under continuous merge: disk is bounded, the reader window is whole") {
    // The r9 verdict asked for the continuous-merge disk story to be
    // pinned: epochs × buckets growth must be bounded by the manifest
    // window, and an epoch may be vacuumed ONLY once no kept manifest
    // references it (a reader that resolved any kept manifest must
    // still find every file it points at). maxDeltas = 1 rewrites every
    // touched bucket on every merge.
    val buckets = 4
    retention(maxDeltas = 1, merges = 20, buckets,
      bound = ParquetUpsertTable.KeptManifests * buckets + 1)
  }

  test("steady-state retention at the default maxDeltas: disk <= buckets * maxDeltas + KeptManifests - 1") {
    // A manifest references at most maxDeltas epochs per bucket (a base
    // and at most maxDeltas - 1 deltas), and each newer kept manifest
    // adds only its own epoch. 60 merges compact every bucket at least
    // once, past the point where the bound is smaller than the merge count.
    val buckets = 4
    val m = ParquetUpsertTable.DefaultMaxDeltas
    val t = retention(maxDeltas = m, merges = 60, buckets,
      bound = buckets * m + ParquetUpsertTable.KeptManifests - 1)
    // compaction ran: some bucket's base left the seed epoch
    val manifests = new java.io.File(s"${t.path}/_manifest").listFiles()
      .filter(f => f.getName.startsWith("v") && f.getName.endsWith(".json"))
    val latest = org.json4s.jackson.JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(manifests.maxBy(_.getName).toPath), "UTF-8"))
    val bases = (latest \ "buckets").values.asInstanceOf[Map[String, String]].values
    assert(bases.exists(!_.startsWith("data/e00000/")), s"no bucket compacted: $bases")
  }

  private def retention(maxDeltas: Int, merges: Int, buckets: Int, bound: Int): ParquetUpsertTable = {
    val path = tmpDir("retain") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = buckets)
    t.seed((1L to 16L).map(i => KV(i, s"v$i")).toDF("k", "v"))

    def keptManifestFiles: Seq[java.io.File] =
      new java.io.File(s"$path/_manifest").listFiles().toSeq
        .filter(f => f.getName.startsWith("v") && f.getName.endsWith(".json"))
    def epochDirsOnDisk: Set[String] =
      Option(new java.io.File(s"$path/data").listFiles()).getOrElse(Array.empty)
        .map(f => s"data/${f.getName}").toSet
    // manifest JSON → the epoch dirs it references ("data/eNNNNN/...")
    def referenced(f: java.io.File): Set[String] = {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      "data/e\\d{5}".r.findAllIn(s).toSet
    }

    (1 to merges).foreach { i =>
      // touch a rotating subset of keys so epochs carry different buckets
      t.merge(changes(
        ((i % 16) + 1L, s"u$i", "u", i.toLong),
        (((i * 5) % 16) + 1L, s"w$i", "u", i.toLong)),
        Seq(col("__source_ts_ms"), col("__seq")), maxDeltas)
      val kept = keptManifestFiles
      // (1) the manifest window is exactly KeptManifests once warm
      assert(kept.size == math.min(i + 1, ParquetUpsertTable.KeptManifests),
        s"step $i: ${kept.map(_.getName).sorted}")
      val refs = kept.map(referenced)
      val live = refs.reduce(_ ++ _)
      val disk = epochDirsOnDisk
      // (2) reader-window wholeness: EVERY kept manifest (including the
      // oldest — the in-flight reader's view) only references epoch
      // dirs still on disk
      assert(live.subsetOf(disk),
        s"step $i: kept manifest references vacuumed epochs: ${live -- disk}")
      // (3) bounded steady state: nothing unreferenced survives, so
      // disk = live window, whose size is capped by the bound
      assert(disk == live, s"step $i: orphan epoch dirs ${disk -- live}")
      assert(disk.size <= bound, s"step $i: ${disk.size} epoch dirs > $bound")
    }
    // (4) the oldest kept manifest is actually READABLE end to end, not
    // just present: load each of its referenced epoch dirs via Spark
    val oldest = keptManifestFiles.minBy(_.getName)
    referenced(oldest).foreach { rel =>
      assert(spark.read.parquet(s"$path/$rel").count() > 0, s"unreadable $rel")
    }
    // the latest state is intact after the merges + continuous GC
    assert(t.read().count() == 16)
    t
  }
}

/** Model-based randomized test: a long random op sequence applied to both
  * the MVCC store and an in-memory map model must agree after every
  * merge. Covers upsert/delete interleavings, whole-bucket deletions,
  * replayed (duplicate-key) batches, and an additive schema evolution
  * mid-sequence — the compound behaviors targeted specs can miss. Runs
  * at several compaction thresholds, and with a crash injected at every
  * commit step followed by a restart and redelivery of the batch.
  */
class UpsertStoreModelSpec extends SparkSuite {
  import ParquetUpsertTable.StreamBatch
  import spark.implicits._

  private type Model = Map[Long, (String, Option[Long])] // k -> (v, extra)
  private val order = Seq(col("__source_ts_ms"), col("__seq"))

  /** 5-19 random ops over 24 keys (heavy key reuse; deletes of live
    * keys), as a change batch, plus the model after it and the last ts.
    */
  private def randomBatch(rnd: scala.util.Random, model: Model, ts0: Long,
      evolved: Boolean): (org.apache.spark.sql.DataFrame, Model, Long) = {
    var ts = ts0
    val nOps = 5 + rnd.nextInt(15)
    val ops = (0 until nOps).map { _ =>
      ts += 1
      val k = rnd.nextInt(24).toLong // small domain -> heavy key reuse
      val del = model.contains(k) && rnd.nextInt(4) == 0
      if (del) (k, null: String, "d", ts, None: Option[Long])
      else (k, s"v$ts", if (model.contains(k)) "u" else "c", ts,
        if (evolved) Some(ts * 10) else None)
    }
    // apply to the model in ts order (last op per key wins)
    var next = model
    ops.sortBy(_._4).foreach {
      case (k, _, "d", _, _) => next -= k
      case (k, v, _, _, extra) => next += k -> (v, extra)
    }
    val df =
      if (evolved)
        ops.map(o => (o._1, o._2, o._3, o._4, o._5.map(Long.box).orNull))
          .toDF("k", "v", "__op", "__source_ts_ms", "extra")
          .withColumn("extra", col("extra").cast("long"))
          .withColumn("__seq", monotonically_increasing_id())
      else
        ops.map(o => (o._1, o._2, o._3, o._4))
          .toDF("k", "v", "__op", "__source_ts_ms")
          .withColumn("__seq", monotonically_increasing_id())
    (df, next, ts)
  }

  private def assertModel(t: ParquetUpsertTable, model: Model, batch: Int): Unit = {
    val got = t.read()
    val gotMap =
      if (got.columns.contains("extra"))
        got.select("k", "v", "extra").collect()
          .map(r => r.getLong(0) ->
            (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
          .toMap
      else got.select("k", "v").collect()
        .map(r => r.getLong(0) -> (r.getString(1), None: Option[Long])).toMap
    val want =
      if (got.columns.contains("extra")) model
      else model.map { case (k, (v, _)) => k -> (v, None: Option[Long]) }
    assert(gotMap == want,
      s"batch $batch diverged: missing=${want.keySet -- gotMap.keySet} " +
        s"spurious=${gotMap.keySet -- want.keySet} " +
        s"diff=${want.collect { case (k, v) if gotMap.get(k).exists(_ != v) => (k, v, gotMap(k)) }}")
  }

  private def modelRun(maxDeltas: Int): Unit = {
    val rnd = new scala.util.Random(13)
    val path = tmpDir("mvccmodel") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 8)

    var model: Model = Map.empty
    var ts = 0L
    val evolveAt = 6 // batch index where column "extra" appears

    for (batch <- 0 until 12) {
      val (df, next, last) = randomBatch(rnd, model, ts, evolved = batch >= evolveAt)
      model = next; ts = last
      t.merge(df, order, maxDeltas)
      assertModel(t, model, batch)
    }
    // rows that existed before the evolution surface extra as NULL —
    // covered because pre-evolution keys survive into evolved reads above
    assert(t.schemaHistory().nonEmpty)
  }

  test("random op sequences: store state equals the map model at every step") {
    modelRun(ParquetUpsertTable.DefaultMaxDeltas)
  }

  test("random op sequences at maxDeltas = 1: every merge rewrites its buckets") {
    modelRun(1)
  }

  test("random op sequences at maxDeltas = 2: a bucket compacts on its second delta") {
    modelRun(2)
  }

  private final class Crash(point: String) extends RuntimeException(s"injected crash at $point")

  /** Kept manifests (JSON) of the store at `path`, by version. */
  private def keptManifests(path: String): Seq[org.json4s.JValue] =
    new java.io.File(s"$path/_manifest").listFiles().toSeq
      .filter(f => f.getName.startsWith("v") && f.getName.endsWith(".json"))
      .sortBy(_.getName)
      .map(f => org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))

  /** Every base and delta dir a manifest references. */
  private def dirsOf(m: org.json4s.JValue): Seq[String] = {
    import org.json4s._
    val bases = m \ "buckets" match { case JObject(fs) => fs.collect { case (_, JString(d)) => d }; case _ => Nil }
    val deltas = m \ "deltas" match {
      case JObject(fs) => fs.collect { case (_, JArray(ds)) => ds.collect { case JString(d) => d } }.flatten
      case _ => Nil
    }
    bases ++ deltas
  }

  private def version(path: String): BigInt = {
    import org.json4s._
    val JInt(v) = keptManifests(path).last \ "version": @unchecked
    v
  }

  private def crashRun(point: String): Unit = {
    val rnd = new scala.util.Random(29)
    val path = tmpDir("mvcccrash") + "/t"
    val stream = s"$path.checkpoint"
    def store(hook: String => Unit) =
      new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 8, crashPoint = hook)
    var model: Model = Map.empty
    var ts = 0L
    var crashes = 0
    // NULL-PK rows: batch 2 carries only these (it touches no bucket),
    // batch 7 carries one beside its keyed rows
    def ghosts(n: Int, ts: Long) = (1 to n).map(i => (Option.empty[Long], s"ghost$i", "c", ts))
      .toDF("k", "v", "__op", "__source_ts_ms").withColumn("__seq", monotonically_increasing_id())
    val ghostBatches = Map(2 -> 2, 7 -> 1)
    for (batch <- 0 until 10) {
      val (df, next, last) = batch match {
        case 2 => (ghosts(2, ts + 1), model, ts + 1)
        case 7 =>
          val (keyedRows, next, last) = randomBatch(rnd, model, ts, evolved = true)
          (keyedRows.unionByName(ghosts(1, last), allowMissingColumns = true), next, last)
        case _ => randomBatch(rnd, model, ts, evolved = batch >= 5)
      }
      val id = Some(StreamBatch(stream, batch.toLong))
      // the first attempt of every batch dies at `point` if it gets
      // there; the restarted store sees the same batch redelivered
      val crashed =
        try { store(p => if (p == point) throw new Crash(p)).merge(df, order, 2, id); false }
        catch { case _: Crash => store(_ => ()).merge(df, order, 2, id); true }
      if (crashed) crashes += 1
      model = next; ts = last
      val t = store(_ => ())
      assertModel(t, model, batch)
      // no kept manifest references a missing or empty dir
      val kept = keptManifests(path)
      kept.flatMap(dirsOf).distinct.foreach { d =>
        val files = Option(new java.io.File(s"$path/$d").listFiles()).getOrElse(Array.empty)
        assert(files.exists(_.getName.endsWith(".parquet")), s"batch $batch: $d missing")
      }
      // no orphan outside the GC window, once a commit's GC has run (a
      // crash inside GC leaves them to the next commit)
      if (!(crashed && point == ParquetUpsertTable.Gc)) {
        val live = kept.flatMap(dirsOf).map(_.split('/').take(2).mkString("/")).toSet
        val disk = Option(new java.io.File(s"$path/data").listFiles()).getOrElse(Array.empty)
          .map(f => s"data/${f.getName}").toSet
        assert(disk == live, s"batch $batch: orphans ${disk -- live}")
      }
      // a redelivered batch id takes effect once: a replay carrying
      // different changes is skipped without a commit
      val v = version(path)
      t.merge(model.keys.toSeq.map(k => (k, "replayed", "d", ts + 1)).toDF("k", "v", "__op", "__source_ts_ms")
        .withColumn("__seq", monotonically_increasing_id()), order, 2, id)
      assert(version(path) == v, s"batch $batch: redelivery committed")
      assertModel(t, model, batch)
      assert(t.committedBatch == id)
      // every NULL-PK row is quarantined once, however often its batch ran
      assert(t.nullPkQuarantine().count() == ghostBatches.collect { case (b, n) if b <= batch => n }.sum,
        s"batch $batch: quarantine")
    }
    assert(crashes > 0, s"crash point $point never reached")
    assert(store(_ => ()).schemaHistory().map(_.fieldNames.toSeq) ==
      Seq(Seq("k", "v"), Seq("k", "v", "extra")))
  }

  ParquetUpsertTable.CrashPoints.foreach { point =>
    test(s"crash at $point, restart and redelivery: store equals the model, files whole, batch applied once") {
      crashRun(point)
    }
  }
}

class NullPkMergeSpec extends SparkSuite {
  import graft.operators.ParquetUpsertTable
  import spark.implicits._

  test("NULL-PK change events are quarantined, not appended once per batch") {
    val path = tmpDir("nullpk") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"), numBuckets = 4)
    // the seed path quarantines too: a seeded NULL-PK row would be
    // permanently un-upsertable
    t.seed(Seq((Option(1L), "a"), (Option.empty[Long], "seedghost")).toDF("k", "v"))
    def batch(ts: Long) = Seq(
      (Option(2L), "b", "c", ts), (Option.empty[Long], "ghost", "c", ts))
      .toDF("k", "v", "__op", "__source_ts_ms")
      .withColumn("__seq", monotonically_increasing_id())
    t.merge(batch(1), Seq(col("__source_ts_ms"), col("__seq")))
    t.merge(batch(2), Seq(col("__source_ts_ms"), col("__seq")))
    val rows = t.read().as[(Option[Long], String)].collect().toSeq
    assert(rows.count(_._1.isEmpty) == 0, s"null-PK rows leaked: $rows")
    assert(rows.sortBy(_._1) == Seq((Some(1L), "a"), (Some(2L), "b")))
    // the drop is observable: every violation landed in the quarantine
    assert(t.nullPkQuarantine().count() == 3L) // 1 seed + 2 merges
  }

  test("merge-on-read deltas apply the same NULL-PK quarantine policy") {
    val path = tmpDir("nullpkdelta") + "/t"
    val t = new ParquetUpsertTable(spark, path, Seq("k"))
    t.seed(Seq((Option(1L), "a")).toDF("k", "v"))
    t.merge(Seq(
      (Option(2L), "b", "c", 1L), (Option.empty[Long], "ghost", "c", 1L))
      .toDF("k", "v", "__op", "__source_ts_ms")
      .withColumn("__seq", monotonically_increasing_id()),
      Seq(col("__source_ts_ms"), col("__seq")))
    assert(t.deltaCount == 1) // the batch went through the delta path
    val rows = t.read().select("k", "v").as[(Option[Long], String)].collect().toSeq
    assert(rows.count(_._1.isEmpty) == 0, s"null-PK rows leaked: $rows")
    assert(spark.read.parquet(s"$path.nullpk").count() == 1L)
  }
}
