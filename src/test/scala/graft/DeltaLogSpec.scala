package graft

import graft.operators.ParquetUpsertTable
import org.apache.spark.sql.functions._

/** The merge-on-read side of the keyed store: each merge appends a
  * delta, reads collapse base and deltas, and compaction folds them.
  */
class DeltaLogSpec extends SparkSuite {
  import spark.implicits._

  private def changes(rows: (Long, String, String, Long)*) =
    rows.toSeq.toDF("k", "v", "__op", "__source_ts_ms")
      .withColumn("__seq", monotonically_increasing_id())
  private val order = Seq(col("__source_ts_ms"), col("__seq"))

  test("append-only merge-on-read: upserts, deletes, cross-batch order") {
    val t = new ParquetUpsertTable(spark, tmpDir("dlog") + "/t", Seq("k"))
    t.merge(changes((1L, "a", "c", 1L), (2L, "b", "c", 1L)), order)
    assert(t.read().as[KV].collect().sortBy(_.k).toSeq == Seq(KV(1, "a"), KV(2, "b")))
    t.merge(changes((1L, "a2", "u", 2L), (3L, "c", "c", 2L)), order)
    t.merge(changes((2L, "", "d", 3L)), order)
    assert(t.read().as[KV].collect().sortBy(_.k).toSeq == Seq(KV(1, "a2"), KV(3, "c")))
    assert(t.deltaCount == 2) // seed + 2 appends
  }

  test("delete then re-insert resolves by delta order") {
    val t = new ParquetUpsertTable(spark, tmpDir("dlog2") + "/t", Seq("k"))
    t.merge(changes((1L, "a", "c", 1L)), order)
    t.merge(changes((1L, "", "d", 2L)), order)
    t.merge(changes((1L, "reborn", "c", 3L)), order)
    assert(t.read().as[KV].collect().toSeq == Seq(KV(1, "reborn")))
  }

  test("compaction folds deltas into base without changing the view") {
    val t = new ParquetUpsertTable(spark, tmpDir("dlog3") + "/t", Seq("k"))
    t.merge(changes((1L, "a", "c", 1L), (2L, "b", "c", 1L)), order)
    t.merge(changes((1L, "a2", "u", 2L)), order)
    val before = t.read().as[KV].collect().sortBy(_.k).toSeq
    t.compact()
    assert(t.deltaCount == 0)
    assert(t.read().as[KV].collect().sortBy(_.k).toSeq == before)
    // merges keep working after compaction
    t.merge(changes((2L, "", "d", 3L)), order)
    assert(t.read().as[KV].collect().sortBy(_.k).toSeq == Seq(KV(1, "a2")))
  }

  test("auto-compaction triggers at the threshold") {
    val t = new ParquetUpsertTable(spark, tmpDir("dlog4") + "/t", Seq("k"))
    t.merge(changes((1L, "a", "c", 1L)), order)
    (1 to 3).foreach(i => t.merge(changes((1L, s"v$i", "u", i + 1L)), order, maxDeltas = 3))
    assert(t.deltaCount == 0) // compacted at the 3rd delta
    assert(t.read().as[KV].collect().toSeq == Seq(KV(1, "v3")))
  }
}

class OrchestratorSpec extends SparkSuite {
  import graft.catalog.TableMeta
  import graft.streaming.CdcOrchestrator
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._

  test("two tables stream concurrently under one orchestrator") {
    implicit val sqlCtx = spark.sqlContext
    val orch = new CdcOrchestrator(spark, tmpDir("orch"))
    val s1 = MemoryStream[Env]; val s2 = MemoryStream[Env]
    orch.register(TableMeta("ta", Seq("k")), s1.toDF(),
      snapshot = Some(Seq(RowKV(1, "seeded")).toDF()))
    orch.register(TableMeta("tb", Seq("k")), s2.toDF())
    s1.addData(Env("u", 2, SrcMeta("db", "ta", 2), RowKV(1, "seeded"), RowKV(1, "u1")))
    s2.addData(Env("c", 1, SrcMeta("db", "tb", 1), null, RowKV(7, "b1")))
    spark.streams.active.foreach(_.processAllAvailable())
    assert(orch.running == Seq("ta", "tb"))
    orch.stopAll()
    assert(orch.table("ta").get.read().as[RowKV].collect().toSeq == Seq(RowKV(1, "u1")))
    assert(orch.table("tb").get.read().as[RowKV].collect().toSeq == Seq(RowKV(7, "b1")))
  }
}

class ConfigDrivenOrchestratorSpec extends SparkSuite {
  import graft.catalog.{ConnectorConfig, TableMeta}
  import graft.streaming.CdcOrchestrator
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._

  test("a deployed reference config stands up the whole table set end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    val cfg = ConnectorConfig.load(s"$refDir/connectors/sources/mariadb/live.json")
    // catalog tier: a simple id PK per captured table (no MariaDB here)
    val (orch, metas) = CdcOrchestrator.fromConfig(spark, tmpDir("cfgorch"), cfg,
      t => Some(TableMeta(t, Seq("k"))))
    assert(metas.keySet == cfg.tables.toSet && metas.size == 10)
    // config semantics flow through: T_CARRIER carries the conditional rename
    assert(metas("T_CARRIER").renames == Map("user" -> "owner_user_id"))
    // every table's store resolves before any stream starts
    assert(cfg.tables.forall(t => orch.table(t).isDefined))

    // drive one configured table through its pipeline
    val s1 = MemoryStream[Env]
    orch.register(metas("T_CARRIER"), s1.toDF(),
      snapshot = Some(Seq(RowKV(5, "seeded")).toDF()))
    s1.addData(Env("u", 2, SrcMeta("xchangelive", "T_CARRIER", 2),
      RowKV(5, "seeded"), RowKV(5, "updated")))
    spark.streams.active.foreach(_.processAllAvailable())
    orch.stopAll()
    assert(orch.table("T_CARRIER").get.read().as[RowKV].collect().toSeq ==
      Seq(RowKV(5, "updated")))
  }
}
