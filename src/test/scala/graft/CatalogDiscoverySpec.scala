package graft

import graft.catalog.{CatalogDiscovery, ConnectorConfig, TableMeta}
import graft.operators.SmtChain
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class CatalogDiscoverySpec extends SparkSuite {

  test("S4: lake directory discovery finds every bundled table") {
    val tables = CatalogDiscovery.discoverTables(spark, sf001)
    assert(tables.toSet == Set("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem", "events", "documents", "embeddings"))
  }

  test("S4: allowlist parsing strips schema prefixes (reference get_allowlist)") {
    assert(CatalogDiscovery.parseAllowlist(
      "xchange_trading.T_DEAL, xchange_trading.T_RELEASE ,T_LOCAL") ==
      Seq("T_DEAL", "T_RELEASE", "T_LOCAL"))
  }

  test("S5: parquet discovery derives the hand-written testTables map") {
    val discovered = CatalogDiscovery.discoverAll(spark, sf001)
    assert(discovered.keySet == TableMeta.testTables.keySet)
    TableMeta.testTables.foreach { case (name, expect) =>
      val got = discovered(name)
      assert(got.pkCols == expect.pkCols, s"$name PKs: ${got.pkCols} vs ${expect.pkCols}")
      assert(got.tsCol == expect.tsCol, s"$name ts: ${got.tsCol} vs ${expect.tsCol}")
    }
  }

  test("S5: strict INFORMATION_SCHEMA discovery — ordinal PKs, bit cols, ts patterns") {
    // catalog rows shaped like the reference's two INFORMATION_SCHEMA
    // queries joined (validation.py:222-246) for a T_DEAL-like table
    val rows = Seq(
      Row("t_deal", "version", "bigint", "bigint(20)", 2, 2),
      Row("t_deal", "id", "bigint", "bigint(20)", 1, 1),
      Row("t_deal", "instant", "bit", "bit(1)", 3, null),
      Row("t_deal", "critical", "tinyint", "tinyint(1)", 4, null),
      Row("t_deal", "LAST_MODIFIED_DATE", "timestamp", "timestamp", 5, null),
      Row("t_deal", "amount", "decimal", "decimal(10,2)", 6, null),
      Row("t_orphan", "data", "text", "text", 1, null)) // no PK -> rejected
    val catalog = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), CatalogDiscovery.CatalogSchema)
    val metas = CatalogDiscovery.fromInformationSchema(catalog)
    assert(metas.keySet == Set("t_deal")) // strict: orphan dropped
    val m = metas("t_deal")
    assert(m.pkCols == Seq("id", "version")) // pk ordinal, not table ordinal
    assert(m.bitCols == Seq("instant", "critical"))
    assert(m.tsCol.contains("LAST_MODIFIED_DATE"))
  }

  test("S5: the JDBC catalog queries are the reference's, verbatim semantics") {
    val pk = CatalogDiscovery.keyColumnUsageSql("xchange_trading", "T_DEAL")
    assert(pk.contains("KEY_COLUMN_USAGE") && pk.contains("CONSTRAINT_NAME = 'PRIMARY'")
      && pk.contains("ORDER BY ORDINAL_POSITION"))
    val cols = CatalogDiscovery.columnsSql("xchange_trading", "T_DEAL")
    assert(cols.contains("INFORMATION_SCHEMA.COLUMNS") && cols.contains("COLUMN_TYPE"))
  }

  test("columnsFromParquet produces the catalog shape usable by the strict tier") {
    val catalog = CatalogDiscovery.columnsFromParquet(spark, sf001, "lineitem")
    val metas = CatalogDiscovery.fromInformationSchema(catalog)
    assert(metas("lineitem").pkCols == Seq("l_orderkey", "l_linenumber"))
  }

  test("FK introspection round-trips a live Derby composite FK into TableMeta.fks") {
    // reference parity: migrate_v3.py:338-369 extracts FK constraints
    // (even though the sink skips creating them) — here via the standard
    // JDBC metadata API against the embedded Derby tier
    val url = "jdbc:derby:memory:graftfk;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE T_ORDER (
          |  ORDER_ID BIGINT NOT NULL, LINE_NO INT NOT NULL,
          |  PRIMARY KEY (ORDER_ID, LINE_NO))""".stripMargin)
      st.execute(
        """CREATE TABLE T_SHIPMENT (
          |  SHIP_ID BIGINT NOT NULL PRIMARY KEY,
          |  ORDER_ID BIGINT, LINE_NO INT,
          |  CONSTRAINT FK_SHIP_ORDER FOREIGN KEY (ORDER_ID, LINE_NO)
          |    REFERENCES T_ORDER (ORDER_ID, LINE_NO))""".stripMargin)
      st.close()
    } finally conn.close()
    val fkRows = CatalogDiscovery.foreignKeysFromJdbc(spark, url, "T_SHIPMENT")
    import org.apache.spark.sql.Row
    val catalog = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("T_SHIPMENT", "SHIP_ID", "bigint", "bigint", 1, Integer.valueOf(1)),
        Row("T_SHIPMENT", "ORDER_ID", "bigint", "bigint", 2, null),
        Row("T_SHIPMENT", "LINE_NO", "int", "int", 3, null)), 1),
      CatalogDiscovery.CatalogSchema)
    val metas = CatalogDiscovery.fromInformationSchema(catalog, Some(fkRows))
    val fks = metas("T_SHIPMENT").fks
    assert(fks.size == 1)
    val fk = fks.head
    assert(fk.name == "FK_SHIP_ORDER")
    assert(fk.columns == Seq("ORDER_ID", "LINE_NO")) // ordinal order kept
    assert(fk.refTable == "T_ORDER")
    assert(fk.refColumns == Seq("ORDER_ID", "LINE_NO"))
    // the reference's MySQL-dialect FK query stays available verbatim
    val sql = CatalogDiscovery.foreignKeysSql("xchange_trading", "T_DEAL")
    assert(sql.contains("REFERENCED_TABLE_NAME IS NOT NULL")
      && sql.contains("ORDER BY CONSTRAINT_NAME, ORDINAL_POSITION"))
  }

  test("secondary-index introspection round-trips live Derby indexes into TableMeta.indexes") {
    // reference parity: migrate_v3.py:307-336 extracts secondary indexes
    // via SHOW INDEX (skipping PRIMARY) and phase 3 rebuilds them on the
    // sink (migrate_v3.py:459-481) — here via JDBC metadata against the
    // embedded Derby tier, with the PK's backing index excluded by
    // column list (Derby names it a generated conglomerate, not PRIMARY)
    val url = "jdbc:derby:memory:graftidx;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE T_DEAL (
          |  DEAL_ID BIGINT NOT NULL PRIMARY KEY,
          |  BUYER_ID BIGINT, SELLER_ID BIGINT, STATE VARCHAR(16))""".stripMargin)
      st.execute("CREATE INDEX IX_DEAL_PARTIES ON T_DEAL (BUYER_ID, SELLER_ID)")
      st.execute("CREATE UNIQUE INDEX UX_DEAL_STATE ON T_DEAL (STATE)")
      st.close()
    } finally conn.close()
    val idxRows = CatalogDiscovery.indexesFromJdbc(spark, url, "T_DEAL")
    import org.apache.spark.sql.Row
    val catalog = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("T_DEAL", "DEAL_ID", "bigint", "bigint", 1, Integer.valueOf(1)),
        Row("T_DEAL", "BUYER_ID", "bigint", "bigint", 2, null),
        Row("T_DEAL", "SELLER_ID", "bigint", "bigint", 3, null),
        Row("T_DEAL", "STATE", "varchar", "varchar(16)", 4, null)), 1),
      CatalogDiscovery.CatalogSchema)
    val metas = CatalogDiscovery.fromInformationSchema(catalog, None, Some(idxRows))
    val idxs = metas("T_DEAL").indexes
    assert(idxs.map(_.name).toSet == Set("IX_DEAL_PARTIES", "UX_DEAL_STATE"),
      s"got: $idxs") // PK backing index excluded
    val parties = idxs.find(_.name == "IX_DEAL_PARTIES").get
    assert(parties.columns == Seq("BUYER_ID", "SELLER_ID") && !parties.unique)
    val state = idxs.find(_.name == "UX_DEAL_STATE").get
    assert(state.columns == Seq("STATE") && state.unique)
    // sink rebuild DDL renders the reference's phase-3 shape
    assert(CatalogDiscovery.renderCreateIndex("trading", "T_DEAL", parties) ==
      """CREATE INDEX "ix_deal_parties" ON "trading"."t_deal" ("buyer_id", "seller_id")""")
    // the reference's literal catalog queries stay available
    assert(CatalogDiscovery.showIndexSql("T_DEAL") == "SHOW INDEX FROM T_DEAL")
    assert(CatalogDiscovery.statisticsSql("xchange_trading", "T_DEAL")
      .contains("INDEX_NAME <> 'PRIMARY'"))
  }
}

class ConnectorConfigSpec extends SparkSuite {

  private val refSource = s"$refDir/connectors/sources/mariadb/live.json"
  private val refSink = s"$refDir/connectors/sinks/postgres/trading.json"

  test("round-trip: the reference live source config loads to the hand-built chain") {
    // ScaleOpsSpec builds IncludeList -> Unwrap -> RenameIf(.*T_CARRIER,
    // user->owner_user_id) by hand; the loader must derive the same
    // semantics from the deployed config file
    val cfg = ConnectorConfig.load(refSource)
    val chain = cfg.toSmtChain
    assert(chain.head.isInstanceOf[SmtChain.IncludeList])
    val SmtChain.IncludeList(allow) = chain.head: @unchecked
    assert(allow.contains(("xchangelive", "T_CARRIER")) && allow.size == 10)
    assert(chain(1) == SmtChain.Unwrap)
    assert(chain(2) == SmtChain.RenameIf(".*T_CARRIER", Map("user" -> "owner_user_id")))
    assert(cfg.snapshotMode.contains("schema_only"))
    assert(cfg.heartbeatIntervalMs.contains(30000L))
  }

  test("round-trip: the reference trading sink config yields route + cast repairs") {
    val cfg = ConnectorConfig.load(refSink)
    val chain = cfg.toSmtChain
    val route = chain.collectFirst { case r: SmtChain.RegexRoute => r }.get
    assert(route.pattern == raw"xchange_trading_v2\.xchange_trading\.(.*)")
    assert(route.replacement == "trading_$1")
    val casts = cfg.castRepairs
    assert(casts("instant") == BooleanType)
    assert(casts("critical") == BooleanType)
    assert(casts("vents") == ShortType)
    assert(casts("free_storage_days") == ShortType)
    assert(cfg.insertMode.contains("upsert") && cfg.schemaEvolution.contains("basic"))
  }

  test("config + discovery produce complete TableMetas (S5 through the loader)") {
    val cfg = ConnectorConfig.load(refSource)
    // catalog tier stubbed with a simple id PK for each captured table
    val metas = cfg.tableMetas(t => Some(TableMeta(t, Seq("id"))))
    assert(metas.keySet == cfg.tables.toSet)
    assert(metas("T_CARRIER").renames == Map("user" -> "owner_user_id"))
    assert(metas("T_LOCATION").renames.isEmpty) // predicate doesn't match
  }

  test("check 0: metadata completeness over the discovered lake") {
    val listed = CatalogDiscovery.discoverTables(spark, sf001)
    val metas = CatalogDiscovery.discoverAll(spark, sf001)
    // every bundled table carries a PK (CDC-keyable); ts presence varies
    val full = CatalogDiscovery.metadataCompleteness(listed, metas)
    assert(full.nonEmpty)
    assert(full.forall(_._2), s"PK-less tables: ${full.filterNot(_._2).map(_._1)}")
    assert(full.exists(_._3)) // at least one ts-bearing table
    // a listed table that discovery could NOT key must be flagged, not
    // silently dropped — this is the failure check 0 exists to catch
    val withGhost = CatalogDiscovery.metadataCompleteness(
      listed :+ "keyless_table", metas)
    assert(withGhost.exists(r => r._1 == "keyless_table" && !r._2 && !r._3))
  }

  test("detectTemporal: typed timestamp outranks a loose name-suffix match") {
    import org.apache.spark.sql.types._
    // "candidate" ends in the TemporalNamePattern's date$ suffix but is a
    // free-text string; the typed timestamp later in the schema must win
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("candidate", StringType),
      StructField("modified_ts_col", TimestampNTZType)))
    assert(CatalogDiscovery.detectTemporal(schema).contains("modified_ts_col"))
    // no temporal-typed column at all: the name convention is still the
    // last-resort tier (raw CDC payloads, epoch longs like events.ts)
    val untyped = StructType(Seq(
      StructField("id", LongType), StructField("ts", LongType)))
    assert(CatalogDiscovery.detectTemporal(untyped).contains("ts"))
  }

  test("placeholder resolution substitutes ${VAR} from the env map") {
    val cfg = ConnectorConfig.parse(
      """{"name":"c","config":{"database.hostname":"${TRADING_HOST}","topic.prefix":"p"}}""")
      .resolved(Map("TRADING_HOST" -> "db.internal"))
    assert(cfg.config("database.hostname") == "db.internal")
    val unresolved = ConnectorConfig.parse(
      """{"name":"c","config":{"k":"${MISSING}"}}""").resolved(Map.empty)
    assert(unresolved.config("k") == "${MISSING}")
  }
}
