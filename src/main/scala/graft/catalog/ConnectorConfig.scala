package graft.catalog

import graft.operators.SmtChain
import graft.operators.SmtChain._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Loader for Kafka-Connect-shaped connector configs — the reference's
  * entire source/sink surface is 18 such JSONs
  * (reference: connectors/sources/mariadb/ and
  * connectors/sinks/postgres/ dirs). Parsing one into a [[TableMeta]]
  * set plus an [[SmtChain]] makes parity per-config, not per-primitive:
  * a user points the engine at the config they already deploy.
  *
  * Covered vocabulary (same keys, same ordering semantics — the
  * `transforms` list applies left to right):
  *  - `table.include.list` → [[SmtChain.IncludeList]]
  *  - `io.debezium.transforms.ExtractNewRecordState` → [[SmtChain.Unwrap]]
  *  - `org.apache.kafka.connect.transforms.RegexRouter` → [[SmtChain.RegexRoute]]
  *  - `...transforms.Cast$Value` (spec `col:boolean,col:int16`) →
  *    [[SmtChain.CastValues]] (reference: connectors/sinks/postgres/trading.json:36-38)
  *  - `...transforms.ReplaceField$Value` with a `TopicNameMatches`
  *    predicate → [[SmtChain.RenameIf]] (reference:
  *    connectors/sources/mariadb/live.json — renames `user:owner_user_id`
  *    when the topic matches `.*T_CARRIER`)
  *  - `${VAR}` placeholders resolved against a caller-supplied
  *    environment map (reference: .env.template)
  */
final case class ConnectorConfig(name: String, config: Map[String, String]) {

  private def get(key: String): Option[String] = config.get(key).map(_.trim)

  /** Resolve `${VAR}` placeholders from `env`; unknown vars are left
    * verbatim (the reference's docker-compose does the same).
    */
  def resolved(env: Map[String, String]): ConnectorConfig = {
    val Var = raw"\$$\{([A-Za-z0-9_]+)\}".r
    copy(config = config.map { case (k, v) =>
      k -> Var.replaceAllIn(v, m =>
        java.util.regex.Matcher.quoteReplacement(
          env.getOrElse(m.group(1), m.matched)))
    })
  }

  def topicPrefix: Option[String] = get("topic.prefix")
  def snapshotMode: Option[String] = get("snapshot.mode")
  def insertMode: Option[String] = get("insert.mode")
  def schemaEvolution: Option[String] = get("schema.evolution")
  def heartbeatIntervalMs: Option[Long] = get("heartbeat.interval.ms").map(_.toLong)

  /** `db.table` pairs from `table.include.list`. */
  def includeList: Seq[(String, String)] =
    get("table.include.list").toSeq.flatMap(_.split(',').toSeq)
      .map(_.trim).filter(_.contains('.'))
      .map { item =>
        val Array(db, table) = item.split("\\.", 2): @unchecked
        (db, table)
      }

  /** Table names this connector captures (S4 allowlist semantics). */
  def tables: Seq[String] = includeList.map(_._2)

  /** Parse one `Cast$Value` spec string: `col:boolean,col2:int16`. */
  private def parseCastSpec(spec: String): Map[String, DataType] =
    spec.split(',').toSeq.map(_.trim).filter(_.contains(':')).map { kv =>
      val Array(c, t) = kv.split(":", 2): @unchecked
      c -> ConnectorConfig.connectType(t)
    }.toMap

  /** The ordered SMT chain declared by `transforms`, with an
    * [[SmtChain.IncludeList]] prepended when the connector filters
    * tables (Kafka Connect applies the include list at the source,
    * before any SMT).
    */
  def toSmtChain: Seq[Smt] = {
    val declared = get("transforms").toSeq
      .flatMap(_.split(',').toSeq).map(_.trim).filter(_.nonEmpty)
      .flatMap { t =>
        get(s"transforms.$t.type").map(_.split('.').last) match {
          case Some("ExtractNewRecordState") => Some(Unwrap)
          case Some("RegexRouter") =>
            Some(RegexRoute("__topic",
              get(s"transforms.$t.regex").getOrElse(".*"),
              get(s"transforms.$t.replacement").getOrElse("$0")))
          case Some("Cast$Value") =>
            Some(CastValues(parseCastSpec(get(s"transforms.$t.spec").getOrElse(""))))
          case Some("ReplaceField$Value") =>
            val renames = get(s"transforms.$t.renames").toSeq
              .flatMap(_.split(',').toSeq).map(_.trim).filter(_.contains(':'))
              .map { kv =>
                val Array(from, to) = kv.split(":", 2): @unchecked
                from -> to
              }.toMap
            val pattern = get(s"transforms.$t.predicate")
              .flatMap(p => get(s"predicates.$p.pattern"))
              .getOrElse(".*")
            Some(RenameIf(pattern, renames))
          case _ => None // unknown SMT: transport/serialization-level, no row semantics
        }
      }
    val include =
      if (includeList.nonEmpty) Seq(IncludeList(includeList)) else Nil
    include ++ declared
  }

  /** Sink-side column repairs (bit(1)→boolean etc.) keyed by column. */
  def castRepairs: Map[String, DataType] =
    toSmtChain.collect { case CastValues(c) => c }.foldLeft(Map.empty[String, DataType])(_ ++ _)

  /** TableMetas for this connector's tables: keys/timestamps from the
    * provided catalog discovery (INFORMATION_SCHEMA tier or parquet
    * tier), bit/cast columns and conditional renames from THIS config —
    * the same split as the reference, where Debezium owns transforms and
    * the validator discovers keys from the database catalog.
    */
  def tableMetas(discover: String => Option[TableMeta]): Map[String, TableMeta] = {
    val boolRepairs = castRepairs.collect { case (c, BooleanType) => c }.toSeq
    val renames = toSmtChain.collect { case RenameIf(pat, r) => (pat, r) }
    // each table's topic is built from ITS OWN database in the include
    // list — using the head entry's db would mis-build topics for every
    // other database and silently drop their conditional renames
    val dbOf = includeList.map { case (db, tb) => tb -> db }.toMap
    tables.flatMap { t =>
      discover(t).map { m =>
        val applies = renames.filter { case (pat, _) =>
          s"${topicPrefix.getOrElse("")}.${dbOf.getOrElse(t, "")}.$t"
            .matches(pat) || t.matches(pat)
        }.flatMap(_._2).toMap
        // the config's cast spec spans the connector's whole table set
        // (reference castBits lists columns across tables); columns a
        // given table lacks are inert in Envelope.castColumns
        t -> m.copy(
          bitCols = (m.bitCols ++ boolRepairs).distinct,
          renames = m.renames ++ applies,
          casts = m.casts ++ castRepairs)
      }
    }.toMap
  }
}

object ConnectorConfig {

  /** Kafka-Connect logical type names → Spark types (the `Cast$Value`
    * spec vocabulary).
    */
  def connectType(t: String): DataType = t.trim.toLowerCase match {
    case "boolean" => BooleanType
    case "int8" => ByteType
    case "int16" => ShortType
    case "int32" => IntegerType
    case "int64" => LongType
    case "float32" => FloatType
    case "float64" => DoubleType
    case "string" => StringType
    case other => throw new IllegalArgumentException(s"unsupported cast type: $other")
  }

  def parse(json: String): ConnectorConfig = {
    val j = JsonMethods.parse(json)
    val name = j \ "name" match {
      case JString(s) => s
      case _ => sys.error("connector config missing 'name'")
    }
    val cfg = j \ "config" match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => sys.error("connector config missing 'config'")
    }
    ConnectorConfig(name, cfg)
  }

  def load(path: String): ConnectorConfig =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))
}
