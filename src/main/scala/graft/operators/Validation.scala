package graft.operators

import graft.catalog.TableMeta
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC validation suite — the Spark form of the reference's 6-check
  * validator plus the documented-but-unimplemented checks 7/9 (reference:
  * tests/validation.py:300-788, tests/README.md:16-27), and the forensic
  * drift analysis (reference: tests/drift_analysis.py:141-455).
  *
  * Every check is a single declarative DataFrame plan: Catalyst prunes to
  * the PK/timestamp columns at the parquet scan, aggregations are
  * partial+final (map-side combine), and the anti-join is distributed —
  * the reference's 10M-row driver-memory cap (tests/validation.py:570-576)
  * does not apply.
  */
object Validation {

  /** One check verdict (mirrors CheckResult, reference:
    * tests/validation.py:80-93).
    */
  case class CheckResult(check: String, status: String, details: Map[String, String])
  case class TableValidationReport(table: String, checks: Seq[CheckResult]) {
    // Status folding: any FAIL ⇒ FAIL; any WARN ⇒ not cdc_consistent
    // (reference: tests/validation.py:756-775).
    def status: String =
      if (checks.exists(_.status == "FAIL")) "FAIL"
      else if (checks.exists(_.status == "WARN")) "WARN" else "PASS"
    def cdcConsistent: Boolean = status == "PASS"
  }

  private def pkCountDistinct(pkCols: Seq[String]): Column =
    countDistinct(col(pkCols.head), pkCols.tail.map(col): _*)

  /** Engine-portable detail rendering: timestamps as `yyyy-MM-dd
    * HH:mm:ss` and lag as a fixed 4-decimal string, so an external
    * oracle (DuckDB `strftime`/`printf`) reproduces report rows
    * byte-for-byte — `java.sql.Timestamp.toString`'s variable fraction
    * digits and `Double.toString`'s shortest-representation rules don't
    * exist outside the JVM.
    */
  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def fmtTs(t: java.sql.Timestamp): String =
    if (t == null) "null" else t.toLocalDateTime.format(TsFmt)
  private def fmtLag(m: Double): String = if (m.isNaN) "NaN" else f"$m%.4f"

  /** Check 1 (reference: tests/README.md:19-20 "Table shape (schema
    * matching)" — documented, unimplemented there) — diff source vs sink
    * StructTypes under the sink identifier rules: configured renames
    * applied, names lowercased (reference: migrate_v3.py:373,396), bit
    * columns allowed to surface as boolean
    * (TinyIntOneToBooleanConverter). Purely driver-side metadata — no
    * scan at any scale.
    */
  case class SchemaDiff(column: String, status: String,
      sourceType: String, sinkType: String)

  def schemaShape(source: org.apache.spark.sql.types.StructType,
      sink: org.apache.spark.sql.types.StructType,
      meta: TableMeta): (CheckResult, Seq[SchemaDiff]) = {
    import org.apache.spark.sql.types._
    val sinkByName = sink.fields.map(f => f.name.toLowerCase -> f).toMap
    val expected = source.fields.map { f =>
      val renamed = meta.renames.getOrElse(f.name, f.name).toLowerCase
      (renamed, f)
    }
    val bitSet = meta.bitCols.map(_.toLowerCase).toSet
    val diffs = expected.flatMap { case (name, sf) =>
      sinkByName.get(name) match {
        case None =>
          Some(SchemaDiff(name, "missing_in_sink", sf.dataType.simpleString, ""))
        case Some(kf) if kf.dataType != sf.dataType &&
            !(bitSet.contains(name) && kf.dataType == BooleanType) &&
            !meta.casts.get(name).contains(kf.dataType) =>
          Some(SchemaDiff(name, "type_mismatch",
            sf.dataType.simpleString, kf.dataType.simpleString))
        case _ => None
      }
    }.toSeq ++ {
      val expectedNames = expected.map(_._1).toSet
      sink.fields.filter(f => !expectedNames.contains(f.name.toLowerCase) &&
        !f.name.startsWith("__"))
        .map(f => SchemaDiff(f.name.toLowerCase, "extra_in_sink", "", f.dataType.simpleString))
    }
    val status =
      if (diffs.exists(d => d.status == "missing_in_sink" || d.status == "type_mismatch")) "FAIL"
      else if (diffs.nonEmpty) "WARN" else "PASS"
    (CheckResult("schema_shape", status, Map(
      "columns_checked" -> source.fields.length.toString,
      "diffs" -> diffs.map(d => s"${d.column}:${d.status}").mkString(","))), diffs)
  }

  /** Check 5 (reference: tests/README.md:22 "Recent activity flow" —
    * documented, unimplemented there) — distinct from max-ts lag: "did
    * ANY change land in the sink during the last N minutes of source
    * activity?" is the first on-call question when a pipeline stalls.
    * Anchored at the source's max timestamp (not wall clock) so the
    * check is deterministic and replayable. Both scans prune to the ts
    * column.
    */
  def recentActivity(source: DataFrame, sink: DataFrame, tsCol: String,
      windowMinutes: Int = 60,
      knownAnchor: Option[java.sql.Timestamp] = None): CheckResult = {
    // the anchor is max(source.ts): when the caller already computed it
    // (runAllChecks' side profile), reuse it — re-deriving would be a
    // third scan of the source per table
    val anchor = knownAnchor.getOrElse(
      source.agg(max(col(tsCol)).cast("timestamp")).head().getTimestamp(0))
    if (anchor == null)
      return CheckResult("recent_activity", "WARN",
        Map("window_minutes" -> windowMinutes.toString, "reason" -> "empty_source"))
    val lo = new java.sql.Timestamp(anchor.getTime - windowMinutes * 60000L)
    // both sides in ONE action: a side-tagged union scanned as one job
    // (two sequential counts would serialize two scheduler round-trips;
    // the union's scans still run as parallel tasks)
    val tagged = (df: DataFrame, tag: String) => df
      .select(col(tsCol).cast("timestamp").as("__ts"))
      .filter(col("__ts") > lit(lo)).select(lit(tag).as("__side"))
    val counts = tagged(source, "s").unionByName(tagged(sink, "k"))
      .groupBy("__side").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s = counts.getOrElse("s", 0L); val k = counts.getOrElse("k", 0L)
    val status =
      if (s > 0 && k == 0) "FAIL" // source active, sink stalled
      else if (k < s) "WARN"      // partial flow
      else "PASS"                 // flowing (or mutually quiet)
    CheckResult("recent_activity", status, Map(
      "window_minutes" -> windowMinutes.toString,
      "source_recent" -> s.toString, "sink_recent" -> k.toString))
  }

  /** Check 6 (reference: tests/README.md:24 "Delete semantics" —
    * documented there, skipped as not-enabled): sink rows whose PK no
    * longer exists in the source are deletes that never propagated
    * ("ghosts"). The reversed anti-join of J1 — distributed, no row cap.
    */
  def ghostRows(sink: DataFrame, source: DataFrame, pkCols: Seq[String]): DataFrame =
    // shuffle-hash pinned: the build side is the SOURCE KEY SET, which
    // by the check's semantics is ~the sink's row count (deletes are
    // the rare exception being hunted) — never broadcast-small. AQE's
    // compressed-bytes estimate disagrees at bench scale (15 M bigint
    // keys compress under the threshold) and built a ~300 MB hashed
    // relation on the driver: sf10 isolated 8.1 s broadcast vs the
    // pinned per-partition builds; on a cluster the same plan is a
    // driver/executor OOM — the r9/r13 deserialized-relation cliff
    // class. Hash (not merge): an anti join needs no sort order, and
    // the per-partition build is keys-only.
    sink.join(source.select(pkCols.map(col): _*).hint("shuffle_hash"),
      pkCols, "left_anti")

  def deleteSemantics(source: DataFrame, sink: DataFrame, pkCols: Seq[String]): CheckResult = {
    val ghosts = ghostRows(sink, source, pkCols).count()
    CheckResult("delete_semantics", if (ghosts == 0) "PASS" else "FAIL",
      Map("ghost_rows" -> ghosts.toString))
  }

  /** Check 8 (reference: tests/README.md:25 "Sample row content
    * validation"): a deterministic md5-keyed sample of source rows is
    * joined to the sink by PK and compared column-by-column, NULL-safe
    * (<=>); a sink row that is missing entirely also counts as a
    * mismatch. Sampling bounds the cost — content comparison at full
    * scale is J3's row-diff; this is the cheap smoke version the
    * reference runs continuously.
    */
  def sampleContent(source: DataFrame, sink: DataFrame, pkCols: Seq[String],
      sampleSize: Int = 500): DataFrame = {
    val cmpCols = source.columns.filterNot(pkCols.contains)
      .filter(sink.columns.contains).toSeq
    val sampled = source.orderBy(
      md5(concat_ws("|", pkCols.map(c => col(c).cast("string")): _*)) +:
        pkCols.map(col): _*)
      .limit(sampleSize)
    val k = sink.select((pkCols ++ cmpCols).map(c => col(c).as(s"__k_$c")): _*)
    val joined = sampled.join(k,
      pkCols.map(c => col(c) === col(s"__k_$c")).reduce(_ && _), "left")
    // PK-only schemas degrade to an existence check instead of crashing
    // on an empty reduce
    val contentDiffers = cmpCols.map(c => !(col(c) <=> col(s"__k_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val rowMatches = !contentDiffers && col(s"__k_${pkCols.head}").isNotNull
    // aggregate per sampled KEY, not per join row: a duplicate-PK sink
    // fans the left join out, which would inflate sampled_rows past the
    // sample size and double-count mismatches. A key matches if at least
    // one sink row carries identical content.
    joined
      .groupBy(pkCols.map(col): _*)
      .agg(max(rowMatches.cast("int")).as("__matched"))
      .agg(
        count(lit(1)).cast("long").as("sampled_rows"),
        sum(when(col("__matched") === 0, 1L).otherwise(0L))
          .cast("long").as("mismatched_rows"))
      .select(col("sampled_rows"), col("mismatched_rows"),
        when(col("mismatched_rows") === 0, "PASS").otherwise("FAIL").as("status"))
  }

  /** Check 10 (reference: tests/README.md:27 "CDC coverage" —
    * documented, unimplemented there) — is every allowlisted table
    * actually materialized and non-empty? One tiny count-aggregate per
    * table (pruned scan of zero columns), unioned into a single report.
    */
  def cdcCoverage(spark: SparkSession, allowlisted: Seq[String],
      sinkTable: String => Option[DataFrame]): DataFrame = {
    val missing = spark.range(1) // session-anchored row for unmaterialized tables
    val reports = allowlisted.sorted.map { t =>
      sinkTable(t) match {
        case Some(df) =>
          df.agg(count(lit(1)).cast("long").as("sink_rows"))
            .select(lit(t).as("table_name"), col("sink_rows"),
              (col("sink_rows") > 0).as("covered"))
        case None =>
          missing.select(lit(t).as("table_name"), lit(0L).as("sink_rows"),
            lit(false).as("covered"))
      }
    }
    reports.reduceOption(_ unionByName _)
      .getOrElse(missing.limit(0).select(lit("").as("table_name"),
        lit(0L).as("sink_rows"), lit(false).as("covered")))
  }

  /** A2 fast path for 100 TB — HLL pre-check before the exact scan
    * (SURVEY §7.4.5): cheap single-pass approx compare; only on
    * disagreement run the exact shuffle.
    */
  def distinctPkApprox(df: DataFrame, pkCols: Seq[String], rsd: Double = 0.01): Long =
    df.agg(approx_count_distinct(
      concat_ws("", pkCols.map(col(_).cast("string")): _*), rsd).as("d"))
      .head().getLong(0)

  /** A3 / check 4 — duplication + NULL-PK quantification in one scan
    * (reference: tests/validation.py:463-536, arithmetic :499-500).
    */
  def duplicationProfile(df: DataFrame, pkCols: Seq[String]): DataFrame = {
    val nullPk = pkCols.map(col(_).isNull).reduce(_ || _)
    df.agg(
      count(lit(1)).as("total_rows"),
      pkCountDistinct(pkCols).as("distinct_pks"),
      sum(when(nullPk, 1L).otherwise(0L)).as("null_pk_rows"))
      .select(
        col("total_rows").cast("long"),
        col("distinct_pks").cast("long"),
        (col("total_rows") - col("distinct_pks")).cast("long").as("duplicate_rows"),
        (col("total_rows") - col("distinct_pks")).cast("double") * 100.0 /
          col("total_rows").cast("double") as "duplicate_pct",
        coalesce(col("null_pk_rows"), lit(0L)).cast("long").as("null_pk_rows"))
  }

  /** A4 / drift — duplicated PK groups, top-k by occurrence (reference:
    * tests/drift_analysis.py:150-157 `GROUP BY pk HAVING COUNT(*) > 1
    * ORDER BY count DESC LIMIT 100`). Catalyst plans the limit as
    * TakeOrderedAndProject — no global sort.
    */
  def duplicateGroups(df: DataFrame, pkCols: Seq[String], topK: Int = 100): DataFrame =
    df.groupBy(pkCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("occurrence_count"))
      .filter(col("occurrence_count") > 1)
      .orderBy(col("occurrence_count").desc +: pkCols.map(col(_).asc): _*)
      .limit(topK)

  /** P10 — NULL-PK rows (reference: tests/validation.py:491-497). */
  def nullPkRows(df: DataFrame, pkCols: Seq[String]): DataFrame =
    df.filter(pkCols.map(col(_).isNull).reduce(_ || _))

  /** J1 / check 5 — orphan detection: sink PKs absent from the source, as
    * a distributed left-anti join (reference: tests/validation.py:538-638
    * builds a driver-side hash set and caps at 10M rows; Spark's
    * shuffled/broadcast hash anti-join removes the cap). NULL PKs are
    * excluded and counted separately (SURVEY §7.4.3 — the reference
    * treats NULL PKs as violations, not join candidates).
    */
  def orphans(sink: DataFrame, source: DataFrame, pkCols: Seq[String]): DataFrame = {
    val nonNull = (d: DataFrame) => d.filter(pkCols.map(col(_).isNotNull).reduce(_ && _))
    // shuffle-hash pinned, like [[ghostRows]]: the build side is the
    // source key set — table-scale by the check's semantics (orphans
    // are the rare exception), but bigint keys compress under AQE's
    // broadcast threshold at bench scale and the "small" build is a
    // table-sized hashed relation
    nonNull(sink.select(pkCols.map(col): _*))
      .join(nonNull(source.select(pkCols.map(col): _*)).hint("shuffle_hash"),
        pkCols, "left_anti")
      .distinct()
  }

  /** J4 — existence semi-join ("row exists in sink", reference:
    * tests/test_cdc_live.py:268-272).
    */
  def existing(left: DataFrame, right: DataFrame, pkCols: Seq[String]): DataFrame =
    left.join(right, pkCols, "left_semi")

  /** P9 — PK-equality point lookup (reference:
    * tests/test_cdc_live.py:128-153). At scale this prunes to one
    * bucket/partition when the store is PK-bucketed.
    */
  def pointLookup(df: DataFrame, pkValues: Map[String, Any]): DataFrame =
    df.filter(pkValues.map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))

  /** A5 / check 6 — freshness lag: source max(ts) − sink max(ts), FAIL
    * over the SLA (reference: tests/validation.py:640-717, thresholds
    * :73,271,688-694 — 15 min applied, WARN above 80 % of it).
    */
  def freshness(source: DataFrame, sink: DataFrame, tsCol: String,
      slaMinutes: Double = 15.0): CheckResult = {
    val sMax = source.agg(max(col(tsCol)).cast("timestamp")).head().getTimestamp(0)
    val kMax = sink.agg(max(col(tsCol)).cast("timestamp")).head().getTimestamp(0)
    val lagMin =
      if (sMax == null || kMax == null) Double.NaN
      else (sMax.getTime - kMax.getTime) / 60000.0
    val status =
      if (lagMin.isNaN) "WARN"
      else if (lagMin > slaMinutes) "FAIL"
      else if (lagMin > slaMinutes * 0.8) "WARN"
      else "PASS"
    CheckResult("freshness_lag", status, Map(
      "source_max_ts" -> fmtTs(sMax), "sink_max_ts" -> fmtTs(kMax),
      "lag_minutes" -> fmtLag(lagMin)))
  }

  /** A8 / check 7 (documented, unimplemented in the reference —
    * tests/README.md:24-27) — per-column NULL-ratio drift.
    */
  def nullRatios(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c =>
      (sum(when(col(c).isNull, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as(s"null_ratio_$c"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** A8 / check 9 — aggregate invariants over numeric columns: exact
    * decimal sums (order-independent, reproducible across engines) cast
    * to double at the boundary.
    */
  def aggregateInvariants(df: DataFrame, numericCols: Seq[String]): DataFrame = {
    val aggs = numericCols.flatMap { c =>
      Seq(
        sum(col(c).cast("decimal(28,4)")).cast("double").as(s"sum_$c"),
        (sum(col(c).cast("decimal(28,4)")).cast("double") /
          count(col(c)).cast("double")).as(s"avg_$c"))
    } :+ count(lit(1)).cast("long").as("row_cnt")
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Both sides' profiles AND the orphan count out of ONE shuffle.
    *
    * The suite needs, per side: row count, distinct PKs, NULL-PK rows,
    * max timestamp — plus the sink⟂source PK anti-join count. Computed
    * independently (as rounds ≤ 9 did) that is three exact
    * `countDistinct` shuffles of the full PK column plus the
    * anti-join's two exchanges: ~5 corpus-sized shuffles per table,
    * and the r9 sf10 soak measured the suite super-linear (8.6× for
    * 2.5× data — shuffle spill, not scan, is what bends the curve).
    *
    * All five quantities are functions of ONE side-tagged PK-grouped
    * frame: group the union of both sides by the PK columns, counting
    * per-key source/sink rows (carrying per-key max-ts), then fold the
    * per-key frame in a scalar aggregate —
    *   distinct(side)  = keys with a non-NULL PK seen on that side
    *   orphans         = non-NULL keys with sink rows and no source row
    *   totals / NULL-PK rows = sums of the per-key counts
    *   max-ts(side)    = max of the per-key side maxima
    * One shuffle of skinny `(pk, counts, ts-maxima)` rows replaces all
    * five, and both tables are scanned exactly once. Semantics parity:
    * `countDistinct` skips tuples with any NULL field, so the distinct
    * counters exclude NULL-PK keys the same way; the orphan counter
    * reproduces [[orphans]]'s non-NULL filter + distinct.
    */
  private case class SideProfile(total: Long, distinctPks: Long, nullPk: Long,
      maxTs: Option[java.sql.Timestamp])

  private def fusedSuiteProfile(source: DataFrame, sink: DataFrame,
      meta: TableMeta): (SideProfile, SideProfile, Long) = {
    val pk = meta.pkCols.map(col)
    def side(df: DataFrame, s: Int): DataFrame = {
      val tsCols = meta.tsCol.toSeq.map(t => col(t).cast("timestamp").as("__ts"))
      df.select(pk ++ tsCols ++ Seq(lit(s).as("__s")): _*)
    }
    val tagged = side(source, 1).unionByName(side(sink, 0))
    val perKeyTs = meta.tsCol.toSeq.flatMap(_ => Seq(
      max(when(col("__s") === 1, col("__ts"))).as("__s_max"),
      max(when(col("__s") === 0, col("__ts"))).as("__k_max")))
    val perKeyAggs =
      count(when(col("__s") === 1, 1)).as("__s_cnt") +:
      count(when(col("__s") === 0, 1)).as("__k_cnt") +: perKeyTs
    val perKey = tagged.groupBy(pk: _*).agg(perKeyAggs.head, perKeyAggs.tail: _*)
    val nullPk = meta.pkCols.map(col(_).isNull).reduce(_ || _)
    val nonNull = !nullPk
    val finalTs = meta.tsCol.toSeq.flatMap(_ => Seq(
      max(col("__s_max")).as("s_max"), max(col("__k_max")).as("k_max")))
    val aggCols =
      coalesce(sum(col("__s_cnt")), lit(0L)).as("s_total") +:
      coalesce(sum(col("__k_cnt")), lit(0L)).as("k_total") +:
      count(when(col("__s_cnt") > 0 && nonNull, 1)).as("s_distinct") +:
      count(when(col("__k_cnt") > 0 && nonNull, 1)).as("k_distinct") +:
      coalesce(sum(when(nullPk, col("__s_cnt")).otherwise(0L)), lit(0L)).as("s_nullpk") +:
      coalesce(sum(when(nullPk, col("__k_cnt")).otherwise(0L)), lit(0L)).as("k_nullpk") +:
      count(when(col("__k_cnt") > 0 && col("__s_cnt") === 0 && nonNull, 1))
        .as("orphans") +: finalTs
    val r = perKey.agg(aggCols.head, aggCols.tail: _*).head()
    val sMax = meta.tsCol.flatMap(_ => Option(r.getTimestamp(7)))
    val kMax = meta.tsCol.flatMap(_ => Option(r.getTimestamp(8)))
    (SideProfile(r.getLong(0), r.getLong(2), r.getLong(4), sMax),
      SideProfile(r.getLong(1), r.getLong(3), r.getLong(5), kMax),
      r.getLong(6))
  }

  /** Checks 1–6 — the reference's `run_all_checks` orchestration
    * (reference: tests/validation.py:735-788), computed in TWO Spark
    * actions: the fused one-shuffle profile ([[fusedSuiteProfile]] —
    * both side profiles and the orphan count) and the side-tagged
    * recent-activity count, which chains on the profile because the
    * source max-ts is its anchor. Multi-table concurrency lives in
    * [[ValidationRunner]]'s pool.
    *
    * `anti_join_orphans` and `delete_semantics` report the SAME fused
    * counter BY DESIGN: in a keyed CDC mirror an unpropagated delete IS
    * an orphan (both are the sink⟂source PK anti-join; only the
    * narrative differs) — do not split them back into two jobs. Pinned
    * by ValidationSpec ("report the SAME counter by design").
    */
  def runAllChecks(source: DataFrame, sink: DataFrame, meta: TableMeta,
      slaMinutes: Double = 15.0): TableValidationReport = {
    val (shape, _) = schemaShape(source.schema, sink.schema, meta)
    val (sp, kp, orphanCount) = fusedSuiteProfile(source, sink, meta)
    val recent = meta.tsCol.map(ts =>
      recentActivity(source, sink, ts, knownAnchor = sp.maxTs))

    val driftPct = if (sp.total == 0) (if (kp.total == 0) 0.0 else 100.0)
      else math.abs(sp.total - kp.total) * 100.0 / sp.total
    val smoke = CheckResult("row_count_smoke",
      if (driftPct >= 1.0) "FAIL" else if (driftPct >= 0.1) "WARN" else "PASS",
      Map("source_rows" -> sp.total.toString, "sink_rows" -> kp.total.toString,
        "drift_pct" -> f"$driftPct%.4f"))

    val distinct = CheckResult("distinct_pk_cardinality",
      if (sp.distinctPks == kp.distinctPks) "PASS" else "FAIL",
      Map("source_distinct" -> sp.distinctPks.toString,
        "sink_distinct" -> kp.distinctPks.toString,
        "verdict" -> (if (kp.distinctPks > sp.distinctPks) "phantom_rows"
          else if (kp.distinctPks < sp.distinctPks) "data_loss" else "ok")))

    val dupRows = kp.total - kp.distinctPks
    val dupCheck = CheckResult("duplication_profile",
      if (dupRows == 0 && kp.nullPk == 0) "PASS" else "WARN",
      Map("total_rows" -> kp.total.toString,
        "duplicate_rows" -> dupRows.toString,
        "null_pk_rows" -> kp.nullPk.toString))

    val orphanCheck = CheckResult("anti_join_orphans",
      if (orphanCount == 0) "PASS" else "FAIL", Map("orphans" -> orphanCount.toString))

    // check 6 — in a keyed CDC mirror an unpropagated delete IS an orphan
    // (both are the sink⟂source anti-join), so the fused profile's one
    // orphan counter feeds both report rows instead of running twice
    val deletes = CheckResult("delete_semantics",
      if (orphanCount == 0) "PASS" else "FAIL",
      Map("ghost_rows" -> orphanCount.toString))

    val fresh = meta.tsCol.map { _ =>
      val lagMin = (sp.maxTs, kp.maxTs) match {
        case (Some(s), Some(k)) => (s.getTime - k.getTime) / 60000.0
        case _ => Double.NaN
      }
      CheckResult("freshness_lag",
        if (lagMin.isNaN) "WARN"
        else if (lagMin > slaMinutes) "FAIL"
        else if (lagMin > slaMinutes * 0.8) "WARN" else "PASS",
        Map("source_max_ts" -> fmtTs(sp.maxTs.orNull),
          "sink_max_ts" -> fmtTs(kp.maxTs.orNull),
          "lag_minutes" -> fmtLag(lagMin)))
    }

    TableValidationReport(meta.name,
      Seq(shape, smoke, distinct, dupCheck, orphanCheck, deletes) ++
        fresh.toSeq ++ recent.toSeq)
  }
}
