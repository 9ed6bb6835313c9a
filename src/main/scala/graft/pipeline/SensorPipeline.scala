package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bronze → Silver → Gold → Serve transforms — the reference's two dbt
  * models and the serve query, re-expressed as composable
  * `DataFrame => DataFrame` plan fragments.
  *
  * All transforms are pure plan builders (no actions) so Catalyst can push
  * filters/prune columns across the whole pipeline, and so the identical
  * logic serves batch, incremental (see [[Incremental]]) and streaming
  * (see [[graft.streaming.StreamingPipeline]]) execution.
  *
  * Reference semantics: dbt/models/staging/stg_readings.sql (silver),
  * dbt/models/marts/mart_daily_power.sql (gold),
  * src/db/repositories/readings.py:25-49 (serve).
  */
object SensorPipeline {

  /** Columnar twin of the SQL line parse+validate
    * (stg_readings.sql:48-99): whitespace tokenize via SPLIT_PART
    * equivalents, blank filter, the three validation regexes, casts,
    * epoch→timestamp, date extraction.
    *
    * Stays entirely inside whole-stage codegen: split/element_at/rlike/
    * cast are all codegen'd Catalyst expressions — no UDFs.
    */
  def bronzeToSilver(bronze: DataFrame, processedAt: Column = current_timestamp()): DataFrame = {
    // EXACT stg_readings.sql semantics (the layer of record, SURVEY
    // §7.3): SPLIT_PART on a single space — no trim, no token-count
    // check. Extra trailing tokens are ignored (fields 1-3 decide);
    // a doubled space yields an empty field that fails its regex. The
    // stricter Python rules (exactly 3 tokens, \s+ split) live at the
    // API edge in LineParser.parseLine, as in the reference.
    val toks = split(col("raw_line"), " ")
    // try_element_at ≡ SPLIT_PART's missing-field behavior (returns null
    // here, '' in SQL — both fail the validation regexes identically).
    def tok(i: Int) = coalesce(try_element_at(toks, lit(i)), lit(""))
    bronze
      // P2: blank/null filter (stg_readings.sql:52-54)
      .filter(col("raw_line").isNotNull && length(trim(col("raw_line"))) > 0)
      .select(
        col("id").as("raw_id"),
        tok(1).as("timestamp_str"),
        tok(2).as("metric_name"),
        tok(3).as("value_str"),
        col("ingested_at"))
      // P3: validation regexes (stg_readings.sql:57-74). The extra bound
      // is ours: a long-enough digit string passes ^\d+$ but overflows
      // the timestamp — TimestampType is MICROSECOND-backed, so
      // timestamp_seconds throws past Long.MaxValue/1e6 ≈ 9.22e12 s
      // (≈ year 294,247; an 18-digit value fits a Long but not ×1e6).
      // try_cast + numeric bound (not a string-length check, which would
      // also reject numerically-small values written with leading zeros
      // that Postgres's ::bigint accepts). Postgres would abort the whole
      // dbt run on overflow; we drop the row instead of killing the job
      // (documented divergence).
      .filter(
        col("timestamp_str").rlike("^\\d+$") &&
          expr("try_cast(timestamp_str AS BIGINT)").isNotNull &&
          expr("try_cast(timestamp_str AS BIGINT)") <= lit(Long.MaxValue / 1000000L) &&
          col("metric_name").rlike("^[A-Za-z]") &&
          col("value_str").rlike("^-?\\d+\\.?\\d*$"))
      // P5-P7: casts, epoch→ts, date (stg_readings.sql:84-93)
      .select(
        col("raw_id"),
        timestamp_seconds(col("timestamp_str").cast(LongType)).as("reading_time"),
        col("metric_name"),
        col("value_str").cast(DoubleType).as("metric_value"),
        to_date(timestamp_seconds(col("timestamp_str").cast(LongType))).as("reading_date"),
        processedAt.as("processed_at"))
  }

  /** Gold daily Power mart (mart_daily_power.sql:30-87): filter to the two
    * input metrics, pivot via conditional aggregation (join-elimination —
    * ONE shuffle on reading_date instead of two aggregates + a join),
    * require both metrics present, project Power = avg(V) * avg(I).
    */
  def silverToGold(silver: DataFrame, calculatedAt: Column = current_timestamp()): DataFrame =
    silver
      .filter(col("metric_name").isin("Voltage", "Current")) // F2 (mart:34)
      .groupBy(col("reading_date"))
      .agg(
        // A1/P11: AVG over CASE WHEN, null-skipping (mart:49-56)
        avg(when(col("metric_name") === "Voltage", col("metric_value"))).as("avg_voltage"),
        avg(when(col("metric_name") === "Current", col("metric_value"))).as("avg_current"))
      // F5: both-sides-present guard (mart:65-68)
      .filter(col("avg_voltage").isNotNull && col("avg_current").isNotNull)
      .select(
        lit("Power").as("metric_name"), // P9 (mart:73)
        (col("avg_voltage") * col("avg_current")).as("metric_value"), // P10 (mart:63)
        col("reading_date"),
        // P12: date → midnight-UTC timestamp (mart:82)
        col("reading_date").cast(TimestampType).as("reading_time"),
        calculatedAt.as("calculated_at"))

  /** Serve query (readings.py:25-49): identical half-open date-range
    * predicate on both layers, 3-column projection, UNION ALL, total order
    * by (reading_time, metric_name). Partition pruning on reading_date
    * replaces the reference's btree indexes.
    */
  def serve(silver: DataFrame, gold: DataFrame, fromDate: String, toDate: String): DataFrame = {
    def branch(df: DataFrame): DataFrame =
      df.filter(col("reading_date") >= lit(fromDate) && col("reading_date") < lit(toDate)) // F1
        .select(col("reading_time"), col("metric_name"), col("metric_value"))
    branch(silver)
      .unionByName(branch(gold)) // O1
      .orderBy(col("reading_time"), col("metric_name")) // O2
  }

  /** The response's time format (format_timestamp data.py:150-153):
    * ms-truncated ISO-8601 Z — one definition for [[formatResponse]] and
    * the serve cache's pre-formatted strings.
    */
  val ResponseTimeFormat = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

  /** JSON-response projection (data.py:110-126) with
    * [[ResponseTimeFormat]] strings.
    */
  def formatResponse(served: DataFrame): DataFrame =
    served.select(
      date_format(col("reading_time"), ResponseTimeFormat).as("time"), // P15
      col("metric_name").as("name"),
      col("metric_value").as("value"))
}

/** dbt-style merge/upsert (incremental_strategy='merge' on unique_key;
  * stg_readings.sql:15-17, mart_daily_power.sql:17-19) without a
  * Delta/Iceberg jar: (target ANTI source-keys) ∪ source, with an explicit
  * deterministic within-batch tie-break the reference leaves to Postgres
  * MERGE (SURVEY §4.3).
  */
object Merge {

  /** Deduplicate `updates` to one row per key: highest orderCol wins
    * (last-writer-wins by ingest time, id as tie-break).
    */
  def dedupeLatest(updates: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    updates
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Logical merge: rows of `target` whose key has no update, plus the
    * deduped updates. Caller commits the result through [[TxTable]].
    */
  def merge(target: DataFrame, updates: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val deduped = dedupeLatest(updates, keys, order)
    target.join(deduped.select(keys.map(col): _*), keys, "left_anti").unionByName(deduped)
  }

  /** The affected-partition merge of the streaming sessions sink
    * (silver's is `Incremental.silverMerge`, which also takes the append
    * path): [[merge]] `updates` into only the `target` partitions they
    * touch. Returns those `partitionCol` values and the partitions' FULL
    * new content for `TxTable.commit` (or `stage` + `publish`) to restage;
    * None when `updates` is empty, the updates alone with no target.
    * Sound because the keys fix a row's partition (raw_id its
    * reading_date, session_start its session_date). The values come from
    * [[partitionValues]]; the literal IN filter prunes at planning time,
    * so no broadcast job runs.
    */
  def intoPartitions(target: Option[DataFrame], updates: DataFrame, partitionCol: String,
      keys: Seq[String], order: Seq[Column]): Option[(Seq[Any], DataFrame)] = {
    val values = partitionValues(updates, partitionCol)
    if (values.isEmpty) None
    else Some(values -> target.fold(updates)(t =>
      merge(t.filter(col(partitionCol).isin(values: _*)), updates, keys, order)))
  }

  /** The distinct values of `column` in `df`, for a literal IN filter that
    * prunes partitions at planning time: one job, no exchange (per-task
    * sets merged on the driver).
    */
  private[pipeline] def partitionValues(df: DataFrame, column: String): Seq[Any] =
    partitionValuesAndKeys(df, column, None)._1

  /** [[partitionValues]], and in the same job the smallest and largest
    * non-null value of the long column `key` when one is named (None when
    * it has none). */
  private[pipeline] def partitionValuesAndKeys(df: DataFrame, column: String,
      key: Option[String]): (Seq[Any], Option[(Long, Long)]) =
    CallSites(df.sparkSession, "Merge.partitionValues") {
      val (values, lo, hi) = df.select((column +: key.toSeq).map(col): _*).rdd
        .mapPartitions { rows =>
          var (vs, lo, hi) = (Set.empty[Any], Long.MaxValue, Long.MinValue)
          rows.foreach { row =>
            vs += row.get(0)
            if (row.length > 1 && !row.isNullAt(1)) {
              lo = math.min(lo, row.getLong(1)); hi = math.max(hi, row.getLong(1))
            }
          }
          Iterator((vs, lo, hi))
        }
        .fold((Set.empty[Any], Long.MaxValue, Long.MinValue)) { case ((v1, l1, h1), (v2, l2, h2)) =>
          (v1 ++ v2, math.min(l1, l2), math.max(h1, h2))
        }
      (values.toSeq, if (lo <= hi) Some((lo, hi)) else None)
    }
}

/** Incremental runner — the reference's two hand-rolled "optimizer rules"
  * (SURVEY §4.1): processing-time watermark pruning of Bronze
  * (stg_readings.sql:32-38) and affected-day reselect for Gold
  * (mart_daily_power.sql:36-46). Both are application-level in the
  * reference and stay application-level here; the physical win at scale is
  * that silver/gold are [[TxTable]]s partitioned by reading_date, so both
  * increments return only the affected days: each reads, and its commit
  * rewrites, only the changed partitions.
  *
  * Both rules are answered from the TxTable log when it can vouch for the
  * answer, with no scan (the way Structured Streaming's offset and commit
  * logs tell a restart where it stood), and by the whole-table watermark
  * scan otherwise:
  *   - the silver watermark is the `#watermark` of the version the silver
  *     target frame reads. The scan runs when the target is not a whole
  *     [[TxTable.read]] of one version (a checkpointed, filtered or
  *     hand-built frame), or that version recorded no watermark: a
  *     manifest written before the `#` lines, a [[TxTable.deleteWhere]],
  *     [[TxTable.compactLeveled]] or rebased append, a commit of a frame
  *     whose processed_at is no [[AuditStamp]] (a caller's column that is
  *     not foldable, or a foldable one below the watermark), or a publish
  *     onto another version than the one the frame read (a stale target);
  *   - the largest committed `raw_id`, which decides whether the silver
  *     merge is an append ([[silverMerge]]), is the `#maxkey` of that
  *     version. One `max(raw_id)` scan runs when it has none (folded into
  *     the watermark scan when that runs too); a target that is no whole
  *     version takes the anti-join merge with no scan. Every merge frame
  *     is vouched with the new largest key, so the next commit records it;
  *   - gold's days are the silver manifest keys whose dir list differs
  *     between Vs, the silver version gold's commit recorded (its
  *     `#read`), and Vcur, the version the silver frame reads — no job.
  *     The scan runs when there is no gold target, either frame is not a
  *     whole read of one version, gold's manifest recorded no read of
  *     that silver root, Vs or Vcur is vacuumed, or Vs is newer than
  *     Vcur. The diff assumes what the scan assumes: the commit that
  *     recorded Vs brought gold up to date with silver at Vs. It differs
  *     from the scan in one way: a silver commit that restages a day
  *     without newer processed_at (a [[TxTable.deleteWhere]] of part of
  *     it) changes the day's dirs, so the diff recomputes that day, which
  *     the scan misses. The gold frame is vouched to cover those days, so
  *     its commit drops the row of a day whose recompute is empty.
  *
  * In the steady state of hourly increments `silverIncrement` runs one
  * job (the day-set job, which also finds the smallest fresh key), its
  * commit writes only the fresh rows, as one new run per day, and
  * `goldAffectedDays` runs none.
  */
object Incremental {
  import SensorPipeline._

  val epoch0 = new Timestamp(0L)

  /** Scalar watermark: COALESCE(MAX(processed_at), epoch) over the target
    * (stg_readings.sql:35; mart_daily_power.sql:42). A driver-side scalar
    * (one tiny agg job) — identical shape to the reference's scalar
    * subquery.
    */
  def watermark(target: Option[DataFrame], tsCol: String): Timestamp =
    target match {
      case None => epoch0
      case Some(df) => CallSites(df.sparkSession, "Incremental.watermark") {
        Option(df.agg(max(col(tsCol))).head().getTimestamp(0)).getOrElse(epoch0)
      }
    }

  /** One Silver increment: bronze rows newer than the watermark, parsed,
    * merged into the affected days only ([[silverMerge]]; the empty fresh
    * rows when none is valid). Meant for `TxTable.commit` or `stage` +
    * `publish`, which keep every other day.
    *
    * The watermark comes from the log when it can (see the object doc).
    * `processedAt` is resolved to one driver value, truncated to
    * microseconds: the default `current_timestamp()` becomes
    * max(now, watermark), and any other foldable timestamp column is
    * evaluated once. When that value is at or above the watermark and the
    * target is a whole TxTable version (or absent) it is carried as an
    * [[AuditStamp]], so the commit records it as the new watermark; a
    * column that is not foldable is used as given.
    */
  def silverIncrement(
      bronze: DataFrame,
      silverTarget: Option[DataFrame],
      processedAt: Column = current_timestamp()): DataFrame = {
    val spark = bronze.sparkSession
    val snap = silverTarget.flatMap(TxTable.snapshotOf)
    val logged = snap.flatMap { case (root, v) => TxTable.commitInfo(spark, root, v) }
      .getOrElse(CommitInfo.empty)
    // a whole version whose commit recorded no watermark: the scan finds
    // the largest key too
    val scanned = silverTarget.filter(_ => snap.nonEmpty && logged.watermark.isEmpty).map(maxima)
    val wm = logged.watermark.map(DateTimeUtils.toJavaTimestamp)
      .orElse(scanned.map(_._1))
      .getOrElse(watermark(silverTarget, "processed_at"))
    val stamp = resolveStamp(spark, processedAt, DateTimeUtils.fromJavaTimestamp(wm),
      if (silverTarget.isEmpty) Some(None) else snap.map(Some(_)))
    val fresh = bronzeToSilver(bronze.filter(col("ingested_at") > lit(wm)), stamp) // F3
    mergeFresh(silverTarget, fresh, scanned.map(_._2), None).fold(fresh)(_._2)
  }

  /** (max(processed_at) or epoch, max(raw_id) or Long.MinValue) of
    * `target`: one scan for the watermark and the largest key. */
  private def maxima(target: DataFrame): (Timestamp, Long) =
    CallSites(target.sparkSession, "Incremental.watermark") {
      val r = target.agg(max(col("processed_at")), max(col("raw_id"))).head()
      (Option(r.getTimestamp(0)).getOrElse(epoch0), if (r.isNullAt(1)) Long.MinValue else r.getLong(1))
    }

  /** `processedAt` as one driver value (see [[silverIncrement]]): an
    * [[AuditStamp]] over `base` (Some(None): over no table) when it is at
    * or above `wm` micros and `base` is known, else a plain literal; the
    * column itself when it is not a foldable timestamp. */
  private def resolveStamp(spark: SparkSession, processedAt: Column, wm: Long,
      base: Option[Option[(String, Long)]]): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, CurrentTimestamp, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
    import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}
    val probe =
      try Some(DatasetBridge.ofRows(spark, OneRowRelation()).select(processedAt.as("p")).queryExecution)
      catch { case _: org.apache.spark.sql.AnalysisException => None } // reads a column
    val value: Option[Long] = probe.flatMap { qe =>
      qe.analyzed match {
        case Project(Seq(Alias(_: CurrentTimestamp, _)), _) =>
          Some(math.max(DateTimeUtils.instantToMicros(java.time.Instant.now()), wm))
        case _ => qe.optimizedPlan match {
          case Project(Seq(Alias(Literal(us: Long, TimestampType), _)), _) => Some(us)
          case _ => None
        }
      }
    }
    value.fold(processedAt) { us =>
      ColumnBridge.column(base match {
        case Some(b) if us >= wm => AuditStamp(us, b)
        case _ => Literal(us, TimestampType)
      })
    }
  }

  /** The silver merge of the batch increment and the streaming silver
    * sinks: the merge of `fresh` silver rows into the `reading_date` days
    * they touch, keyed on `raw_id`, latest `processed_at` (then
    * `reading_time`) winning, as [[Merge.intoPartitions]] does. Returns
    * those days and their FULL new content; None when `fresh` has no row.
    * Sound because raw_id fixes a row's day: the reference's bronze is
    * append-only with serial ids, as the streaming tiers assume.
    *
    * Serial ids make the merge an append: when every fresh raw_id is
    * above the target's largest one, no committed row is replaced, and
    * the content is `target.filter(reading_date IN days) ∪
    * dedupeLatest(fresh)`, with no anti-join. With a whole TxTable
    * version as target the frame is vouched as a [[TxTable.Extension]]
    * of it, so its commit writes only the fresh rows ([[TxTable.stage]]).
    * The smallest fresh key comes from the day-set job; the largest
    * committed one from the version's `#maxkey`, else from one
    * `max(raw_id)` scan. The frame is vouched with the table's new
    * largest key, so the commit records it.
    * A replayed or colliding key, or a target that is no whole version,
    * takes the anti-join merge.
    *
    * A caller that knows bounds on the fresh raw_ids by construction
    * passes them as `keyRange` (the streaming sinks: each micro-batch's
    * ids lie in its batch's id block). The bounds stand in for the
    * smallest and largest fresh key, so the day-set job reads no raw_id:
    * one that derives from a window (the sinks' replay-stable ids) would
    * cost it a shuffle.
    */
  def silverMerge(silverTarget: Option[DataFrame], fresh: DataFrame,
      keyRange: Option[(Long, Long)] = None): Option[(Seq[Any], DataFrame)] =
    mergeFresh(silverTarget, fresh, None, keyRange)

  /** [[silverMerge]], with the target's largest key when a scan already
    * found it. */
  private def mergeFresh(silverTarget: Option[DataFrame], fresh: DataFrame,
      scannedMax: Option[Long], keyRange: Option[(Long, Long)]): Option[(Seq[Any], DataFrame)] = {
    val (days, found) = Merge.partitionValuesAndKeys(fresh, "reading_date",
      if (keyRange.isEmpty) Some("raw_id") else None)
    val keys = keyRange.orElse(found)
    if (days.isEmpty) None
    else Some(days -> (silverTarget match {
      case None => TxTable.vouch(fresh, maxKey = keys.map(_._2))
      case Some(target) =>
        val order = Seq(col("processed_at").desc, col("reading_time").desc)
        val slice = target.filter(col("reading_date").isin(days: _*))
        val committed = TxTable.snapshotOf(target).map { case (root, v) =>
          scannedMax.orElse(TxTable.commitInfo(fresh.sparkSession, root, v).flatMap(_.maxKey))
            .getOrElse(maxima(target)._2)
        }
        val maxKey = committed.map(c => keys.fold(c)(k => math.max(c, k._2)))
        committed match {
          case Some(c) if keys.forall(_._1 > c) =>
            val added = Merge.dedupeLatest(fresh, Seq("raw_id"), order)
            TxTable.vouch(slice.unionByName(added), maxKey = maxKey,
              extension = Some(TxTable.Extension(target, days, added)))
          case _ => TxTable.vouch(Merge.merge(slice, fresh, Seq("raw_id"), order), maxKey = maxKey)
        }
    }))
  }

  /** The recomputed affected-day Gold rows only — the FULL new content
    * of every day that received new silver since gold's last commit.
    * This is the gold merge: `TxTable.commit(..., "reading_date")`
    * publishes it as one atomic partition override, which is exactly the
    * dbt merge on gold's unique_key = reading_date. The frame is vouched
    * to cover every affected day, so the commit also drops the gold row
    * of a day whose recompute yields none (the both-metrics guard). The
    * days come from the log's diff of silver manifests (see the object
    * doc), else from [[Merge.partitionValues]] over the silver rows newer
    * than gold's watermark; either way the recompute scans only their
    * silver partitions.
    */
  def goldAffectedDays(
      silver: DataFrame,
      goldTarget: Option[DataFrame],
      calculatedAt: Column = current_timestamp()): DataFrame = {
    val dayType = silver.schema("reading_date").dataType
    val days: Seq[Any] = loggedDays(silver, goldTarget).getOrElse {
      val wm = watermark(goldTarget, "calculated_at")
      Merge.partitionValues(silver.filter(col("processed_at") > lit(wm)), "reading_date")
    }
    TxTable.vouch(silverToGold(silver.filter(col("reading_date").isin(days.map(d => lit(d).cast(dayType)): _*)),
      calculatedAt), covers = days)
  }

  /** Gold's affected days from the log: the silver manifest keys changed
    * between the version gold's target commit read and the one `silver`
    * reads, unescaped and sorted; None when the log cannot vouch. */
  private[pipeline] def loggedDays(silver: DataFrame,
      goldTarget: Option[DataFrame]): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for {
      gold <- goldTarget
      (goldRoot, vg) <- TxTable.snapshotOf(gold)
      (root, vcur) <- TxTable.snapshotOf(silver)
      vs <- TxTable.commitInfo(silver.sparkSession, goldRoot, vg).flatMap(_.reads.get(root))
      if vs <= vcur
      keys <- TxTable.changedKeys(silver.sparkSession, root, vs, vcur)
    } yield keys.toSeq.sorted.filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      .map(ExternalCatalogUtils.unescapePathName)
  }
}

/** Data-quality assertion operators — the dbt yml test surface
  * (_staging.yml:13-46, _marts.yml:15-48) as a tiny ADT evaluated in ONE
  * pass over the table via conditional-sum aggregation (SURVEY §2.8), not
  * one scan per rule.
  */
object Quality {
  /** dbt severity semantics (_marts.yml:32-37): `error` fails the
    * pipeline, `warn` is reported but non-fatal.
    */
  sealed trait Severity
  case object Error extends Severity
  case object Warn extends Severity

  sealed trait Check {
    def name: String; def violation: Column
    def severity: Severity = Error
  }
  final case class NotNull(column: String) extends Check {
    val name = s"not_null_$column"
    val violation: Column = col(column).isNull
  }
  final case class AcceptedValues(column: String, values: Seq[String]) extends Check {
    val name = s"accepted_values_$column"
    val violation: Column = !col(column).isin(values: _*) || col(column).isNull
  }
  final case class ExpressionIsTrue(
      name: String, expr: Column, override val severity: Severity = Error) extends Check {
    val violation: Column = !expr
  }
  // `unique` needs a grouped pass; evaluated separately below.
  final case class Unique(column: String) extends Check {
    val name = s"unique_$column"
    val violation: Column = lit(false)
  }

  final case class QualityFailure(failing: Seq[(String, Long)])
    extends RuntimeException(
      s"quality checks failed: ${failing.map { case (n, v) => s"$n=$v" }.mkString(", ")}")

  /** The in-pipeline gate (DbtTestOperator analog,
    * sensor_data_pipeline.py:93-96): throws on error-level violations,
    * returns warn-level ones.
    */
  def assertAll(df: DataFrame, checks: Seq[Check]): Seq[(String, Long)] = {
    val bySeverity = checks.map(c => c.name -> c.severity).toMap
    val violations = CallSites(df.sparkSession, "Quality.assertAll")(run(df, checks).collect())
      .map(r => r.getString(0) -> r.getLong(1))
      .filter(_._2 > 0)
    val (errors, warns) = violations.partition { case (n, _) =>
      bySeverity.getOrElse(n, Error) == Error
    }
    if (errors.nonEmpty) throw QualityFailure(errors.toSeq)
    warns.toSeq
  }

  /** One row: (check_name, violations). All scalar checks fold into a
    * single aggregate (single scan); each unique check adds one grouped
    * aggregate over just its key column.
    */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val (uniques, scalars) = checks.partition(_.isInstanceOf[Unique])
    // coalesce: sum over ZERO rows is NULL — an empty table must report
    // 0 violations (dbt tests pass on empty models), not NPE downstream
    val scalarAggs = scalars.map(c =>
      coalesce(sum(when(c.violation, 1L).otherwise(0L)), lit(0L)).as(c.name))
    val base =
      if (scalarAggs.nonEmpty) {
        val row = df.agg(scalarAggs.head, scalarAggs.tail: _*)
        // unpivot to (check_name, violations); names are user-supplied,
        // so backtick-quote the identifier and escape quotes in the
        // literal — an unquoted name with a space/quote would otherwise
        // fail to parse (or break out of the string)
        val exprs = scalars.map { c =>
          val lit = c.name.replace("'", "\\'")
          val ident = c.name.replace("`", "``")
          s"'$lit', `$ident`"
        }.mkString(", ")
        row.selectExpr(s"stack(${scalars.size}, $exprs) as (check_name, violations)")
      } else df.sparkSession.emptyDataFrame
        .selectExpr("'' as check_name", "0L as violations").limit(0)
    uniques.foldLeft(base) { (acc, u) =>
      val c = u.asInstanceOf[Unique].column
      val dup = df.groupBy(col(c)).count().filter(col("count") > 1)
        .agg(coalesce(sum(col("count")), lit(0L)).as("violations"))
        .select(lit(s"unique_$c").as("check_name"), col("violations"))
      acc.unionByName(dup)
    }
  }

  /** The reference's full declared test surface for silver + gold. */
  def silverChecks: Seq[Check] =
    Seq("raw_id", "reading_time", "metric_name", "metric_value", "reading_date", "processed_at")
      .map(NotNull.apply) ++
      Seq(AcceptedValues("metric_name", Seq("Voltage", "Current")), Unique("raw_id"))

  def goldChecks: Seq[Check] =
    Seq("metric_name", "metric_value", "reading_date", "reading_time", "calculated_at")
      .map(NotNull.apply) ++
      Seq(
        AcceptedValues("metric_name", Seq("Power")),
        // severity warn in the reference (_marts.yml:32-37)
        ExpressionIsTrue("power_non_negative", col("metric_value") >= 0, Warn),
        Unique("reading_date"))
}
