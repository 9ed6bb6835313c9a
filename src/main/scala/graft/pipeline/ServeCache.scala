package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-side pinned-snapshot serve tier — the sub-10 ms path in
  * front of [[Serve.range]].
  *
  * The measured per-call floor of the Spark serve path is job
  * scheduling, not data (BASELINE.md: p50 139 ms warm with both
  * frames pinned in memory). The reference solves this by fronting
  * dbt outputs with Postgres (`/root/reference/src/db/repositories/
  * readings.py:25-49` — the API never touches the pipeline engine);
  * this is the same architectural move inside the library: the
  * serve-shaped slice of silver+gold is collected ONCE per table
  * version into a driver-side array pre-sorted in response order and
  * pre-formatted (ISO-ms strings), and a range call is two binary
  * searches plus an array slice — no Spark job at all.
  *
  * Bounded by contract: `maxRows` caps the collect (the serve store
  * is day-grain gold plus a bounded silver window in any real
  * deployment; a snapshot above the cap throws rather than silently
  * eating the driver heap — the repo's guarded-collect discipline).
  *
  * Staleness contract (spec'd in ServeCacheSpec):
  *  - reads serve the SNAPSHOT version pinned at construction or at
  *    the last successful [[refreshIfStale]] — never a mix of
  *    versions (the snapshot swap is one volatile write; concurrent
  *    readers see the old array or the new one, both internally
  *    consistent with one (silver, gold) manifest version pair);
  *  - [[version]] exposes the pinned pair, so a writer needing
  *    read-your-writes refreshes after its commit and checks the
  *    version advanced — the manifest is the truth, the cache never
  *    invents a version;
  *  - [[refreshIfStale]] is a no-op (returns false) when the latest
  *    manifest versions equal the pinned pair: steady-state serving
  *    costs two manifest listings, not a rebuild.
  *
  * Response-order invariant: [[Serve.range]] orders by (reading_time,
  * metric_name) while the cache slices by reading_date; the two agree
  * because reading_date is derived from reading_time in every store
  * producer (silver normalization, gold day grain), making date runs
  * time-contiguous. That derivation is VALIDATED at snapshot load
  * (one linear pass: event-time must be nondecreasing in
  * (date, time, name) order) — a store that breaks it fails loudly at
  * refresh, never serves misordered ranges.
  */
final class ServeCache private (
    spark: SparkSession, silverRoot: String, goldRoot: String, maxRows: Long) {

  import ServeCache._

  private def latestVersions: (Long, Long) =
    (TxTable.latest(spark, silverRoot)._1, TxTable.latest(spark, goldRoot)._1)

  /** Reads BOTH tables at the exact versions the manifest listing
    * returned ([[TxTable.readAt]]): a commit racing the rebuild cannot
    * bleed half-new rows into a snapshot stamped with the old version. */
  private def loadSnapshot(): Snapshot = {
    val (vs, vg) = latestVersions
    buildSnapshot(
      TxTable.readAt(spark, silverRoot, vs),
      TxTable.readAt(spark, goldRoot, vg), vs, vg, maxRows)
  }

  @volatile private var snap: Snapshot = loadSnapshot()

  /** The (silver, gold) TxTable versions this cache is serving. */
  def version: (Long, Long) = (snap.vSilver, snap.vGold)

  /** Reload iff the latest committed versions differ from the pinned
    * pair. Returns true when a new snapshot was installed. */
  def refreshIfStale(): Boolean = synchronized {
    val cur = (snap.vSilver, snap.vGold)
    if (latestVersions == cur) false
    else { snap = loadSnapshot(); true }
  }

  /** [[Serve.range]] semantics off the pinned snapshot: same parameter
    * parsing ([[Serve.parseRange]]), same half-open normalized day
    * range, same response rows in the same order — (time ISO-ms string,
    * name, value) — with no Spark job. */
  def range(
      fromStr: Option[String],
      toStr: Option[String]): Either[String, Seq[(String, String, Double)]] =
    Serve.parseRange(fromStr, toStr).map { case (fromDay, toBound) =>
      val s = snap
      val lo = lowerBound(s.dates, fromDay.toString)
      val hi = lowerBound(s.dates, toBound.toString)
      (lo until hi).map(i => (s.iso(i), s.name(i), s.value(i)))
    }
}

object ServeCache {

  /** Column-wise snapshot (four parallel arrays beat an array of case
    * classes for a few-hundred-MB pinned store: no per-row object
    * header, and the date column is only touched by the binary
    * search). Sorted by (date, event-time micros, name). */
  private[pipeline] final case class Snapshot(
      vSilver: Long, vGold: Long,
      dates: Array[String], iso: Array[String],
      name: Array[String], value: Array[Double])

  /** First index with dates(i) >= key (the classic lower bound). */
  private def lowerBound(dates: Array[String], key: String): Int = {
    var lo = 0; var hi = dates.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (dates(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def buildSnapshot(
      silver: DataFrame, gold: DataFrame, vSilver: Long, vGold: Long,
      maxRows: Long): Snapshot = {
    def slice(df: DataFrame) = df.select(
      col("reading_date").cast("string").as("d"),
      unix_micros(col("reading_time")).as("us"),
      date_format(col("reading_time"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("iso"),
      col("metric_name").cast("string").as("n"),
      col("metric_value").cast("double").as("v"))
    val union = slice(silver).unionByName(slice(gold))
    val n = union.count()
    require(n <= maxRows,
      s"serve store is $n rows, above the $maxRows cache bound — " +
        "this snapshot does not belong on the driver; serve it from the Spark path")
    val rows = union
      .orderBy(col("d"), col("us"), col("n"))
      .collect() // bounded by the explicit maxRows guard above
    // response-order invariant: (date, time, name) order must BE
    // (time, name) order. The nondecreasing-time check alone is not
    // sufficient — two rows with EQUAL reading_time but different
    // reading_date pass it yet would serve names mis-ordered across
    // the date boundary relative to Serve.range's (time, name) order —
    // so validate reading_date = date(reading_time) directly per row,
    // derived under the SESSION timezone (the zone the store's date
    // slices were cast under) — hardcoding UTC would false-fire on
    // valid data whenever a deployment runs non-UTC.
    val zone = java.time.ZoneId.of(
      union.sparkSession.conf.get(
        "spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))
    var i = 0
    while (i < rows.length) {
      val d = rows(i).getString(0)
      val us = rows(i).getLong(1)
      val derived = java.time.Instant
        .ofEpochSecond(Math.floorDiv(us, 1000000L))
        .atZone(zone).toLocalDate.toString
      require(d == derived,
        s"serve store violates reading_date = date(reading_time) at row $i: " +
          s"date '$d' vs time-derived '$derived' — " +
          "cached ranges would misorder; fix the store producer")
      if (i > 0) require(us >= rows(i - 1).getLong(1),
        s"serve store event time decreases in (date,time,name) order around " +
          s"${rows(i - 1).getString(0)} / $d — " +
          "cached ranges would misorder; fix the store producer")
      i += 1
    }
    Snapshot(vSilver, vGold,
      rows.map(_.getString(0)), rows.map(_.getString(2)),
      rows.map(_.getString(3)), rows.map(_.getDouble(4)))
  }

  /** Version-consistent cache over committed silver/gold [[TxTable]]s. */
  def fromTxTables(
      spark: SparkSession, silverRoot: String, goldRoot: String,
      maxRows: Long = 2000000L): ServeCache =
    new ServeCache(spark, silverRoot, goldRoot, maxRows)
}
