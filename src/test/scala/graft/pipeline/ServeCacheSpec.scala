package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[ServeCache]]: the driver-side pinned-snapshot tier must be
  * byte-for-byte the [[Serve.range]] Spark path (same parsing, same
  * rejects, same rows in the same order), and its staleness contract
  * must hold — version-pinned reads, manifest-driven refresh, atomic
  * snapshot swap, bounded collect.
  */
class ServeCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mkFrames(extraDay: Boolean = false) = {
    val silverRows = Seq(
      ("2024-01-01", "2024-01-01 00:10:00.123456", "click", 1.5),
      ("2024-01-01", "2024-01-01 09:00:00.000001", "view", 2.0),
      ("2024-01-02", "2024-01-02 12:00:00.5", "click", 3.25),
      ("2024-01-03", "2024-01-03 23:59:59.999", "view", 4.0)) ++
      (if (extraDay) Seq(("2024-01-04", "2024-01-04 01:02:03.004", "click", 9.0))
       else Nil)
    (frame(silverRows), frame(goldRows))
  }

  private val goldRows = Seq(
    ("2024-01-01", "2024-01-01 00:00:00", "Power", 3.0),
    ("2024-01-02", "2024-01-02 00:00:00", "Power", 6.5),
    ("2024-01-03", "2024-01-03 00:00:00", "Power", 8.25))

  /** Store rows (reading_date, reading_time text, name, value) as a frame. */
  private def frame(rows: Seq[(String, String, String, Double)]): DataFrame =
    rows.toDF("reading_date", "ts", "metric_name", "metric_value")
      .select(col("reading_date"), to_timestamp(col("ts")).as("reading_time"),
        col("metric_name"), col("metric_value"))

  /** The fixture committed as silver and gold TxTables under a fresh
    * root; returns the two table roots. */
  private def mkTables(frames: (DataFrame, DataFrame)): (String, String) = {
    val base = graft.TestTmp.dir("serve-cache")
    val (sRoot, gRoot) = (s"$base/silver", s"$base/gold")
    TxTable.commit(spark, sRoot, frames._1, "reading_date")
    TxTable.commit(spark, gRoot, frames._2, "reading_date")
    (sRoot, gRoot)
  }

  private def sparkPath(
      silver: DataFrame, gold: DataFrame, f: Option[String], t: Option[String]): Either[String, Seq[(String, String, Double)]] =
    Serve.range(silver, gold, f, t).map(_.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq)

  private val everything = (Some("2000-01-01"), Some("2100-01-01"))

  /** The cache's full range equals, in order, the Spark path over the
    * tables at the cache's pinned versions, which are the latest. */
  private def assertPinnedParity(cache: ServeCache, sRoot: String, gRoot: String,
      session: org.apache.spark.sql.SparkSession = spark): Unit = {
    val (vs, vg) = cache.version
    assert((vs, vg) === (TxTable.latest(session, sRoot)._1, TxTable.latest(session, gRoot)._1))
    val viaSpark = sparkPath(TxTable.readAt(session, sRoot, vs), TxTable.readAt(session, gRoot, vg),
      everything._1, everything._2)
    assert(viaSpark.exists(_.nonEmpty))
    assert(cache.range(everything._1, everything._2) === viaSpark)
  }

  test("cached range equals the Spark serve path across range shapes and reject cases") {
    val (sRoot, gRoot) = mkTables(mkFrames())
    val cache = ServeCache.fromTxTables(spark, sRoot, gRoot)
    val (silver, gold) = (TxTable.read(spark, sRoot), TxTable.read(spark, gRoot))
    val cases = Seq(
      (Some("2024-01-01"), Some("2024-01-02")), // date-only to => inclusive day
      (Some("2024-01-01"), Some("2024-01-01")), // single day
      (Some("2024-01-02"), Some("2024-01-03")),
      (Some("2023-12-01"), Some("2024-02-01")), // superset
      (Some("2024-02-01"), Some("2024-02-05")), // empty
      (Some("2024-01-01T00:00:00"), Some("2024-01-02T00:00:00")), // iso datetime
      (None, Some("2024-01-02")), // missing param
      (Some("2024-01-01"), None),
      (Some("not-a-date"), Some("2024-01-02"))) // invalid format
    cases.foreach { case (f, t) =>
      val viaSpark = sparkPath(silver, gold, f, t)
      val viaCache = cache.range(f, t)
      assert(viaCache === viaSpark, s"divergence for ($f, $t)")
    }
    // and the happy path actually returns interleaved silver+gold rows
    // in (time, name) order with ms-truncated ISO formatting
    val got = cache.range(Some("2024-01-01"), Some("2024-01-01")).toOption.get
    assert(got === Seq(
      ("2024-01-01T00:00:00.000Z", "Power", 3.0),
      ("2024-01-01T00:10:00.123Z", "click", 1.5),
      ("2024-01-01T09:00:00.000Z", "view", 2.0)))
  }

  test("staleness contract: version-pinned reads, manifest-driven refresh, no-op when current") {
    val (sRoot, gRoot) = mkTables(mkFrames())
    val cache = ServeCache.fromTxTables(spark, sRoot, gRoot)
    assert(cache.version === (1L, 1L))
    assert(cache.range(Some("2024-01-04"), Some("2024-01-04")).toOption.get.isEmpty)
    assert(!cache.refreshIfStale(), "refresh must be a no-op at the latest versions")

    // a new silver commit: the cache KEEPS serving the pinned version
    // until refresh — then serves the new one, atomically
    val (silver2, _) = mkFrames(extraDay = true)
    TxTable.appendCommit(spark, sRoot,
      silver2.filter(col("reading_date") === "2024-01-04"), "reading_date")
    assert(cache.version === (1L, 1L), "reads stay version-pinned after a commit")
    assert(cache.range(Some("2024-01-04"), Some("2024-01-04")).toOption.get.isEmpty,
      "stale reads serve the pinned snapshot, not a mix")
    assert(cache.refreshIfStale(), "refresh must observe the new manifest version")
    assert(cache.version === (2L, 1L))
    assert(cache.range(Some("2024-01-04"), Some("2024-01-04")).toOption.get ===
      Seq(("2024-01-04T01:02:03.004Z", "click", 9.0)))
    assert(!cache.refreshIfStale())

    // post-refresh parity with the Spark path over the committed tables
    val viaSpark = sparkPath(
      TxTable.read(spark, sRoot), TxTable.read(spark, gRoot),
      Some("2024-01-01"), Some("2024-01-04"))
    assert(cache.range(Some("2024-01-01"), Some("2024-01-04")) === viaSpark)
  }

  test("concurrent readers during refresh swaps: every read is one whole snapshot, never a mix") {
    // writer commits day k with value k then refreshes; 8 reader
    // threads hammer the full span. The snapshot swap is a single
    // volatile write, so every response must expose a version PREFIX:
    // appended days present = exactly {1..k} for some k, each with its
    // own value — a gap or a value/day mismatch is a torn read.
    val (sRoot, gRoot) = mkTables(mkFrames())
    val cache = ServeCache.fromTxTables(spark, sRoot, gRoot)

    val nDays = 12
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var writing = true
    val readers = (1 to 8).map { _ =>
      new Thread(() => {
        while (writing) {
          cache.range(Some("2025-03-01"), Some("2025-03-28")) match {
            case Left(msg) => failures.add(s"reject mid-swap: $msg"); ()
            case Right(rows) =>
              val days = rows.map(_._1.substring(8, 10).toInt)
              val vals = rows.map(_._3)
              if (days != (1 to days.size).toSeq)
                failures.add(s"non-prefix day set: $days")
              else if (vals != days.map(_.toDouble))
                failures.add(s"value/day mismatch: ${days.zip(vals)}")
              ()
          }
        }
      })
    }
    readers.foreach(_.start())
    (1 to nDays).foreach { day =>
      val d = f"2025-03-$day%02d"
      TxTable.appendCommit(spark, sRoot, frame(Seq((d, s"$d 00:00:01", "click", day.toDouble))),
        "reading_date")
      assert(cache.refreshIfStale(), s"refresh must observe day $day's commit")
    }
    writing = false
    readers.foreach(_.join())
    assert(failures.isEmpty, s"torn reads: ${failures.toArray.take(3).mkString("; ")}")
    val fin = cache.range(Some("2025-03-01"), Some("2025-03-28")).toOption.get
    assert(fin.size == nDays && fin.map(_._3) == (1 to nDays).map(_.toDouble))
  }

  test("bounded collect: a store above maxRows refuses to build; a date/time mismatch fails loudly") {
    val (sRoot, gRoot) = mkTables(mkFrames())
    val e1 = intercept[IllegalArgumentException] {
      ServeCache.fromTxTables(spark, sRoot, gRoot, maxRows = 3)
    }
    assert(e1.getMessage.contains("cache bound"))

    // a store row whose reading_date is NOT date(reading_time) breaks
    // the response-order invariant and must be rejected at load
    val (silver, gold) = mkFrames()
    val bad = silver.unionByName(frame(Seq(("2024-01-09", "2024-01-01 00:00:00", "click", 1.0))))
    val (badRoot, gRoot2) = mkTables((bad, gold))
    val e2 = intercept[IllegalArgumentException] {
      ServeCache.fromTxTables(spark, badRoot, gRoot2)
    }
    assert(e2.getMessage.contains("misorder"))
  }

  test("manifest-diff refresh equals the Spark path after a restage, a gold-only commit, a new day and a delete") {
    val (sRoot, gRoot) = mkTables(mkFrames())
    val cache = ServeCache.fromTxTables(spark, sRoot, gRoot)
    assertPinnedParity(cache, sRoot, gRoot)
    def day(d: String) = cache.range(Some(d), Some(d)).toOption.get

    // one existing day restaged with a changed value
    TxTable.commit(spark, sRoot,
      frame(Seq(("2024-01-02", "2024-01-02 12:00:00.5", "click", 30.25))), "reading_date")
    assert(cache.refreshIfStale())
    assertPinnedParity(cache, sRoot, gRoot)
    assert(day("2024-01-02").map(_._3) === Seq(6.5, 30.25))

    // a gold-only commit
    TxTable.commit(spark, gRoot,
      frame(Seq(("2024-01-03", "2024-01-03 00:00:00", "Power", 80.0))), "reading_date")
    assert(cache.refreshIfStale())
    assertPinnedParity(cache, sRoot, gRoot)
    assert(day("2024-01-03").map(_._3) === Seq(80.0, 4.0))

    // a new day, blind-appended
    TxTable.appendCommit(spark, sRoot,
      frame(Seq(("2024-01-05", "2024-01-05 07:00:00", "view", 5.0))), "reading_date")
    assert(cache.refreshIfStale())
    assertPinnedParity(cache, sRoot, gRoot)

    // a day deleted from silver keeps its gold row; deleted from both, it is gone
    assert(TxTable.deleteWhere(spark, sRoot, "reading_date", col("reading_date") === "2024-01-01") == 2)
    assert(cache.refreshIfStale())
    assertPinnedParity(cache, sRoot, gRoot)
    assert(day("2024-01-01") === Seq(("2024-01-01T00:00:00.000Z", "Power", 3.0)))
    assert(TxTable.deleteWhere(spark, gRoot, "reading_date", col("reading_date") === "2024-01-01") == 1)
    assert(cache.refreshIfStale())
    assertPinnedParity(cache, sRoot, gRoot)
    assert(day("2024-01-01").isEmpty)
    assert(!cache.refreshIfStale())
  }

  test("refresh counts: a one-day append reads only that day, once, in one job; no change, no job") {
    val (sRoot, gRoot) = mkTables(mkFrames())
    val cache = ServeCache.fromTxTables(spark, sRoot, gRoot)
    val (idle, idleJobs) = graft.JobCount(spark)(cache.refreshIfStale())
    assert(!idle && idleJobs == 0, s"a refresh with nothing changed launched $idleJobs jobs")
    TxTable.appendCommit(spark, sRoot,
      frame(Seq(("2024-01-04", "2024-01-04 01:02:03.004", "click", 9.0))), "reading_date")
    val (swapped, jobs, records) = graft.JobCount.withRecords(spark)(cache.refreshIfStale())
    assert(swapped && jobs == 1, s"a refresh after a one-day append launched $jobs jobs")
    // the one new row, read once by the bounded collect; a full reload
    // would read all 8 rows
    assert(records == 1, s"a refresh after a one-day append read $records input records")
    assertPinnedParity(cache, sRoot, gRoot)
  }

  test("refresh after an append increment reads only the appended rows and the changed gold rows, in one job") {
    val base = graft.TestTmp.dir("serve-cache-append")
    val (sRoot, gRoot) = (s"$base/silver", s"$base/gold")
    def bronze(rows: (Long, String)*) = {
      Thread.sleep(2) // ingested after every earlier processed_at
      val at = new java.sql.Timestamp(System.currentTimeMillis())
      rows.map { case (id, l) => (id, l, at) }.toDF("id", "raw_line", "ingested_at")
    }
    def increment(b: DataFrame): Unit = {
      TxTable.commit(spark, sRoot, Incremental.silverIncrement(b, TxTable.committed(spark, sRoot)), "reading_date")
      TxTable.commit(spark, gRoot, Incremental.goldAffectedDays(TxTable.read(spark, sRoot),
        TxTable.committed(spark, gRoot)), "reading_date")
    }
    increment(bronze(1L -> "1649941817 Voltage 1.34", 2L -> "1649941817 Current 12.0",
      3L -> "1650028217 Voltage 2.0", 4L -> "1650028217 Current 10.0"))
    val cache = ServeCache.fromTxTables(spark, sRoot, gRoot)
    val before = TxTable.latest(spark, sRoot)._2
    // later ids: one on 2022-04-15 earlier in the day than its rows, two on a new day
    increment(bronze(5L -> "1650000000 Current 11.0", 6L -> "1650200000 Voltage 4.0",
      7L -> "1650200000 Current 9.0"))
    assert(TxTable.grownBy(before("2022-04-15"), TxTable.latest(spark, sRoot)._2("2022-04-15")).nonEmpty,
      "the silver increment extended 2022-04-15")
    val (swapped, jobs, records) = graft.JobCount.withRecords(spark)(cache.refreshIfStale())
    // 3 appended silver rows and the gold rows of 2022-04-15 and 2022-04-17
    assert(swapped && jobs == 1 && records == 3 + 2,
      s"the refresh ran $jobs jobs over $records records")
    assertPinnedParity(cache, sRoot, gRoot)
    assert(cache.range(Some("2022-04-15"), Some("2022-04-15")).toOption.get.map(_._2) ===
      Seq("Power", "Current", "Current", "Voltage"))
  }

  test("bound on refresh: kept plus reloaded rows above maxRows throw and the old snapshot stays") {
    val (sRoot, gRoot) = mkTables(mkFrames()) // 4 silver + 3 gold rows
    val cache = ServeCache.fromTxTables(spark, sRoot, gRoot, maxRows = 7)
    val before = cache.range(everything._1, everything._2)
    TxTable.appendCommit(spark, sRoot,
      frame(Seq(("2024-01-04", "2024-01-04 01:02:03.004", "click", 9.0))), "reading_date")
    val e = intercept[IllegalArgumentException](cache.refreshIfStale())
    assert(e.getMessage.contains("cache bound"))
    assert(cache.version === (1L, 1L))
    assert(cache.range(everything._1, everything._2) === before)
  }

  test("names at one reading_time sort in Spark's UTF-8 order, on load and on refresh") {
    // U+FF21 sorts before U+1F600 in UTF-8 (and code point) order, after
    // its surrogate pair in UTF-16 order, which String.compareTo uses
    val (fullwidth, emoji) = ("A\uFF21", "A\uD83D\uDE00")
    assert(emoji.compareTo(fullwidth) < 0)
    val (silver, gold) = mkFrames()
    val (sRoot, gRoot) = mkTables((silver.unionByName(frame(Seq(
      ("2024-01-02", "2024-01-02 12:00:00.5", emoji, 7.0),
      ("2024-01-02", "2024-01-02 12:00:00.5", fullwidth, 8.0)))), gold))
    val cache = ServeCache.fromTxTables(spark, sRoot, gRoot)
    assertPinnedParity(cache, sRoot, gRoot)
    assert(cache.range(Some("2024-01-02"), Some("2024-01-02")).toOption.get.map(_._2) ===
      Seq("Power", fullwidth, emoji, "click"))
    TxTable.appendCommit(spark, sRoot, frame(Seq(
      ("2024-01-04", "2024-01-04 08:00:00", emoji, 1.0),
      ("2024-01-04", "2024-01-04 08:00:00", fullwidth, 2.0))), "reading_date")
    assert(cache.refreshIfStale())
    assertPinnedParity(cache, sRoot, gRoot)
    assert(cache.range(Some("2024-01-04"), Some("2024-01-04")).toOption.get.map(_._2) ===
      Seq(fullwidth, emoji))
  }

  test("a session time-zone change between refreshes reloads every day") {
    val tz = "spark.sql.session.timeZone"
    // a clone of a private parent: no other caller is handed this
    // session, whose zone the test changes
    val session = graft.GraftSession.derived(spark.newSession(), Map(tz -> "UTC"))
    // every time is a valid reading_date in UTC and in Berlin
    val (sRoot, gRoot) = mkTables((frame(Seq(
      ("2024-01-01", "2024-01-01 10:00:00", "click", 1.0),
      ("2024-01-02", "2024-01-02 11:30:00.25", "view", 2.0),
      ("2024-01-03", "2024-01-03 09:15:00", "click", 3.0))), frame(goldRows)))
    val cache = ServeCache.fromTxTables(session, sRoot, gRoot)
    assertPinnedParity(cache, sRoot, gRoot, session)

    session.conf.set(tz, "Europe/Berlin")
    TxTable.appendCommit(spark, sRoot,
      frame(Seq(("2024-01-04", "2024-01-04 12:00:00", "view", 4.0))), "reading_date")
    assert(cache.refreshIfStale())
    assertPinnedParity(cache, sRoot, gRoot, session)
    assert(cache.range(Some("2024-01-01"), Some("2024-01-01")).toOption.get ===
      Seq(("2024-01-01T01:00:00.000Z", "Power", 3.0), ("2024-01-01T11:00:00.000Z", "click", 1.0)))

    // back to UTC with no commit: still every day
    session.conf.set(tz, "UTC")
    assert(cache.refreshIfStale())
    assertPinnedParity(cache, sRoot, gRoot, session)
    assert(cache.range(Some("2024-01-01"), Some("2024-01-01")).toOption.get.map(_._1) ===
      Seq("2024-01-01T00:00:00.000Z", "2024-01-01T10:00:00.000Z"))
    assert(!cache.refreshIfStale())
  }
}
