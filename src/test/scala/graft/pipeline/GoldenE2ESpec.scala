package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The reference's golden end-to-end (scripts/test_all.sh:162-268):
  * POST 4 canonical lines → bronze=4 → silver=4 → gold=1 (Power 17.485)
  * → GET returns 5 ordered, formatted rows. Plus the incremental/merge
  * semantics: re-ingest is idempotent, late data recomputes its day.
  */
class GoldenE2ESpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val conftestLines = Seq(
    "1649941817 Voltage 1.34",
    "1649941818 Voltage 1.35",
    "1649941817 Current 12.0",
    "1649941818 Current 14.0")

  private def bronzeOf(lines: Seq[String], ingestedAt: String): org.apache.spark.sql.DataFrame =
    lines.zipWithIndex
      .map { case (l, i) => (i.toLong + 1, l, Timestamp.valueOf(ingestedAt)) }
      .toDF("id", "raw_line", "ingested_at")

  private val t0 = lit(Timestamp.valueOf("2022-04-14 14:00:00"))
  private val t1 = lit(Timestamp.valueOf("2022-04-14 18:00:00"))

  /** Two readings a day on 2022-04-14, -15 and -16 (bronze ids 1-6). */
  private val threeDays = Seq(
    "1649941817 Voltage 1.34", "1649941817 Current 12.0",
    "1650028217 Voltage 2.0", "1650028217 Current 10.0",
    "1650114617 Voltage 3.0", "1650114617 Current 11.0")

  /** Bronze rows ingested after t0 and before t1, so only they pass the
    * watermark of a silver processed at t0. */
  private def lateBronze(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
    rows.map { case (id, l) => (id, l, Timestamp.valueOf("2022-04-14 17:00:00")) }
      .toDF("id", "raw_line", "ingested_at")

  test("golden: 4 lines -> silver 4 -> gold 1 Power=17.485 -> serve 5 ordered rows") {
    val bronze = bronzeOf(conftestLines, "2022-04-14 13:30:00")
    val silver = SensorPipeline.bronzeToSilver(bronze, t0)
    assert(silver.count() == 4)

    val gold = SensorPipeline.silverToGold(silver, t0)
    val goldRows = gold.collect()
    assert(goldRows.length == 1)
    val power = goldRows(0).getAs[Double]("metric_value")
    // AVG(1.34,1.35) * AVG(12,14) = 1.345 * 13.0 = 17.485 (the reference's
    // golden rounds to 2dp — test_all.sh:248 — so assert at double tolerance)
    assert(math.abs(power - 17.485) < 1e-9, s"expected 17.485, got $power")
    assert(goldRows(0).getAs[String]("metric_name") == "Power")
    assert(goldRows(0).getAs[java.sql.Date]("reading_date").toString == "2022-04-14")
    assert(goldRows(0).getAs[Timestamp]("reading_time") == Timestamp.valueOf("2022-04-14 00:00:00"))

    val served = SensorPipeline.serve(silver, gold, "2022-04-14", "2022-04-15")
    val out = SensorPipeline.formatResponse(served).collect()
    val expected = Seq(
      ("2022-04-14T00:00:00.000Z", "Power", 17.485),
      ("2022-04-14T13:10:17.000Z", "Current", 12.0),
      ("2022-04-14T13:10:17.000Z", "Voltage", 1.34),
      ("2022-04-14T13:10:18.000Z", "Current", 14.0),
      ("2022-04-14T13:10:18.000Z", "Voltage", 1.35))
    assert(out.length == 5)
    out.zip(expected).foreach { case (row, (t, n, v)) =>
      assert(row.getString(0) == t && row.getString(1) == n)
      assert(math.abs(row.getDouble(2) - v) < 1e-9)
    }
  }

  test("invalid lines are dropped by silver validation (exact SQL semantics)") {
    val bad = Seq(
      "", "   ", "1649941817 Voltage", "Voltage 1.34",
      "-123 Voltage 1.34",
      "1649941817.5 Voltage 1.34", "notanumber Voltage 1.34",
      "1649941817 123Voltage 1.34", "1649941817 _Voltage 1.34",
      "1649941817 Voltage abc",
      "1649941817  Voltage 1.34", // doubled space: SPLIT_PART field 2 = '' -> rejected
      // python-accepted / SQL-rejected divergence fixtures
      "1649941817 Voltage 1e5", "1649941817 Voltage .5", "1649941817 Voltage inf")
    val bronze = bronzeOf(conftestLines ++ bad, "2022-04-14 13:30:00")
    assert(SensorPipeline.bronzeToSilver(bronze, t0).count() == 4)

    // SQL-vs-Python layering (stg_readings.sql has NO token-count check):
    // a 4-token line is rejected at the API edge (parse_line) but its
    // fields 1-3 pass the silver regexes — exactly the reference split
    val extraTok = "1649941817 Voltage 1.34 extra"
    assert(graft.parse.LineParser.parseLine(extraTok).isEmpty, "API edge rejects 4 tokens")
    val b2 = bronzeOf(Seq(extraTok), "2022-04-14 13:30:00")
    assert(SensorPipeline.bronzeToSilver(b2, t0).count() == 1, "silver SQL accepts fields 1-3")
  }

  test("merge is idempotent: re-ingesting the same raw_ids leaves one row per key") {
    val bronze = bronzeOf(conftestLines, "2022-04-14 13:30:00")
    val silver1 = SensorPipeline.bronzeToSilver(bronze, t0).cache()
    // second batch: same ids re-ingested with a corrected value
    val bronze2 = bronzeOf(Seq("1649941817 Voltage 9.99"), "2022-04-14 15:30:00")
    val t1 = lit(Timestamp.valueOf("2022-04-14 16:00:00"))
    val silver2 = SensorPipeline.bronzeToSilver(bronze2, t1)
    val merged = Merge.merge(silver1, silver2, Seq("raw_id"),
      Seq(col("processed_at").desc, col("reading_time").desc))
    assert(merged.count() == 4)
    val updated = merged.filter(col("raw_id") === 1).collect()(0)
    assert(updated.getAs[Double]("metric_value") == 9.99)
  }

  test("incremental: watermark skips already-processed bronze; late data recomputes its day") {
    val b1 = bronzeOf(conftestLines, "2022-04-14 13:30:00")
    val s1 = Incremental.silverIncrement(b1, None, t0).cache()
    assert(s1.count() == 4)
    // gold merges on its partition key: each affected-day recompute is
    // one TxTable commit overriding exactly those days
    val goldRoot = s"${graft.TestTmp.dir("graft-golden-incr")}/gold"
    TxTable.commit(spark, goldRoot, Incremental.goldAffectedDays(s1, None, t0), "reading_date")
    assert(TxTable.read(spark, goldRoot).count() == 1)

    // late reading for the same (historical) day, ingested later
    val late = Seq((5L, "1649941900 Voltage 2.01", Timestamp.valueOf("2022-04-14 17:00:00")))
      .toDF("id", "raw_line", "ingested_at")
    val b2 = b1.unionByName(late)
    val s2 = Incremental.silverIncrement(b2, Some(s1), t1).cache()
    assert(s2.count() == 5, "only the late row passes the watermark; merge keeps 5")

    TxTable.commit(spark, goldRoot,
      Incremental.goldAffectedDays(s2, Some(TxTable.read(spark, goldRoot)), t1), "reading_date")
    val rows = TxTable.read(spark, goldRoot).collect()
    assert(rows.length == 1)
    // whole-day recompute: AVG(1.34,1.35,2.01) * AVG(12,14)
    val expected = ((1.34 + 1.35 + 2.01) / 3.0) * 13.0
    assert(math.abs(rows(0).getAs[Double]("metric_value") - expected) < 1e-12)
  }

  test("silverIncrement restages only the affected day, and its commit equals a whole-table merge") {
    val root = graft.TestTmp.dir("graft-golden-scope")
    val (scoped, whole) = (s"$root/scoped", s"$root/whole")
    val b1 = bronzeOf(threeDays, "2022-04-14 13:30:00")
    Seq(scoped, whole).foreach(r =>
      TxTable.commit(spark, r, Incremental.silverIncrement(b1, None, t0), "reading_date"))
    // one new line and raw_id 3 re-sent with a corrected value, both on
    // 2022-04-15
    val update = lateBronze(7L -> "1650028218 Voltage 2.2", 3L -> "1650028217 Voltage 2.5")
    val incr = Incremental.silverIncrement(
      b1.unionByName(update), Some(TxTable.read(spark, scoped)), t1).cache()
    assert(incr.select(col("reading_date").cast("string")).as[String].collect().toSet ==
      Set("2022-04-15"), "only the affected day comes back")
    assert(incr.select("raw_id").as[Long].collect().sorted.toSeq == Seq(3L, 4L, 7L))

    val v = TxTable.commit(spark, scoped, incr, "reading_date")
    val staged = new java.io.File(scoped).list().filter(_.startsWith(s"v$v-")).toSeq
    assert(staged.size == 1, s"one staged dir: $staged")
    assert(new java.io.File(s"$scoped/${staged.head}").list().filter(_.startsWith("reading_date="))
      .toSeq == Seq("reading_date=2022-04-15"))
    incr.unpersist()

    // the whole-table way: merge against all of silver, restage every day
    TxTable.commit(spark, whole, Merge.merge(TxTable.read(spark, whole),
      SensorPipeline.bronzeToSilver(update, t1), Seq("raw_id"),
      Seq(col("processed_at").desc, col("reading_time").desc)), "reading_date")
    val (got, want) = (TxTable.read(spark, scoped), TxTable.read(spark, whole))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() == 7)
    assert(got.filter(col("raw_id") === 3).select("metric_value").as[Double].collect().toSeq ==
      Seq(2.5))
  }

  test("goldAffectedDays scans only the affected silver day, by a partition filter, no broadcast") {
    val root = graft.TestTmp.dir("graft-golden-gold-scope")
    val (silverRoot, goldRoot) = (s"$root/silver", s"$root/gold")
    val b1 = bronzeOf(threeDays, "2022-04-14 13:30:00")
    TxTable.commit(spark, silverRoot, Incremental.silverIncrement(b1, None, t0), "reading_date")
    TxTable.commit(spark, goldRoot,
      Incremental.goldAffectedDays(TxTable.read(spark, silverRoot), None, t0), "reading_date")
    // one late line on 2022-04-15, the only affected day of three
    TxTable.commit(spark, silverRoot, Incremental.silverIncrement(
      b1.unionByName(lateBronze(7L -> "1650028218 Voltage 2.2")),
      Some(TxTable.read(spark, silverRoot)), t1), "reading_date")
    val gold = Incremental.goldAffectedDays(
      TxTable.read(spark, silverRoot), Some(TxTable.read(spark, goldRoot)), t1)
    assert(gold.collect().map(_.getAs[java.sql.Date]("reading_date").toString).toSeq ==
      Seq("2022-04-15"))

    val plan = gold.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = helper.collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, plan.toString)
    scans.foreach(s => assert(s.partitionFilters.map(_.sql)
      .exists(f => f.contains("reading_date") && f.contains("DATE '2022-04-15'")), plan.toString))
    assert(helper.collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan.toString)
  }

  test("planned from the log: after the first increment silverIncrement runs one job, goldAffectedDays none") {
    val root = graft.TestTmp.dir("graft-golden-log")
    val (silverRoot, goldRoot) = (s"$root/silver", s"$root/gold")
    val b1 = bronzeOf(threeDays, "2022-04-14 13:30:00")
    TxTable.commit(spark, silverRoot, Incremental.silverIncrement(b1, None, t0), "reading_date")
    TxTable.commit(spark, goldRoot,
      Incremental.goldAffectedDays(TxTable.read(spark, silverRoot), None, t0), "reading_date")
    val b2 = b1.unionByName(lateBronze(7L -> "1650028218 Voltage 2.2"))
    // the scan's cost, for contrast: a target with no provenance
    val (_, scanJobs) = graft.JobCount(spark)(Incremental.silverIncrement(
      b2, Some(TxTable.read(spark, silverRoot).localCheckpoint()), t1))
    val (incr, jobs, records) = graft.JobCount.withRecords(spark)(
      Incremental.silverIncrement(b2, Some(TxTable.read(spark, silverRoot)), t1))
    assert(jobs == 1 && scanJobs > jobs,
      s"silverIncrement ran $jobs jobs from the log, $scanJobs with the watermark scan")
    assert(records == 0, s"the day-set job read $records silver file records")
    TxTable.commit(spark, silverRoot, incr, "reading_date")
    val (gold, goldJobs) = graft.JobCount(spark)(Incremental.goldAffectedDays(
      TxTable.read(spark, silverRoot), Some(TxTable.read(spark, goldRoot)), t1))
    assert(goldJobs == 0, s"goldAffectedDays ran $goldJobs jobs")
    assert(gold.collect().map(_.getAs[java.sql.Date]("reading_date").toString).toSeq == Seq("2022-04-15"))
  }

  test("a silver deleteWhere of part of one day: the log's diff recomputes that day, where the scan misses it") {
    val root = graft.TestTmp.dir("graft-golden-delete")
    val (silverRoot, goldRoot) = (s"$root/silver", s"$root/gold")
    val b1 = bronzeOf(threeDays, "2022-04-14 13:30:00")
    def goldStep(at: org.apache.spark.sql.Column) = TxTable.commit(spark, goldRoot,
      Incremental.goldAffectedDays(TxTable.read(spark, silverRoot), TxTable.committed(spark, goldRoot), at),
      "reading_date")
    TxTable.commit(spark, silverRoot, Incremental.silverIncrement(b1, None, t0), "reading_date")
    goldStep(t0)
    // a second Voltage on 2022-04-15, then the first one deleted
    TxTable.commit(spark, silverRoot, Incremental.silverIncrement(
      b1.unionByName(lateBronze(7L -> "1650028218 Voltage 2.2")),
      Some(TxTable.read(spark, silverRoot)), t1), "reading_date")
    goldStep(t1)
    assert(TxTable.deleteWhere(spark, silverRoot, "reading_date", col("raw_id") === 3L) == 1L)
    val (silver, gold) = (TxTable.read(spark, silverRoot), TxTable.read(spark, goldRoot))
    val wm = Incremental.watermark(Some(gold), "calculated_at")
    assert(Merge.partitionValues(silver.filter(col("processed_at") > lit(wm)), "reading_date").isEmpty,
      "the delete wrote no newer processed_at: the watermark scan finds no day")
    assert(Incremental.loggedDays(silver, Some(gold)).contains(Seq("2022-04-15")))
    goldStep(lit(Timestamp.valueOf("2022-04-14 20:00:00")))
    val got = assertGoldIsOneShot(silverRoot, goldRoot)
    assert(math.abs(got("2022-04-15") - 2.2 * 10.0) < 1e-9, "2022-04-15 recomputed without raw_id 3")
  }

  /** Gold's (day -> Power) equals one-shot silverToGold over silver,
    * within a relative 1e-12; returns gold's. */
  private def assertGoldIsOneShot(silverRoot: String, goldRoot: String): Map[String, Double] = {
    val got = TxTable.read(spark, goldRoot).select(col("reading_date").cast("string"), col("metric_value"))
      .as[(String, Double)].collect().toMap
    val want = SensorPipeline.silverToGold(TxTable.read(spark, silverRoot))
      .select(col("reading_date").cast("string"), col("metric_value")).as[(String, Double)].collect().toMap
    assert(got.keySet == want.keySet && got.forall { case (d, v) => math.abs(v - want(d)) <= math.abs(want(d)) * 1e-12 },
      s"gold $got differs from one-shot silverToGold $want")
    got
  }

  /** Silver and gold of [[threeDays]] committed at t0 under `root`;
    * returns the two table roots. */
  private def threeDayTables(root: String): (String, String) = {
    val (silverRoot, goldRoot) = (s"$root/silver", s"$root/gold")
    TxTable.commit(spark, silverRoot,
      Incremental.silverIncrement(bronzeOf(threeDays, "2022-04-14 13:30:00"), None, t0), "reading_date")
    TxTable.commit(spark, goldRoot,
      Incremental.goldAffectedDays(TxTable.read(spark, silverRoot), None, t0), "reading_date")
    (silverRoot, goldRoot)
  }

  private def goldStep(silverRoot: String, goldRoot: String): Long = TxTable.commit(spark, goldRoot,
    Incremental.goldAffectedDays(TxTable.read(spark, silverRoot), TxTable.committed(spark, goldRoot), t1),
    "reading_date")

  test("gold drops a day whose recompute yields no row: raw_id 3, the only Voltage of a day, re-sent as Current") {
    val (silverRoot, goldRoot) = threeDayTables(graft.TestTmp.dir("graft-golden-gold-drop"))
    TxTable.commit(spark, silverRoot, Incremental.silverIncrement(
      bronzeOf(threeDays, "2022-04-14 13:30:00").unionByName(lateBronze(3L -> "1650028217 Current 2.5")),
      Some(TxTable.read(spark, silverRoot)), t1), "reading_date")
    goldStep(silverRoot, goldRoot)
    assert(assertGoldIsOneShot(silverRoot, goldRoot).keySet == Set("2022-04-14", "2022-04-16"))
    assert(!TxTable.latest(spark, goldRoot)._2.contains("2022-04-15"), "the day's partition is gone")
  }

  test("gold drops a day whose silver day a deleteWhere removed whole") {
    val (silverRoot, goldRoot) = threeDayTables(graft.TestTmp.dir("graft-golden-day-delete"))
    assert(TxTable.deleteWhere(spark, silverRoot, "reading_date",
      col("reading_date") === lit("2022-04-16").cast("date")) == 2L)
    assert(!TxTable.latest(spark, silverRoot)._2.contains("2022-04-16"))
    goldStep(silverRoot, goldRoot)
    assert(assertGoldIsOneShot(silverRoot, goldRoot).keySet == Set("2022-04-14", "2022-04-15"))
  }

  test("append path: silverIncrement runs one job; its commit reads no silver row and writes only the fresh rows") {
    val (silverRoot, _) = threeDayTables(graft.TestTmp.dir("graft-golden-append"))
    // three readings with ids above every committed one: two on 2022-04-15, one on a new day
    val fresh = lateBronze(7L -> "1650028218 Voltage 2.2", 8L -> "1650028219 Current 9.0",
      9L -> "1650200000 Voltage 4.0")
    val b2 = bronzeOf(threeDays, "2022-04-14 13:30:00").unionByName(fresh)
    val before = TxTable.latest(spark, silverRoot)._2
    val (incr, jobs, records) = graft.JobCount.withRecords(spark)(
      Incremental.silverIncrement(b2, Some(TxTable.read(spark, silverRoot)), t1))
    assert(jobs == 1 && records == 0, s"silverIncrement ran $jobs jobs over $records silver records")
    val (v, _, commitRecords) = graft.JobCount.withRecords(spark)(
      TxTable.commit(spark, silverRoot, incr, "reading_date"))
    assert(commitRecords == 0, s"the commit read $commitRecords silver records")
    val after = TxTable.latest(spark, silverRoot)._2
    assert(TxTable.grownBy(before("2022-04-15"), after("2022-04-15")).exists(_.size == 1),
      s"2022-04-15 grows by one run: ${before("2022-04-15")} -> ${after("2022-04-15")}")
    assert(Seq("2022-04-14", "2022-04-16").forall(d => after(d) == before(d)))
    val run = after("2022-04-17").takeWhile(_ != '/')
    val written = spark.read.parquet(s"$silverRoot/$run").count()
    assert(written == 3L && written <= 2 * 3, s"the commit wrote $written rows for 3 fresh")
    assert(TxTable.commitInfo(spark, silverRoot, v).get.maxKey.contains(9L))
    val oneShot = SensorPipeline.bronzeToSilver(b2).drop("processed_at")
    val got = TxTable.read(spark, silverRoot).drop("processed_at")
    assert(got.exceptAll(oneShot).isEmpty && oneShot.exceptAll(got).isEmpty)
  }

  test("a raw_id re-sent on another day fails unique_raw_id loudly, never a silent duplicate") {
    val root = graft.TestTmp.dir("graft-golden-contract") + "/silver"
    val b1 = bronzeOf(threeDays, "2022-04-14 13:30:00")
    TxTable.commit(spark, root, Incremental.silverIncrement(b1, None, t0), "reading_date")
    // raw_id 1 is on 2022-04-14; re-sent with a 2022-04-16 line, the
    // increment restages 2022-04-16 only and the old row stays
    val resent = lateBronze(1L -> "1650114618 Voltage 3.3")
    TxTable.commit(spark, root, Incremental.silverIncrement(
      b1.unionByName(resent), Some(TxTable.read(spark, root)), t1), "reading_date")
    val ex = intercept[Quality.QualityFailure](
      Quality.assertAll(TxTable.read(spark, root), Quality.silverChecks))
    assert(ex.failing == Seq("unique_raw_id" -> 2L), ex.getMessage)
  }

  test("response serializes to the reference's golden JSON shape (S5)") {
    val bronze = bronzeOf(conftestLines, "2022-04-14 13:30:00")
    val silver = SensorPipeline.bronzeToSilver(bronze, t0)
    val gold = SensorPipeline.silverToGold(silver, t0)
    val served = SensorPipeline.serve(silver, gold, "2022-04-14", "2022-04-15")
    val json = SensorPipeline.formatResponse(served).toJSON.collect()
    // FIXTURES.md golden (values at double precision; reference rounds
    // only for display)
    assert(json(0) == """{"time":"2022-04-14T00:00:00.000Z","name":"Power","value":17.485000000000003}""")
    assert(json(1) == """{"time":"2022-04-14T13:10:17.000Z","name":"Current","value":12.0}""")
    assert(json(4) == """{"time":"2022-04-14T13:10:18.000Z","name":"Voltage","value":1.35}""")
  }

  test("serve facade: reference param semantics — date-only to inclusive, invalid dates rejected, missing params rejected") {
    val bronze = bronzeOf(conftestLines, "2022-04-14 13:30:00")
    val silver = SensorPipeline.bronzeToSilver(bronze, t0)
    val gold = SensorPipeline.silverToGold(silver, t0)
    // golden query: ?from=2022-04-14&to=2022-04-14 (date-only to => inclusive)
    val ok = Serve.range(silver, gold, Some("2022-04-14"), Some("2022-04-14"))
    assert(ok.isRight)
    assert(ok.toOption.get.count() == 5)
    // datetime `to` is truncated (exclusive midnight) => same day excluded
    val empty = Serve.range(silver, gold, Some("2022-04-13"), Some("2022-04-14T13:10:17Z"))
    assert(empty.toOption.get.count() == 0)
    assert(Serve.range(silver, gold, None, Some("2022-04-15")).isLeft)
    assert(Serve.range(silver, gold, Some("not a date"), Some("2022-04-15")).isLeft)
    assert(Serve.range(silver, gold, Some("14-04-2022"), Some("2022-04-15")).isLeft)
  }

  test("quality gate: warn-level violations don't throw; error-level do") {
    val bronze = bronzeOf(conftestLines, "2022-04-14 13:30:00")
    val silver = SensorPipeline.bronzeToSilver(bronze, t0)
    val gold = SensorPipeline.silverToGold(silver, t0)
    assert(Quality.assertAll(gold, Quality.goldChecks).isEmpty)
    // negative power: severity warn -> returned, not thrown
    val negGold = gold.withColumn("metric_value", lit(-1.0))
    val warns = Quality.assertAll(negGold, Quality.goldChecks)
    assert(warns == Seq("power_non_negative" -> 1L))
    // out-of-domain metric name: severity error -> throws
    val badGold = gold.withColumn("metric_name", lit("Zap"))
    val ex = intercept[Quality.QualityFailure](Quality.assertAll(badGold, Quality.goldChecks))
    assert(ex.failing.exists(_._1 == "accepted_values_metric_name"))
  }

  test("quality checks: all pass on golden silver+gold; violations counted on corrupt data") {
    val bronze = bronzeOf(conftestLines, "2022-04-14 13:30:00")
    val silver = SensorPipeline.bronzeToSilver(bronze, t0)
    val gold = SensorPipeline.silverToGold(silver, t0)
    val sv = Quality.run(silver, Quality.silverChecks).collect()
    assert(sv.forall(_.getAs[Long]("violations") == 0L), sv.mkString(","))
    val gv = Quality.run(gold, Quality.goldChecks).collect()
    assert(gv.forall(_.getAs[Long]("violations") == 0L), gv.mkString(","))

    // corrupt: duplicate key + out-of-domain metric
    val corrupt = silver.unionByName(silver.limit(1))
      .unionByName(silver.limit(1).withColumn("metric_name", lit("Watts")))
    val cv = Quality.run(corrupt, Quality.silverChecks)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cv("accepted_values_metric_name") == 1L)
    assert(cv("unique_raw_id") >= 2L)
  }
}
