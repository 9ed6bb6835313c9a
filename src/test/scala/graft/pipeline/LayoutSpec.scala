package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Physical-layout behavior: partition pruning on the TxTable silver
  * layout, shuffle-free bucketed joins, and the typed Aggregator parity.
  */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("TxTable silver by day: scans prune days; a day commit rewrites one dir") {
    val root = s"${graft.TestTmp.dir("graft-layout")}/silver"
    val silver = Seq(
      (1L, "2022-04-14 13:10:17", "Voltage", 1.34, "2022-04-14"),
      (2L, "2022-04-15 09:00:00", "Voltage", 1.50, "2022-04-15"),
      (3L, "2022-04-16 10:00:00", "Current", 12.0, "2022-04-16"))
      .toDF("raw_id", "t", "metric_name", "metric_value", "d")
      .withColumn("reading_time", to_timestamp(col("t")))
      .withColumn("reading_date", to_date(col("d")))
      .withColumn("processed_at", to_timestamp(lit("2022-04-16 12:00:00")))
      .select("raw_id", "reading_time", "metric_name", "metric_value", "reading_date", "processed_at")
    TxTable.commit(spark, root, silver, "reading_date")

    // layout: one dir per day, all in the first version dir
    val (_, v1) = TxTable.latest(spark, root)
    assert(v1.keys.toSeq.sorted == Seq("2022-04-14", "2022-04-15", "2022-04-16"))
    assert(v1.forall { case (day, dir) => dir.startsWith("v1-") && dir.endsWith(s"/reading_date=$day") })

    // pruning asserted on the CONTENTS of every scan's PartitionFilters —
    // the scan node always prints the label (even empty), so a bare
    // substring match passes vacuously; and DataFrame.inputFiles lists
    // the whole relation pre-pruning, so it can't be used either
    def assertPruned(expectScans: Int): Unit = {
      val scan = TxTable.read(spark, root)
        .filter(col("reading_date") >= "2022-04-15" && col("reading_date") < "2022-04-16")
      assert(scan.count() == 1)
      val pfs = scan.queryExecution.executedPlan.toString
        .split("PartitionFilters: \\[").drop(1).map(_.split("\\]")(0))
      assert(pfs.length == expectScans && pfs.forall(_.contains("reading_date")),
        s"range predicate must land in every scan's PartitionFilters, got: ${pfs.mkString("; ")}")
    }
    assertPruned(expectScans = 1)

    // a one-day commit republishes that day only: the other days keep
    // their manifest entries and their files, byte for byte
    def files(dir: String) = new java.io.File(s"$root/$dir").listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val before = v1.map { case (day, dir) => day -> files(dir) }
    val day2 = silver.filter(col("reading_date") === "2022-04-15")
      .withColumn("metric_value", lit(9.99))
    TxTable.commit(spark, root, day2, "reading_date")
    val (v, v2) = TxTable.latest(spark, root)
    assert(v == 2 && v2("2022-04-15").startsWith("v2-"))
    Seq("2022-04-14", "2022-04-16").foreach { day =>
      assert(v2(day) == v1(day) && files(v2(day)) == before(day), s"day $day was touched")
    }
    val after = TxTable.read(spark, root)
    assert(after.count() == 3)
    assert(after.filter(col("reading_date") === "2022-04-15").head.getAs[Double]("metric_value") == 9.99)
    assert(after.filter(col("reading_date") === "2022-04-14").head.getAs[Double]("metric_value") == 1.34)
    // the two version dirs are still one relation, so one pruned scan
    assertPruned(expectScans = 1)
  }

  test("bucketed join elides the shuffle on both sides") {
    // (warehouse dir is a static conf — set to a temp dir in SparkTestSession)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ to observe exchanges
    try {
      val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        .withColumnRenamed("c_custkey", "o_custkey")
      TableLayout.writeBucketed(orders, "orders_b", "o_custkey", 4)
      TableLayout.writeBucketed(customer, "customer_b", "o_custkey", 4)
      val joined = TableLayout.bucketedJoin(spark, "orders_b", "customer_b", "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should have no shuffle:\n$plan")
      // same result as the plain join
      val plain = orders.join(customer, "o_custkey")
      assert(joined.count() == plain.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("typed PowerAggregator matches the untyped pivot on the golden batch") {
    import graft.functions.PowerAggregator
    val readings = Seq(
      ("Voltage", 1.34), ("Voltage", 1.35), ("Current", 12.0), ("Current", 14.0)).toDS()
    val power = readings.select(PowerAggregator.toColumn).head()
    assert(math.abs(power - 17.485) < 1e-9)
    // one-sided input -> NaN (caller filters, like the gold guard)
    val oneSided = Seq(("Voltage", 1.0)).toDS()
    assert(oneSided.select(PowerAggregator.toColumn).head().isNaN)
  }
}
