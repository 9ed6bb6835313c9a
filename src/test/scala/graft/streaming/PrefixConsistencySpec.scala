package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.pipeline.{Incremental, SensorPipeline, TxTable}

/** Prefix consistency (Structured Streaming, SIGMOD 2018): one bronze log
  * split into increments gives the same silver and gold through the batch
  * increments, through AvailableNow drains and in one shot.
  */
class PrefixConsistencySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Three increments over 2022-04-14..17: valid lines, late lines for an
    * earlier day, repeated lines (each a distinct reading) and malformed
    * lines, including an overflowing timestamp. */
  private val increments = Seq(
    Seq(
      "1649941817 Voltage 1.34", "1649941817 Current 12.0",
      "1650028217 Voltage 2.0", "1650028217 Voltage 2.0",
      "", "   ", "Voltage 1.34", "1649941817  Voltage 1.34"),
    Seq(
      "1650028218 Current 10.0", "1650114617 Voltage 3.0",
      "1649941818 Voltage 1.35", "1649941817 Voltage 1.34",
      "-123 Voltage 1.34", "1649941817 Voltage abc", "99999999999999999 Voltage 1.0",
      "1650114617 Current 11.0 extra"),
    Seq(
      "1650200000 Voltage 4.0", "1650200000 Current 9.0",
      "1650028219 Current 10.5", "1649941900 Current 14.0",
      "1650114617 Voltage 3.0", "notanumber Current 1.0", "1650200000 123Voltage 1.0"))

  private def view(silver: DataFrame): DataFrame =
    silver.select("reading_time", "metric_name", "metric_value", "reading_date")

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit =
    assert(view(got).exceptAll(view(want)).isEmpty && view(want).exceptAll(view(got)).isEmpty,
      s"$what differs from one-shot bronzeToSilver")

  /** Gold without calculated_at; Power is a product of averages whose
    * summation order may move the last bits, so within a relative 1e-12. */
  private def assertSameGold(got: DataFrame, want: DataFrame, what: String): Unit = {
    def power(gold: DataFrame, as: String) = gold.select(col("reading_date"),
      col("metric_name"), col("reading_time"), col("metric_value").as(as))
    val diff = power(got, "v")
      .join(power(want, "w"), Seq("reading_date", "metric_name", "reading_time"), "full_outer")
      .filter(col("v").isNull || col("w").isNull || abs(col("v") - col("w")) > abs(col("w")) * 1e-12)
    assert(diff.isEmpty, s"$what differs from one-shot silverToGold: ${diff.collect().mkString(", ")}")
  }

  test("batch increments == AvailableNow drains == one-shot bronzeToSilver") {
    val root = graft.TestTmp.dir("graft-prefix")
    // bronze is append-only with serial ids; increment k is ingested at
    // hour k + 1 and processed half an hour later
    def at(k: Int, minute: Int) = Timestamp.valueOf(f"2022-04-20 ${k + 1}%02d:$minute%02d:00")
    val bronze = increments.zipWithIndex.flatMap { case (lines, k) => lines.map(l => (l, at(k, 0))) }.zipWithIndex.map { case ((l, at), i) => (i.toLong + 1, l, at) }
      .toDF("id", "raw_line", "ingested_at")
    val oneShot = SensorPipeline.bronzeToSilver(bronze).cache()
    assert(oneShot.count() == 14 && oneShot.select("reading_date").distinct().count() == 4)
    val oneShotGold = SensorPipeline.silverToGold(oneShot)
    assert(oneShotGold.count() == 4)

    // each increment commits silver, then gold from the affected days
    val (batchRoot, batchGold) = (s"$root/batch", s"$root/batch_gold")
    increments.indices.foreach { k =>
      val soFar = bronze.filter(col("ingested_at") <= lit(at(k, 0)))
      TxTable.commit(spark, batchRoot, Incremental.silverIncrement(
        soFar, TxTable.committed(spark, batchRoot), lit(at(k, 30))), "reading_date")
      TxTable.commit(spark, batchGold, Incremental.goldAffectedDays(TxTable.read(spark, batchRoot),
        TxTable.committed(spark, batchGold), lit(at(k, 45))), "reading_date")
    }
    assertSame(TxTable.read(spark, batchRoot), oneShot, "batch silver")
    assertSameGold(TxTable.read(spark, batchGold), oneShotGold, "batch gold")

    val bronzeDir = s"$root/bronze"
    new java.io.File(bronzeDir).mkdirs()
    increments.zipWithIndex.foreach { case (lines, k) =>
      Files.writeString(Paths.get(s"$bronzeDir/inc$k.txt"), lines.mkString("", "\n", "\n"))
      StreamingPipeline.runBronzeToSilverAvailableNow(
        spark, bronzeDir, s"$root/stream", s"$root/ckpt", Some(s"$root/stream_gold"))
    }
    assertSame(TxTable.read(spark, s"$root/stream"), oneShot, "streaming silver")
    assertSameGold(TxTable.read(spark, s"$root/stream_gold"), oneShotGold, "streaming gold")
    oneShot.unpersist()
  }
}
