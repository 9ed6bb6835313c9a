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

  /** Increment k is ingested at hour k + 1 and processed half an hour
    * later; bronze is append-only with serial ids. */
  private def at(k: Int, minute: Int) = Timestamp.valueOf(f"2022-04-20 ${k + 1}%02d:$minute%02d:00")

  /** Bronze of a log of increments: serial ids, increment k ingested at
    * hour k + 1. */
  private def bronzeOf(log: Seq[Seq[String]]): DataFrame = log.zipWithIndex
    .flatMap { case (lines, k) => lines.map(l => (l, at(k, 0))) }
    .zipWithIndex.map { case ((l, at), i) => (i.toLong + 1, l, at) }
    .toDF("id", "raw_line", "ingested_at")

  private lazy val bronze = bronzeOf(increments)

  /** The batch increments of `log` (`count` of them) into `root`/silver
    * and `root`/gold: increment k merges into `target(k)` (silver's latest
    * version by default) and commits silver, runs `afterSilver(k)`, then
    * commits gold from the affected days. Checks both tables against the
    * one-shot run over the log's distinct ids (a replayed id is one
    * reading). */
  private def runBatch(root: String, what: String,
      log: DataFrame = bronze, count: Int = increments.size,
      target: Int => Option[DataFrame] = _ => None,
      afterSilver: Int => Unit = _ => ()): Unit = {
    val (silverRoot, goldRoot) = (s"$root/silver", s"$root/gold")
    val bronze = log
    (0 until count).foreach { k =>
      val soFar = bronze.filter(col("ingested_at") <= lit(at(k, 0)))
      TxTable.commit(spark, silverRoot, Incremental.silverIncrement(
        soFar, target(k).orElse(TxTable.committed(spark, silverRoot)), lit(at(k, 30))), "reading_date")
      afterSilver(k)
      TxTable.commit(spark, goldRoot, Incremental.goldAffectedDays(TxTable.read(spark, silverRoot),
        TxTable.committed(spark, goldRoot), lit(at(k, 45))), "reading_date")
    }
    val oneShot = SensorPipeline.bronzeToSilver(bronze.dropDuplicates("id"))
    assertSame(TxTable.read(spark, silverRoot), oneShot, s"$what silver")
    assertSameGold(TxTable.read(spark, goldRoot), SensorPipeline.silverToGold(oneShot), s"$what gold")
  }

  test("batch increments == AvailableNow drains == one-shot bronzeToSilver") {
    val root = graft.TestTmp.dir("graft-prefix")
    val oneShot = SensorPipeline.bronzeToSilver(bronze).cache()
    assert(oneShot.count() == 14 && oneShot.select("reading_date").distinct().count() == 4)
    val oneShotGold = SensorPipeline.silverToGold(oneShot)
    assert(oneShotGold.count() == 4)

    // each increment commits silver, then gold from the affected days
    runBatch(s"$root/batch", "batch")

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

  test("batch increments with silver vacuumed before each gold step == one-shot") {
    // retainMs = 0 drops the silver version gold's last commit read, so
    // from the second increment gold's days come from the watermark scan
    val root = graft.TestTmp.dir("graft-prefix-vacuum")
    runBatch(root, "vacuumed batch", afterSilver = k => {
      TxTable.vacuum(spark, s"$root/silver", retainMs = 0L)
      if (k > 0) {
        val read = TxTable.commitInfo(spark, s"$root/gold", TxTable.latest(spark, s"$root/gold")._1)
          .get.reads.values.head
        assert(TxTable.commitInfo(spark, s"$root/silver", read).isEmpty,
          s"silver version $read, which gold read, is vacuumed")
      }
    })
  }

  test("batch increments with one driven by a checkpointed silver frame == one-shot") {
    // a checkpointed copy reads no TxTable version: that increment scans
    // for its watermark and records none, so the next one scans too
    val root = graft.TestTmp.dir("graft-prefix-cached")
    runBatch(root, "checkpoint-driven batch",
      target = k => if (k == 1) Some(TxTable.read(spark, s"$root/silver").localCheckpoint()) else None)
  }

  /** The dirs of each silver day at the latest version. */
  private def runs(silverRoot: String): Map[String, Int] =
    TxTable.latest(spark, silverRoot)._2.map { case (d, e) => d -> e.split("\t").length }

  test("eleven appended increments: days restage on their own turn or at 8 runs == one-shot") {
    // each increment adds readings with ids above every committed one, so
    // each silver commit is an extension: to 2022-04-15 every time, to
    // 2022-04-14 every time but increment 3, the one whose base version
    // is that day's turn to restage
    val log = (0 until 11).map(k => (if (k == 3) Nil else Seq(s"${1649941817 + k} Voltage ${1 + k}.5",
      s"${1649941817 + k} Current ${10 + k}.0")) ++ Seq(s"${1650028217 + k} Voltage 2.$k",
      s"${1650028217 + k} Current 9.$k"))
    val root = graft.TestTmp.dir("graft-prefix-runs")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    runBatch(root, "run-bound batch", bronzeOf(log), log.size, afterSilver = _ => {
      val r = runs(s"$root/silver")
      seen += r("2022-04-14") -> r("2022-04-15")
    })
    // a day's turn is one version in 8 (a hash of its key): 2022-04-15's
    // comes at base versions 2 and 10, where it restages; 2022-04-14's at
    // 3, when it is not touched, so it grows to 8 runs and the bound
    // restages it at base version 9
    assert(seen.map(_._1).toSeq == Seq(1, 2, 3, 3, 4, 5, 6, 7, 8, 1, 2),
      s"runs of 2022-04-14 per increment: ${seen.map(_._1)}")
    assert(seen.map(_._2).toSeq == Seq(1, 2, 1, 2, 3, 4, 5, 6, 7, 8, 1),
      s"runs of 2022-04-15 per increment: ${seen.map(_._2)}")
  }

  test("an increment that replays a committed raw_id takes the merge restage == one-shot") {
    val root = graft.TestTmp.dir("graft-prefix-replay")
    val silverRoot = s"$root/silver"
    // increment 2 re-sends bronze id 3 (increment 0's third line) unchanged
    val replay = bronze.filter(col("id") === 3L).withColumn("ingested_at", lit(at(2, 0)))
    var before = Map.empty[String, String]
    runBatch(root, "replay batch", bronze.unionByName(replay), afterSilver = k => {
      val entries = TxTable.latest(spark, silverRoot)._2
      if (k == 1) before = entries
      if (k == 2) {
        val day = "2022-04-15" // raw_id 3's day
        assert(TxTable.grownBy(before(day), entries(day)).isEmpty && !entries(day).contains("\t"),
          s"the replayed id's day is restaged whole: ${before(day)} -> ${entries(day)}")
      }
    })
  }

  test("a silver manifest with no #maxkey line (the parent's format) scans once == one-shot") {
    val root = graft.TestTmp.dir("graft-prefix-nomaxkey")
    val silverRoot = s"$root/silver"
    runBatch(root, "parent-format batch", afterSilver = k => {
      val v = TxTable.latest(spark, silverRoot)._1
      if (k == 0) {
        assert(TxTable.commitInfo(spark, silverRoot, v).get.maxKey.nonEmpty)
        val m = Paths.get(f"$silverRoot/_txlog/$v%08d.manifest")
        Files.writeString(m, Files.readAllLines(m).toArray.map(_.toString)
          .filterNot(_.startsWith("#maxkey")).mkString("\n"))
        assert(TxTable.commitInfo(spark, silverRoot, v).get.maxKey.isEmpty)
      } else assert(TxTable.commitInfo(spark, silverRoot, v).get.maxKey.nonEmpty,
        s"increment $k recorded the largest key again")
    })
  }
}
