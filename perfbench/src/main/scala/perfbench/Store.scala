package perfbench

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Incremental, Quality, Serve, ServeCache, SensorPipeline, TxTable}

/** Operation outcomes of one run: what was attempted, what failed its
  * output check (or threw), and why. Shared by all workload threads. */
final class Ops {
  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  private val reasons = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def failures: Seq[String] = { import scala.jdk.CollectionConverters._; reasons.asScala.take(20).toSeq }

  /** Count one operation; `ok` false or an exception marks it failed. */
  def run[T](what: String)(body: => (T, Boolean)): Option[T] = {
    attemptedN.incrementAndGet()
    try {
      val (v, ok) = body
      if (!ok) fail(what)
      Some(v)
    } catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        None
    }
  }

  def check(what: String)(ok: => Boolean): Unit = run(what)(((), ok))

  private def fail(why: String): Unit = { failedN.incrementAndGet(); reasons.add(why) }
}

/** What the store must hold, from the generator's own counts: silver rows
  * per (day, metric), and one gold row for a day with both metrics. */
final class Expected {
  private val silver = mutable.Map.empty[(Int, String), Long].withDefaultValue(0L)

  def add(b: Gen.Batch): Unit = synchronized {
    b.silver.foreach { case (k, n) => silver(k) += n }
  }

  def rows(day: Int): Long = synchronized {
    val v = silver((day, "Voltage"))
    val c = silver((day, "Current"))
    v + c + (if (v > 0 && c > 0) 1 else 0)
  }

  /** Rows a serve call over days [from, to] (inclusive) must return. */
  def rows(from: Int, to: Int): Long = (from to to).map(rows(_: Int)).sum

  def days: Seq[Int] = synchronized(silver.keySet.map(_._1).toSeq.sorted)
}

object Expected {
  /** Rows a serve call over `day` returns once batch `b`, the day's only
    * data, is committed. */
  def single(b: Gen.Batch, day: Int): Int = {
    val v = b.silver.getOrElse((day, "Voltage"), 0)
    val c = b.silver.getOrElse((day, "Current"), 0)
    v + c + (if (v > 0 && c > 0) 1 else 0)
  }
}

/** The silver and gold TxTables of one store, and every call the workloads
  * make into the library, each inside its layer's span. */
final class Store(spark: SparkSession, tracer: Tracer, val root: String) {
  import spark.implicits._

  val silverRoot = s"$root/silver"
  val goldRoot = s"$root/gold"
  private val nextId = new AtomicLong(0)
  /** Every bronze frame handed to the store, for the one-shot check. */
  private val bronzeLog = mutable.ArrayBuffer.empty[DataFrame]

  def read(table: String): DataFrame = tracer.span("txtable.read")(TxTable.read(spark, table))

  /** Bronze rows for `lines`: fresh ids, one ingest time. */
  def bronze(lines: Seq[String]): DataFrame = {
    val first = nextId.getAndAdd(lines.size.toLong)
    val at = new Timestamp(System.currentTimeMillis())
    val df = lines.zipWithIndex.map { case (l, i) => (first + i, l, at) }
      .toDF("id", "raw_line", "ingested_at")
    synchronized(bronzeLog += df)
    df
  }

  /** The POST edge: every edge body must be accepted, and every malformed
    * line offered alone must get the catalogue's edge verdict. Returns the
    * accepted lines, the bodies refused, and the verdicts that disagreed. */
  def postEdge(b: Gen.Batch, bodyLines: Int): (Seq[String], Int, Int) = tracer.span("parse") {
    var refused = 0
    val kept = Gen.bodies(b.edge, bodyLines).flatMap { body =>
      Serve.postData(Some("text/plain"), Some(body)) match {
        case Right(ls) => ls
        case Left(_) => refused += 1; Nil
      }
    }
    var wrong = 0
    b.malformed.foreach { case (kind, l) =>
      val rejected = Serve.postData(Some("text/plain"), Some(l)).isLeft
      if (rejected) refused += 1
      if (rejected != Gen.Catalogue.find(_.name == kind).get.edgeRejects) wrong += 1
    }
    (kept, refused, wrong)
  }

  private def stagePublish(table: String, data: DataFrame): Unit = {
    val dir = tracer.span("txtable.stage")(TxTable.stage(spark, table, data, "reading_date"))
    tracer.span("txtable.publish")(TxTable.publish(spark, table, dir, "reading_date"))
    if (tracer.enabled) recordWrite(table, dir)
  }

  /** Parquet files, bytes and partition dirs staged by writes so far. A
    * file-system walk of each staged dir, made only when tracing: no Spark
    * job. */
  val written = new Array[Long](3)

  private def recordWrite(table: String, dir: String): Unit = {
    val p = new Path(s"$table/$dir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(p, true)
    var n, bytes = 0L
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
    }
    val parts = fs.listStatus(p).count(_.getPath.getName.startsWith("reading_date=")).toLong
    written.synchronized { written(0) += n; written(1) += bytes; written(2) += parts }
  }

  /** Seed: one-shot silver and gold commits of a whole batch. */
  def seed(b: Gen.Batch): Unit = {
    val lines = bronze(b.edge)
    tracer.span("silver.commit")(stagePublish(silverRoot, SensorPipeline.bronzeToSilver(lines)))
    tracer.span("gold.commit")(stagePublish(goldRoot, SensorPipeline.silverToGold(read(silverRoot))))
  }

  /** The reference DAG's silver and gold steps for one hourly increment:
    * merge into silver, commit, check; affected-day gold, commit, check. */
  def mergeIncrement(bronzeRows: DataFrame): Unit = {
    val merged = tracer.span("silver.build")(Incremental.silverIncrement(bronzeRows, Some(read(silverRoot))))
    tracer.span("silver.commit")(stagePublish(silverRoot, merged))
    tracer.span("silver.quality")(Quality.assertAll(read(silverRoot), Quality.silverChecks))
    val days = tracer.span("gold.build")(Incremental.goldAffectedDays(read(silverRoot), Some(read(goldRoot))))
    tracer.span("gold.commit")(stagePublish(goldRoot, days))
    tracer.span("gold.quality")(Quality.assertAll(read(goldRoot), Quality.goldChecks))
  }

  /** The append path: a new day's silver and gold, blind-appended. */
  def appendDay(bronzeRows: DataFrame): Unit = {
    val silver = tracer.span("silver.build")(SensorPipeline.bronzeToSilver(bronzeRows))
    tracer.span("silver.commit")(append(silverRoot, silver))
    val gold = tracer.span("gold.build")(SensorPipeline.silverToGold(silver))
    tracer.span("gold.commit")(append(goldRoot, gold))
  }

  private def append(table: String, data: DataFrame): Unit = {
    val dir = tracer.span("txtable.stage")(TxTable.stage(spark, table, data, "reading_date"))
    tracer.span("txtable.publish")(TxTable.appendPublish(spark, table, dir, "reading_date"))
    if (tracer.enabled) recordWrite(table, dir)
  }

  def cache(): ServeCache = tracer.span("servecache.refresh")(ServeCache.fromTxTables(spark, silverRoot, goldRoot))

  def refresh(c: ServeCache): Boolean = tracer.span("servecache.refresh")(c.refreshIfStale())

  /** A cached serve call over days [from, to]; the response rows. */
  def cached(c: ServeCache, from: Int, to: Int): Seq[(String, String, Double)] =
    tracer.span("servecache.range") {
      c.range(Some(Gen.dateOf(from)), Some(Gen.dateOf(to)))
        .fold(e => sys.error(s"cached range refused: $e"), identity)
    }

  /** A Spark-path serve call over days [from, to] at the latest committed
    * versions, collected; build, plan and execute as separate spans. */
  def sparkServe(from: Int, to: Int): Array[Row] = tracer.span("serve.call") {
    val s = read(silverRoot)
    val g = read(goldRoot)
    val df = tracer.span("serve.build") {
      Serve.range(s, g, Some(Gen.dateOf(from)), Some(Gen.dateOf(to)))
        .fold(e => sys.error(s"serve range refused: $e"), identity)
    }
    tracer.span("serve.plan")(df.queryExecution.executedPlan)
    tracer.span("serve.exec")(df.collect())
  }

  /** End-of-run checks, outside the timed region: final silver and gold
    * equal one-shot `bronzeToSilver`/`silverToGold` over every bronze line
    * the store received (audit timestamps dropped); and silver rejected
    * exactly the malformed lines the catalogue says it must. */
  def checkFinal(ops: Ops, malformed: Seq[(String, String)]): Unit = {
    val all = bronzeLog.reduce(_ unionByName _)
    val oneShot = SensorPipeline.bronzeToSilver(all).drop("processed_at").cache()
    val silver = TxTable.read(spark, silverRoot).drop("processed_at")
    ops.check("silver equals one-shot bronzeToSilver") {
      silver.exceptAll(oneShot).isEmpty && oneShot.exceptAll(silver).isEmpty
    }
    val gold = TxTable.read(spark, goldRoot).select(col("reading_date"), col("metric_name"),
      col("reading_time"), col("metric_value").as("v"))
    val goldOneShot = SensorPipeline.silverToGold(oneShot).select(col("reading_date"),
      col("metric_name"), col("reading_time"), col("metric_value").as("w"))
    ops.check("gold equals one-shot silverToGold") {
      // Power is a product of averages; summation order may move the last bits
      gold.join(goldOneShot, Seq("reading_date", "metric_name", "reading_time"), "full_outer")
        .filter(col("v").isNull || col("w").isNull || abs(col("v") - col("w")) > abs(col("w")) * 1e-12)
        .isEmpty
    }
    oneShot.unpersist()
    if (malformed.nonEmpty) {
      val ids = malformed.map(_._1).toIndexedSeq
      val rows = malformed.zipWithIndex.map { case ((_, l), i) => (i.toLong, l, new Timestamp(0L)) }
        .toDF("id", "raw_line", "ingested_at")
      val survivors = SensorPipeline.bronzeToSilver(rows).select("raw_id").as[Long].collect()
        .groupMapReduce(i => ids(i.toInt))(_ => 1L)(_ + _)
      Gen.Catalogue.foreach { m =>
        val injected = ids.count(_ == m.name).toLong
        val rejected = injected - survivors.getOrElse(m.name, 0L)
        ops.check(s"silver rejects of ${m.name}") {
          rejected == (if (m.silverRejects) injected else 0L)
        }
      }
    }
  }
}

object Store {
  /** Spark-path rows against cached rows, as multisets: rows with equal
    * (time, name) may come in either order. */
  def sameRows(spark: Array[Row], cached: Seq[(String, String, Double)]): Boolean =
    spark.length == cached.size &&
      spark.map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sorted.toSeq == cached.sorted
}
