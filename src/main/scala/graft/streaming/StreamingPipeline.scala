package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.pipeline.{Incremental, Merge, SensorPipeline, TxTable}

/** Streaming variants of the pipeline (SURVEY §2.9, §7.4).
  *
  * Tier 1 — faithful: the reference is micro-batch-by-scheduler (hourly
  * Airflow run over an append-only Bronze with a processing-time
  * watermark and UNBOUNDED lateness). The faithful Spark mapping is a
  * file-source stream with `Trigger.AvailableNow` + `foreachBatch`
  * performing the same merge the batch path uses — identical semantics,
  * including whole-day recompute of late data, because each batch parses
  * with [[SensorPipeline.bronzeToSilver]], merges on `raw_id` with
  * [[Incremental.silverMerge]] (as [[Incremental.silverIncrement]] does)
  * and recomputes gold with [[Incremental.goldAffectedDays]].
  *
  * Tier 2 — idiomatic: `withWatermark` + 1-day tumbling `window()` in
  * update mode. Equivalent only up to the chosen lateness bound
  * (reference has none); provided as the scale path where unbounded
  * state is not viable.
  */
object StreamingPipeline {

  val rawLineSchema: StructType = StructType(Seq(
    StructField("value", StringType)))

  /** Tier 1: drain all available Bronze text files into the Silver
    * [[TxTable]] via the batch merge — exactly-once per file thanks to
    * the source's checkpointed file log, idempotent re-merge on raw_id,
    * and one atomic manifest commit per micro-batch.
    *
    * Each micro-batch: assign raw_ids from a monotonic base (batchId
    * captured in the closure), parse+validate with the SAME plan builder
    * the batch path uses, then last-writer-wins merge into the target
    * (a fresh row replaces the target row with the same `raw_id`).
    *
    * Optional `goldPath`: when set, each micro-batch ALSO advances the
    * Gold mart after its Silver merge — the same [[Incremental]] batch
    * code, so the tier-1 contract (whole-day recompute, unbounded
    * lateness) holds mid-stream: a late reading for any historical day
    * re-aggregates that day from ALL its Silver rows in the same batch
    * that ingested it. Gold's watermark (max calculated_at) is written
    * after the Silver rows' processed_at, so the next batch's affected-
    * day reselect can never skip rows this batch introduced.
    */
  def runBronzeToSilverAvailableNow(
      spark: SparkSession,
      bronzeDir: String,
      silverPath: String,
      checkpointDir: String,
      goldPath: Option[String] = None): Unit = {
    val stream = spark.readStream
      .schema(rawLineSchema)
      .text(bronzeDir)

    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatchToSilver(batch, batchId, silverPath, goldPath)
      }
      .start()
    q.awaitTermination()
  }

  /** One micro-batch of raw lines (`value: string`) merged into the
    * Silver target (and optionally Gold) — the single merge body shared
    * by the checkpointed file tier ([[runBronzeToSilverAvailableNow]])
    * and the socket connector tier ([[runSocketToSilver]]).
    *
    * Silver is a [[TxTable]] partitioned by reading_date (read it with
    * `TxTable.read`): the merged days are staged invisibly and published
    * by one manifest rename, so a batch killed before the publish leaves
    * the previous version live and its replay from the checkpoint
    * converges to the same rows. [[Incremental.silverMerge]] touches only
    * the batch's days: a batch whose ids are all above silver's largest
    * one (each batch's id base is above the last) writes only its rows,
    * as one new run per day, and a replayed batch restages its days; a
    * batch without a valid reading runs its day-set job alone.
    */
  def mergeBatchToSilver(
      batch: DataFrame,
      batchId: Long,
      silverPath: String,
      goldPath: Option[String]): Unit = {
        // replay-stable ids: row_number over the CONTENT (a mono-id order
        // would differ on batch re-execution) + the batchId base. A
        // failed batch replayed with the same files yields identical
        // ids, so the raw_id merge below is idempotent — while two
        // genuinely identical lines in one batch get distinct ids, as
        // they would get distinct raw_ids in the reference.
        //
        // Id layout (64-bit): batchId << 40 | salt << 32 | rn.
        // The salt (content hash mod 256) partitions the Window so a big
        // batch doesn't funnel through one task's global sort; rn is
        // per-bucket, bounded by row_number's OWN int range (2^31 — the
        // real per-bucket capacity, ~5×10^11 rows/batch across 256
        // buckets). Replay-stable: salt is a pure function of the line,
        // and equal lines are interchangeable under the content sort, so
        // a replayed batch yields the identical id SET. NOTE the layout
        // is an on-disk contract: changing it invalidates replay
        // idempotence for any batch in flight across an upgrade — drain
        // the stream (AvailableNow to completion) before deploying an id
        // change. Overflow raises instead of silently colliding with a
        // neighboring id space (which would make the merge drop distinct
        // readings as duplicates): rn is checked for int wrap (negative
        // or >= 2^31 after the long cast), batchId for its 23-bit field.
        if (batchId >= (1L << 23))
          throw new IllegalStateException(
            s"batchId $batchId overflows its 23-bit id field; compact the checkpoint lineage")
        val saltBuckets = 256L
        val wSalt = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_salt")).orderBy(col("value"))
        val bronze = batch
          .withColumn("_salt", pmod(xxhash64(col("value")), lit(saltBuckets)))
          .withColumn("_rn", row_number().over(wSalt).cast("long"))
          // the guard lives INSIDE the id expression — a separate
          // assert_true column would be pruned away as unused. Bounds:
          // 1 <= rn < 2^31 (a wrapped int row_number goes negative after
          // the cast, so the between() catches it)
          .withColumn("id",
            when(col("_rn").between(1L, (1L << 31) - 1),
              lit(batchId << 40) + col("_salt") * lit(1L << 32) + col("_rn"))
              .otherwise(raise_error(concat(
                lit(s"micro-batch $batchId overflows the per-bucket id space (rn="),
                col("_rn"), lit("); cap batch size with maxFilesPerTrigger")))
                .cast("long")))
          .drop("_salt", "_rn")
          .withColumn("ingested_at", current_timestamp())
          .withColumnRenamed("value", "raw_line")
        val fresh = SensorPipeline.bronzeToSilver(bronze)
        val spark = batch.sparkSession
        // dbt-merge on raw_id — SAME key and body as the batch path, so the
        // two tiers keep identical semantics (duplicate identical readings
        // stay distinct rows, exactly like distinct reference raw_ids);
        // batch replays are idempotent because the ids above are
        // replay-stable. The batch's ids lie in its id block, so the merge
        // needs no job to bound them. No valid reading: nothing to commit.
        val block = (batchId << 40, (batchId << 40) | ((1L << 40) - 1))
        Incremental.silverMerge(TxTable.committed(spark, silverPath), fresh, Some(block))
          .foreach { case (_, merged) =>
            commitAndVacuum(spark, silverPath, merged, "reading_date")
            // gold increment inside the SAME batch (reference: staging >>
            // marts ordering per hourly run, sensor_data_pipeline.py:88)
            goldPath.foreach(gp => goldTxCommit(spark, silverPath, gp))
          }
  }

  /** IoT socket-source connector variant (north star "Structured
    * Streaming + IoT source connectors"): raw newline-delimited readings
    * from a TCP socket, each micro-batch merged with the SAME body as
    * the file tier. No Kafka jar ships in /opt/spark/jars (zero-egress
    * environment), so the socket source is the network connector this
    * repo can drive end-to-end — a Kafka variant is the identical shape
    * behind `format("kafka")` plus a `CAST(value AS STRING)` (README
    * notes the limitation). The socket source keeps no replay log, so
    * this tier is at-least-once delivery; the merge itself stays
    * idempotent (content-stable ids within a batch), and exactly-once
    * ingest remains the checkpointed file tier's contract. Caller stops
    * the returned query (socket supports no AvailableNow drain).
    */
  def runSocketToSilver(
      spark: SparkSession,
      host: String,
      port: Int,
      silverPath: String,
      checkpointDir: String,
      goldPath: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatchToSilver(batch, batchId, silverPath, goldPath)
      }
      .start()

  /** One Gold increment committed through the [[graft.pipeline.TxTable]]
    * manifest log: recompute the affected days (full day content) and
    * publish them as ONE atomic partition commit — a crash anywhere
    * inside leaves the previous gold version intact, never a torn
    * half-merged mart (gold's unique_key = reading_date IS its partition
    * key, so the dbt merge semantics map exactly to a partition
    * override). Read the mart with `TxTable.read(spark, goldRoot)`.
    */
  def goldTxCommit(spark: SparkSession, silverPath: String, goldRoot: String): Unit = {
    val fresh = Incremental.goldAffectedDays(
      TxTable.read(spark, silverPath), TxTable.committed(spark, goldRoot))
    commitAndVacuum(spark, goldRoot, fresh, "reading_date")
  }

  /** Every sink commit: publish `data` as one TxTable commit (nothing
    * when it is empty), then [[TxTable.vacuum]] the table, so superseded
    * version dirs and manifests are reclaimed once past the reader-
    * retention horizon instead of piling up one set per micro-batch.
    */
  private def commitAndVacuum(
      spark: SparkSession, root: String, data: DataFrame, partitionCol: String): Unit = {
    TxTable.commit(spark, root, data, partitionCol)
    TxTable.vacuum(spark, root)
  }

  /** Tier 2: idiomatic event-time streaming aggregate — 1-day tumbling
    * window over reading_time with bounded lateness. Returns the
    * streaming DataFrame (caller starts it with its own sink); memory
    * sink + processAllAvailable in tests.
    */
  def dailyPowerStreaming(parsedStream: DataFrame, lateness: String = "1 day"): DataFrame =
    parsedStream
      .withWatermark("reading_time", lateness)
      .filter(col("metric_name").isin("Voltage", "Current"))
      .groupBy(window(col("reading_time"), "1 day").as("w"))
      .agg(
        avg(when(col("metric_name") === "Voltage", col("metric_value"))).as("avg_voltage"),
        avg(when(col("metric_name") === "Current", col("metric_value"))).as("avg_current"))
      .filter(col("avg_voltage").isNotNull && col("avg_current").isNotNull)
      .select(
        lit("Power").as("metric_name"),
        (col("avg_voltage") * col("avg_current")).as("metric_value"),
        col("w.start").cast(DateType).as("reading_date"),
        col("w.start").as("reading_time"))

  /** Tier-2 gold maintained INCREMENTALLY through the TxTable manifest
    * log: the update-mode daily window emits, per micro-batch, the
    * CURRENT full content of every day the batch changed — exactly the
    * unit [[graft.pipeline.TxTable]] commits atomically (gold's
    * unique_key = reading_date IS its partition key). Each batch is one
    * crash-safe multi-day commit; a reader mid-stream sees a consistent
    * mart at some batch boundary, never a torn update. Lateness beyond
    * the watermark is dropped (tier-2 contract; tier-1's foreachBatch
    * merge keeps the unbounded contract).
    */
  def runDailyPowerUpdateToGold(
      parsed: DataFrame,
      goldRoot: String,
      checkpointDir: String,
      lateness: String = "1 day"): Unit = {
    val q = dailyPowerStreaming(parsed, lateness).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        commitAndVacuum(batch.sparkSession, goldRoot, batch, "reading_date")
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Stream-stream event-time interval join (§2.9 widening): attribute
    * each fact event (e.g. a click) to the dimension event (e.g. the
    * impression) that preceded it within `maxDelaySeconds` for the same
    * key. BOTH sides carry watermarks and the join condition bounds
    * event-time distance in BOTH directions, which is exactly what lets
    * Spark expire buffered state on each side — an unbounded-interval
    * stream-stream join would hold every row forever. Append mode: a
    * match emits once both watermarks pass it.
    *
    * Inputs must expose (key, `leftTsCol`) and (key, `rightTsCol`);
    * result carries all columns of both (key deduplicated).
    */
  def streamStreamIntervalJoin(
      facts: DataFrame,
      dims: DataFrame,
      key: String,
      factTs: String,
      dimTs: String,
      maxDelaySeconds: Long,
      lateness: String = "10 minutes"): DataFrame = {
    val f = facts.withWatermark(factTs, lateness).alias("f")
    val d = dims.withWatermark(dimTs, lateness).alias("d")
    f.join(
      d,
      col(s"f.$key") === col(s"d.$key") &&
        col(s"d.$dimTs") <= col(s"f.$factTs") &&
        col(s"f.$factTs") <= col(s"d.$dimTs") + expr(s"interval $maxDelaySeconds seconds"))
      .drop(col(s"d.$key"))
  }

  /** Tier-2 sessions joined back into an incrementally-maintained gold
    * mart: closed sessions stream out of
    * [[StatefulSessions.closedSessions]] (flatMapGroupsWithState,
    * Append), and each micro-batch (1) merges them idempotently into a
    * durable sessions [[TxTable]] partitioned by `session_date` =
    * date(session_start) — session identity (user_id, session_start)
    * dedups foreachBatch's at-least-once replays, the raw_id pattern;
    * [[Merge.intoPartitions]] reads and restages only the batch's days — then (2) recomputes the per-day session
    * summary for exactly those days and publishes them through
    * [[graft.pipeline.TxTable]] atomically. Same affected-partition
    * shape as the Power gold, driven by streaming state output instead
    * of a watermark scan. Read with `TxTable.read(spark, goldRoot)`:
    * (session_date, n_sessions, n_events, total_value).
    */
  def runSessionsToGold(
      events: org.apache.spark.sql.Dataset[StatefulSessions.SessionEvent],
      sessionsPath: String,
      goldRoot: String,
      checkpointDir: String,
      gapSeconds: Long = 1800L): Unit = {
    val spark = events.sparkSession
    val closed = StatefulSessions.closedSessions(spark, events, gapSeconds)
    val q = closed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[StatefulSessions.ClosedSession], _: Long) =>
          val s = batch.sparkSession
          val b = batch.toDF().localCheckpoint(true) // consumed twice below
            .withColumn("session_date", to_date(col("session_start")))
          Merge.intoPartitions(TxTable.committed(s, sessionsPath), b, "session_date",
              Seq("user_id", "session_start"), Seq(col("session_end").desc))
            .foreach { case (days, merged) =>
              commitAndVacuum(s, sessionsPath, merged, "session_date")
              val fresh = TxTable.read(s, sessionsPath)
                .filter(col("session_date").isin(days: _*))
                .groupBy("session_date")
                .agg(
                  count(lit(1)).as("n_sessions"),
                  sum(col("n")).as("n_events"),
                  round(sum(col("total")), 6).as("total_value"))
              commitAndVacuum(s, goldRoot, fresh, "session_date")
            }
      }
      .start()
    q.awaitTermination()
  }
}
