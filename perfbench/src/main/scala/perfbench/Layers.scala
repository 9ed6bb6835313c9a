package perfbench

import scala.collection.immutable.ListMap

/** The per-layer metrics of a traced run, from its spans and the
  * workload's own counts. Amounts are per operation of the workload's main
  * loop (an hourly increment in ingest_hourly, a writer cycle in
  * serve_mixed); `_ms` metrics are means per call; ratios, `rows_pinned`
  * and maxima are not divided. */
object Layers {

  /** What a workload's main loop counted over its operations. */
  final class Tally {
    var ops, lines, refused, fresh, rejected, swaps = 0L
  }

  def metrics(fin: Tracer.Finished, c: Tally, rowsPinned: Long, cachedRowsPerCall: Double,
      genLagMs: Double, genBacklogMax: Long, written: Array[Long], gc: GcWatch)
      : ListMap[String, (Double, String)] = {
    val n = math.max(1L, c.ops).toDouble
    def per(x: Double) = x / n
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val spark = fin.total
    val calls = fin.named("serve.call").size
    ListMap(
      "parse.lines" -> (per(c.lines), "count"),
      "parse.bodies_rejected" -> (per(c.refused), "count"),
      "parse.busy_s" -> (per(fin.self("parse")), "s"),
      "silver.build_s" -> (per(fin.self("silver.build")), "s"),
      "silver.rows_fresh" -> (per(c.fresh), "count"),
      "silver.rows_rejected" -> (per(c.rejected), "count"),
      "silver.rows_written" -> (per(fin.spark("silver.commit").outputRecords), "count"),
      "silver.rewrite_amp" -> (ratio(fin.spark("silver.commit").outputRecords, c.fresh), "ratio"),
      "txtable.stage_s" -> (per(fin.seconds("txtable.stage")), "s"),
      "txtable.publish_s" -> (per(fin.seconds("txtable.publish")), "s"),
      "txtable.read_s" -> (per(fin.seconds("txtable.read")), "s"),
      "txtable.bytes_written" -> (per(written(1)), "bytes"),
      "txtable.files_written" -> (per(written(0)), "count"),
      "txtable.partitions_written" -> (per(written(2)), "count"),
      "quality.silver_s" -> (per(fin.self("silver.quality")), "s"),
      "quality.gold_s" -> (per(fin.self("gold.quality")), "s"),
      "quality.rows_scanned" -> (per(fin.spark("silver.quality", "gold.quality").inputRecords), "count"),
      "gold.build_s" -> (per(fin.self("gold.build")), "s"),
      "gold.days_affected" -> (per(fin.spark("gold.commit").outputRecords), "count"),
      "gold.scan_amp" -> (ratio(fin.spark("gold.build", "gold.commit").inputRecords, c.fresh), "ratio"),
      "servecache.refresh_s" -> (per(fin.seconds("servecache.refresh")), "s"),
      "servecache.rows_pinned" -> (rowsPinned.toDouble, "count"),
      "servecache.range_ms" -> (fin.meanMs("servecache.range"), "ms"),
      "servecache.rows_per_call" -> (cachedRowsPerCall, "count"),
      "servecache.swaps" -> (per(c.swaps), "count"),
      "serve.build_ms" -> (fin.meanMs("serve.build"), "ms"),
      "serve.plan_ms" -> (fin.meanMs("serve.plan"), "ms"),
      "serve.exec_ms" -> (fin.meanMs("serve.exec"), "ms"),
      "serve.jobs_per_call" -> (ratio(fin.spark("serve.call").jobs, calls), "count"),
      "spark.jobs" -> (per(spark.jobs), "count"),
      "spark.stages" -> (per(spark.stages), "count"),
      "spark.tasks" -> (per(spark.tasks), "count"),
      "spark.schema_inference_jobs" -> (per(spark.schemaInferenceJobs), "count"),
      "spark.codegen_compiles" -> (per(fin.codegenCompiles), "count"),
      "spark.codegen_s" -> (per(fin.codegenSeconds), "s"),
      "spark.executor_run_s" -> (per(spark.executorRunMs / 1e3), "s"),
      "spark.executor_cpu_s" -> (per(spark.executorCpuNs / 1e9), "s"),
      "spark.executor_gc_s" -> (per(spark.executorGcMs / 1e3), "s"),
      "spark.sched_delay_s" -> (per(spark.schedDelayMs / 1e3), "s"),
      "spark.shuffle_read_bytes" -> (per(spark.shuffleReadBytes), "bytes"),
      "spark.shuffle_write_bytes" -> (per(spark.shuffleWriteBytes), "bytes"),
      "spark.spill_bytes" -> (per(spark.spillBytes), "bytes"),
      "spark.input_records" -> (per(spark.inputRecords), "count"),
      "spark.output_bytes" -> (per(spark.outputBytes), "bytes"),
      "spark.task_failures" -> (per(spark.taskFailures), "count"),
      "jvm.gc_pause_s" -> (per(gc.totalS), "s"),
      "jvm.gc_pause_max_ms" -> (gc.maxMs, "ms"),
      "gen.lag_ms" -> (genLagMs, "ms"),
      "gen.backlog_max" -> (genBacklogMax.toDouble, "count"))
  }

  /** Per-span-name totals for the record: count, wall, self time, jobs. */
  def spanSummary(fin: Tracer.Finished): ListMap[String, Any] =
    ListMap(fin.spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val spark = ss.foldLeft(new SparkCounters)(_ += fin.selfCounters(_))
      val jobs = ss.flatMap(fin.selfJobNames).groupMapReduce(_._1)(_._2)(_ + _)
      name -> ListMap("count" -> ss.size, "wall_s" -> ss.map(_.seconds).sum,
        "self_s" -> ss.map(fin.selfSeconds).sum, "spark_self" -> spark.toMap,
        "jobs_by_name" -> ListMap(jobs.toSeq.sortBy(-_._2): _*))
    }: _*)
}
