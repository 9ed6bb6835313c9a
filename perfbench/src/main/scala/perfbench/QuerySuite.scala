package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** query_suite: every `SparkEntry.queries` entry once, in one session, into
  * the noop sink `graft.Bench` uses, with construction (the query function
  * itself, which may train or count eagerly), planning and execution timed
  * apart. Planning is read from each execution's own planning tracker, so
  * the suite runs exactly the work `graft.Bench` runs.
  *
  * Not in BENCHMARK.json: it needs the generated test tables described in
  * TESTDATA.md (`--data`, e.g. an sf0.1 dir) and takes minutes, not seconds.
  */
object QuerySuite {
  /** Construction time above which a query counts as eager. */
  val EagerBuildS = 0.5

  /** Planning phases (optimization + physical planning) of each finished
    * execution, in completion order. */
  private final class Phases extends QueryExecutionListener {
    val seconds = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      seconds.add(Seq("optimization", "planning").flatMap(p.get).map(_.durationMs).sum / 1e3)
    }
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def run(ctx: Bench.Ctx): Bench.Result = {
    import ctx._
    val data = opts.data.getOrElse(
      throw new IllegalArgumentException("query_suite needs --data DIR (a test-data dir, see TESTDATA.md)"))
    val phases = new Phases
    spark.listenerManager.register(phases)
    val t0 = System.nanoTime()
    // graft.Bench's warm-up: the flagship query, outside the timed region
    graft.SparkEntry.queries("q_daily_power")(spark, data).write.format("noop").mode("overwrite").save()
    val warmS = (System.nanoTime() - t0) / 1e9
    org.apache.spark.PerfbenchProbe.drainListenerBus(spark.sparkContext, 60000L)
    phases.seconds.clear()
    ctx.calibrate("before")

    final case class Q(name: String, wall: Double, build: Double, exec: Double, var plan: Double)
    val done = ArrayBuffer.empty[Q]
    gc.start()
    tracer.startTimed()
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      ops.run(name) {
        tracer.span(s"ops.query:$name") {
          val q0 = System.nanoTime()
          val df = tracer.span("ops.build")(fn(spark, data))
          val q1 = System.nanoTime()
          tracer.span("ops.exec")(df.write.format("noop").mode("overwrite").save())
          val q2 = System.nanoTime()
          done += Q(name, (q2 - q0) / 1e9, (q1 - q0) / 1e9, (q2 - q1) / 1e9, 0.0)
          ((), true)
        }
      }
      // the planning of everything the query executed, eager actions included
      org.apache.spark.PerfbenchProbe.drainListenerBus(spark.sparkContext, 60000L)
      if (done.nonEmpty && done.last.name == name) {
        var p = 0.0
        while (!phases.seconds.isEmpty) p += phases.seconds.poll()
        done.last.plan = p
      } else phases.seconds.clear()
    }
    tracer.stopTimed()
    gc.stop()
    val heapMb = Bench.liveHeapMb()
    spark.listenerManager.unregister(phases)
    val fin = tracer.finish()
    val walls = done.map(_.wall).toSeq
    val total = walls.sum
    val perQuery = done.map { q =>
      val span = fin.spans.find(_.name == s"ops.query:${q.name}")
      val work = span.map(fin.inclusive).getOrElse(new SparkCounters)
      q.name -> ListMap("wall_s" -> q.wall, "build_s" -> q.build, "plan_s" -> q.plan, "exec_s" -> q.exec,
        "jobs" -> work.jobs, "schema_inference_jobs" -> work.schemaInferenceJobs,
        "codegen_compiles" -> span.map(_.codegenCompiles).getOrElse(0L),
        "codegen_s" -> span.map(_.codegenNanos / 1e9).getOrElse(0.0))
    }
    val n = math.max(1, done.size).toDouble
    val work = fin.total
    val layers =
      if (!tracer.enabled) ListMap.empty[String, (Double, String)]
      else ListMap(
        "ops.build_s" -> (done.map(_.build).sum / n, "s"),
        "ops.plan_s" -> (done.map(_.plan).sum / n, "s"),
        "ops.exec_s" -> (done.map(_.exec).sum / n, "s"),
        "ops.eager_queries" -> (done.count(_.build > EagerBuildS).toDouble, "count"),
        "spark.jobs" -> (work.jobs.toDouble, "count"),
        "spark.stages" -> (work.stages.toDouble, "count"),
        "spark.tasks" -> (work.tasks.toDouble, "count"),
        "spark.schema_inference_jobs" -> (work.schemaInferenceJobs.toDouble, "count"),
        "spark.codegen_compiles" -> (fin.codegenCompiles.toDouble, "count"),
        "spark.codegen_s" -> (fin.codegenSeconds, "s"),
        "spark.executor_run_s" -> (work.executorRunMs / 1e3, "s"),
        "spark.executor_cpu_s" -> (work.executorCpuNs / 1e9, "s"),
        "spark.shuffle_write_bytes" -> (work.shuffleWriteBytes.toDouble, "bytes"),
        "jvm.gc_pause_s" -> (gc.totalS, "s"))
    def share(x: Double) = if (total == 0) 0.0 else x / total
    Bench.Result(
      endToEnd = ListMap(
        "setup_s" -> (sessionS + warmS, "s"),
        "suite_total_s" -> (total, "s"),
        "suite_query_p50_s" -> (Stats.median(walls), "s"),
        "suite_query_p95_s" -> (Stats.quantile(walls, 0.95), "s"),
        "heap_live_mb" -> (heapMb, "MB")),
      perLayer = layers,
      record = ListMap(
        "queries" -> done.size,
        "shares" -> (if (!tracer.enabled) null else ListMap(
          "construction" -> share(done.map(_.build).sum),
          "codegen" -> share(fin.codegenSeconds),
          "planning" -> share(done.map(_.plan).sum),
          "schema_inference_jobs_share_of_jobs" ->
            (if (work.jobs == 0) 0.0 else work.schemaInferenceJobs.toDouble / work.jobs))),
        "slowest" -> done.sortBy(-_.wall).take(5).map(q => ListMap("name" -> q.name, "wall_s" -> q.wall)),
        "jobs_by_name" -> ListMap(fin.jobsByName.take(40): _*),
        "per_query" -> ListMap(perQuery.toSeq: _*)),
      spans = if (tracer.enabled) fin.records else Nil)
  }
}
