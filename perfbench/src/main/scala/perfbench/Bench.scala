package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

/** Benchmark entry point: one workload, one seed, one run.
  *
  *   perfbench.Bench --workload ingest_hourly|serve_mixed|query_suite --seed N
  *                   --seconds S --trace 0|1 --work DIR [--git-head SHA] [--data DIR]
  *
  * Prints one JSON object as its last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics when untraced and the per-layer metrics when traced, and writes
  * the full run record (host facts, calibration, every metric, spans) under
  * `DIR/records`. `perfbench/run.py` builds the classpath and calls this.
  */
object Bench {

  final case class Opts(
      workload: String, seed: Long, seconds: Int, trace: Boolean, work: String, gitHead: String,
      data: Option[String])

  /** What a workload hands back. Units ride with every value. */
  final case class Result(
      endToEnd: ListMap[String, (Double, String)],
      perLayer: ListMap[String, (Double, String)],
      record: ListMap[String, Any],
      spans: Seq[Map[String, Any]])

  final case class Ctx(spark: SparkSession, tracer: Tracer, ops: Ops, gc: GcWatch, opts: Opts,
      nproc: Int, sessionS: Double) {
    def dir(name: String): String = s"${opts.work}/data/$name"

    /** Calibration readings by when they were taken. Each is warm: the JVM
      * has already run the workload's setup, so it reads the host, not JIT
      * start-up. */
    val calibration = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def calibrate(when: String): Unit = calibration(when) = Bench.calibrate(spark, nproc)
  }

  val Workloads: Map[String, Ctx => Result] = Map(
    "ingest_hourly" -> IngestHourly.run,
    "serve_mixed" -> ServeMixed.run,
    "query_suite" -> QuerySuite.run)

  /** Renders records and the result line; maps keep their order, doubles
    * all their digits. */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workload = Workloads.getOrElse(opts.workload,
      throw new IllegalArgumentException(
        s"unknown workload '${opts.workload}'; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = session(nproc, opts.work)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val runId = s"${opts.workload}-s${opts.seed}-t${if (opts.trace) 1 else 0}-${System.currentTimeMillis()}"
    val ctx = Ctx(spark, new Tracer(spark, opts.trace, runId), new Ops, new GcWatch, opts, nproc, sessionS)
    val loadBefore = loadAverage
    val t0 = System.nanoTime()
    val res = workload(ctx)
    val workloadS = (System.nanoTime() - t0) / 1e9
    ctx.calibrate("after")
    val ops = ctx.ops
    val metrics = if (opts.trace) res.perLayer else res.endToEnd
    val record = ListMap(
      "run_id" -> runId,
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds, "trace" -> opts.trace,
      "host" -> ListMap(
        "nproc" -> nproc, "load_avg_before" -> loadBefore, "load_avg_after" -> loadAverage,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark" -> spark.version, "git_head" -> opts.gitHead,
        "session_conf" -> ListMap(spark.conf.getAll.toSeq.sortBy(_._1): _*)),
      "calibration_s" -> ctx.calibration,
      "workload_wall_s" -> workloadS,
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "ops_failed_share" -> ops.failed.toDouble / math.max(1L, ops.attempted),
      "failures" -> ops.failures,
      "end_to_end" -> unitMap(res.endToEnd),
      "per_layer" -> unitMap(res.perLayer)) ++ res.record
    val records = Paths.get(opts.work, "records")
    Files.createDirectories(records)
    Files.write(records.resolve(s"$runId.json"), json.writeValueAsBytes(record))
    if (res.spans.nonEmpty)
      Files.write(records.resolve(s"$runId.spans.jsonl"),
        res.spans.map(json.writeValueAsString).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
    System.err.println(s"[perfbench] record ${records.resolve(s"$runId.json")}")
    ops.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    println(json.writeValueAsString(ListMap(
      "correct" -> (ops.failed == 0), "attempted" -> ops.attempted, "failed" -> ops.failed,
      "metrics" -> unitMap(metrics))))
  }

  private def unitMap(m: ListMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), kv.getOrElse("git-head", "unknown"), kv.get("data"))
  }

  /** `graft.Bench`'s session settings at local[nproc], with Spark's scratch
    * and warehouse dirs kept under the work dir. */
  private def session(nproc: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `graft.Bench`'s calibration shape (a data-free range aggregate through
    * one exchange into the noop sink) at a fixed 2M rows: it reads only
    * ambient machine load, so a contended run can be told apart from a slow
    * change. */
  def calibrate(spark: SparkSession, nproc: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 2000000L, 1, nproc)
      .selectExpr("id % 1024 AS k", "id AS v")
      .groupBy("k").agg(sum("v"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def loadAverage: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Live driver heap: used heap right after a full collection. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Order statistics over samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, n, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Int, Double)] =
    if (xs.size < 11) None
    else {
      val p = math.floor(100.0 * (1.0 - 10.0 / xs.size) * 10) / 10
      Some((p, xs.size, quantile(xs, p / 100.0)))
    }

  def tailRecord(xs: Seq[Double]): Any =
    tail(xs).map { case (p, n, v) => ListMap("percentile" -> p, "n" -> n, "value" -> v) }
      .getOrElse(ListMap("percentile" -> null, "n" -> xs.size, "value" -> null))

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
