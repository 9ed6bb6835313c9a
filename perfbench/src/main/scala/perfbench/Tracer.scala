package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchProbe, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span (or summed over several). */
final class SparkCounters {
  var jobs, stages, tasks, schemaInferenceJobs, taskFailures = 0L
  var executorRunMs, executorCpuNs, executorGcMs, schedDelayMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var inputRecords, outputBytes, outputRecords = 0L

  def +=(o: SparkCounters): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    schemaInferenceJobs += o.schemaInferenceJobs; taskFailures += o.taskFailures
    executorRunMs += o.executorRunMs; executorCpuNs += o.executorCpuNs
    executorGcMs += o.executorGcMs; schedDelayMs += o.schedDelayMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    this
  }

  def toMap: Map[String, Any] = ListMap(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "schema_inference_jobs" -> schemaInferenceJobs, "task_failures" -> taskFailures,
    "executor_run_s" -> executorRunMs / 1e3, "executor_cpu_s" -> executorCpuNs / 1e9,
    "executor_gc_s" -> executorGcMs / 1e3, "sched_delay_s" -> schedDelayMs / 1e3,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords)
}

/** Counts every job, stage and task by the job group it ran under. The
  * tracer gives each span its own job group, so the group is the span.
  * Jobs outside any span land in the "" group. All updates happen on the
  * listener-bus thread; readers call [[Tracer.finish]] first, which drains
  * the bus.
  */
final class Attribution extends SparkListener {
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong
  private val stageGroup = new ConcurrentHashMap[Int, String]
  val byGroup = new ConcurrentHashMap[String, SparkCounters]
  /** Jobs per (group, result-stage name): what the jobs were. */
  val jobNames = new ConcurrentHashMap[(String, String), java.lang.Long]

  private def counters(group: String) = byGroup.computeIfAbsent(group, _ => new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, group))
    val c = counters(group)
    c.jobs += 1
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobNames.merge((group, name), 1L, _ + _)
    // a job launched inside a DataFrameReader call is the reader inferring
    // the schema (footer merge) or listing files; the stage's long call
    // site names the reader, where the short name ("parquet at ...") is
    // shared with DataFrameWriter
    if (e.stageInfos.exists(_.details.contains("DataFrameReader"))) c.schemaInferenceJobs += 1
    jobsStarted.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counters(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.executorRunMs += m.executorRunTime
      c.executorCpuNs += m.executorCpuTime
      c.executorGcMs += m.jvmGCTime
      val info = e.taskInfo
      val duration = if (info.finishTime > 0) info.finishTime - info.launchTime else 0L
      c.schedDelayMs += math.max(0L, duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime.max(0L))
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
    }
  }
}

/** Driver GC pauses, from the JVM's own GC notifications. */
final class GcWatch {
  @volatile private var on = false
  private val pauseMs = new ConcurrentLinkedQueue[java.lang.Long]

  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (on && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        // concurrent cycles run beside the application; only pauses count
        if (!info.getGcAction.toLowerCase.contains("concurrent") && !info.getGcName.contains("Concurrent"))
          pauseMs.add(info.getGcInfo.getDuration)
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def start(): Unit = { pauseMs.clear(); on = true }
  def stop(): Unit = on = false
  def totalS: Double = pauseMs.asScala.map(_.longValue).sum / 1e3
  def maxMs: Double = if (pauseMs.isEmpty) 0.0 else pauseMs.asScala.map(_.longValue).max.toDouble
}

/** In-memory spans around each call into a layer. Disabled, [[span]] just
  * runs its body: the untraced run registers no listener, sets no job
  * group and records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val nextId = new AtomicLong(1)
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val done = new ConcurrentLinkedQueue[Span]
  val attribution: Option[Attribution] =
    if (enabled) { val a = new Attribution; sc.addSparkListener(a); Some(a) } else None

  @volatile private var timedFrom = Long.MaxValue
  private var codegenAtStart, codegenAtEnd = (0L, 0L)

  private def codegen = (PerfbenchProbe.codegenCompiles, PerfbenchProbe.codegenNanos)

  /** Only spans that start from now on count toward the run's metrics. */
  def startTimed(): Unit = { codegenAtStart = codegen; timedFrom = System.nanoTime() - t0 }

  /** End of the timed phase: freezes the JVM-wide codegen deltas. */
  def stopTimed(): Unit = codegenAtEnd = codegen

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parents = open.get
      val c0 = PerfbenchProbe.codegenCompiles
      val n0 = PerfbenchProbe.codegenNanos
      open.set(id :: parents)
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open.set(parents)
        parents.headOption match {
          case Some(p) => sc.setJobGroup(group(p), "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        done.add(Span(id, name, parents.headOption.getOrElse(0L), Thread.currentThread.getName,
          start - t0, end - t0, PerfbenchProbe.codegenCompiles - c0, PerfbenchProbe.codegenNanos - n0))
      }
    }

  /** Wait until every started job has ended and the listener has seen all
    * of its events, then freeze the spans. */
  def finish(): Finished = {
    attribution.foreach { a =>
      val deadline = System.nanoTime() + 60L * 1000000000L
      PerfbenchProbe.drainListenerBus(sc, 60000L)
      while (a.jobsEnded.get < a.jobsStarted.get && System.nanoTime() < deadline)
        PerfbenchProbe.drainListenerBus(sc, 1000L)
      require(a.jobsEnded.get == a.jobsStarted.get,
        s"${a.jobsStarted.get - a.jobsEnded.get} Spark jobs never ended")
    }
    val spans = done.asScala.toSeq.filter(_.startNs >= timedFrom).sortBy(_.id)
    val self = attribution.map(a => a.byGroup.asScala.toMap).getOrElse(Map.empty[String, SparkCounters])
    val names = attribution.map(_.jobNames.asScala.toSeq.groupMap(_._1._1) { case ((_, n), k) => n -> k.longValue })
      .getOrElse(Map.empty[String, Seq[(String, Long)]])
    new Finished(runId, spans, self, names,
      codegenAtEnd._1 - codegenAtStart._1, (codegenAtEnd._2 - codegenAtStart._2) / 1e9)
  }
}

object Tracer {
  def group(id: Long): String = s"perfbench-$id"

  final case class Span(
      id: Long, name: String, parent: Long, thread: String,
      startNs: Long, endNs: Long, codegenCompiles: Long, codegenNanos: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** The spans of one run with their Spark work, self and inclusive. */
  final class Finished(
      runId: String, val spans: Seq[Span], selfSpark: Map[String, SparkCounters],
      jobNames: Map[String, Seq[(String, Long)]],
      val codegenCompiles: Long, val codegenSeconds: Double) {
    private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

    def selfCounters(s: Span): SparkCounters = selfSpark.getOrElse(group(s.id), new SparkCounters)

    /** The span's own Spark work plus that of every span below it. */
    def inclusive(s: Span): SparkCounters = {
      val c = new SparkCounters += selfCounters(s)
      children.getOrElse(s.id, Nil).foreach(ch => c += inclusive(ch))
      c
    }

    /** Jobs the span itself ran, by result-stage name. */
    def selfJobNames(s: Span): Seq[(String, Long)] = jobNames.getOrElse(group(s.id), Nil)

    /** Jobs of every timed span, by result-stage name. */
    def jobsByName: Seq[(String, Long)] =
      spans.flatMap(selfJobNames).groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(-_._2)

    def selfSeconds(s: Span): Double =
      s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

    def named(name: String): Seq[Span] = spans.filter(_.name == name)
    def self(names: String*): Double = spans.filter(s => names.contains(s.name)).map(selfSeconds).sum
    def meanMs(name: String): Double = { val xs = named(name); if (xs.isEmpty) 0.0 else xs.map(_.seconds).sum * 1e3 / xs.size }
    def seconds(names: String*): Double = spans.filter(s => names.contains(s.name)).map(_.seconds).sum
    def spark(names: String*): SparkCounters =
      spans.filter(s => names.contains(s.name)).foldLeft(new SparkCounters)(_ += inclusive(_))

    /** The Spark work of every timed span, each job counted once. */
    def total: SparkCounters = spans.foldLeft(new SparkCounters)(_ += selfCounters(_))

    /** Seconds of `root` spans covered by their direct children. */
    def childCoverage(root: String): Double = {
      val roots = named(root)
      val wall = roots.map(_.seconds).sum
      if (wall == 0) 0.0 else roots.map(r => children.getOrElse(r.id, Nil).map(_.seconds).sum).sum / wall
    }

    def records: Seq[Map[String, Any]] = spans.map { s =>
      ListMap(
        "run_id" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "thread" -> s.thread,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9, "self_s" -> selfSeconds(s),
        "codegen_compiles" -> s.codegenCompiles, "codegen_s" -> s.codegenNanos / 1e9,
        "spark_self" -> selfCounters(s).toMap, "jobs_by_name" -> ListMap(selfJobNames(s): _*))
    }
  }
}
