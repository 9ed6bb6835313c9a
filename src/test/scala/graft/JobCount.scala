package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark jobs launched while a body runs, counted by job group. A sentinel
  * job afterwards flushes the listener bus: events arrive in order, so once
  * its start is seen every earlier start was counted. */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, jobs, _) = withRecords(spark)(body)
    (out, jobs)
  }

  /** [[apply]], plus the input records read by the tasks of those jobs
    * (their task ends, too, arrive before the sentinel's start). */
  def withRecords[T](spark: SparkSession)(body: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (g == group) e.stageIds.foreach(stages.add)
        starts.add(g)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-sentinel", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!starts.contains(group + "-sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(starts.contains(group + "-sentinel"), "listener bus did not deliver the sentinel job")
      (out, starts.toArray.count(_ == group), records.get)
    } finally sc.removeSparkListener(listener)
  }
}
