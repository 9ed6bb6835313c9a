package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Names the jobs a library action launches. The short call site is a
  * thread-local property that Spark copies to the threads running
  * adaptive-query stages, so every job of `body` — the stage jobs too,
  * otherwise named after `CompletableFuture` — carries `name` as its job
  * and stage name. The long form (the stack) is left alone. */
private[pipeline] object CallSites {
  private val ShortForm = "callSite.short"

  def apply[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ShortForm)
    sc.setCallSite(name)
    try body finally sc.setLocalProperty(ShortForm, prev)
  }
}
