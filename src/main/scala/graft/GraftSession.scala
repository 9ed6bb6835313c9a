package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe and the one clone recipe every entry point,
  * test and iterative loop goes through, so the settings the
  * plan gate, the oracle dumps and the bench floor were frozen under
  * cannot drift between copies.
  */
object GraftSession {

  /** A builder holding the settings Verify, Bench and the tests share:
    * the graft extension (SQL functions + optimizer rules), `local[cpus]`
    * with one shuffle partition per core, UTC, AQE, nanosecond parquet
    * timestamps read as longs (the older `events.parquet` layout), no
    * UI, and untruncated FileScan metadata in plan text: explain cuts
    * DataFilters/PushedFilters at `maxMetadataStringLength` (default
    * 100) before Verify's canonicalPlan strips exprIds, so a drift in
    * exprId digit counts would move the cut and flip the plan
    * fingerprints of untouched queries. Callers add only their own
    * settings before `getOrCreate()`.
    */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxMetadataStringLength", "10000")

  // parent -> ((parent settings, overrides) -> clone). Weak on the
  // parent, so a dropped session and its clones can be collected; a
  // clone never references its parent (newSession shares only the
  // context and the shared state).
  private val clones = new java.util.WeakHashMap[
    SparkSession,
    scala.collection.mutable.Map[(Map[String, String], Map[String, String]), SparkSession]]()

  /** A session on `parent`'s context that carries the parent's current
    * runtime settings plus `overrides`, which never reach the parent.
    * `newSession()` alone inherits only the context's settings, not
    * what the caller set through `spark.conf`, so those are copied;
    * static entries throw on set and are skipped (they are
    * context-level, thus already shared).
    *
    * Clones are cached per parent, keyed on the parent's settings at
    * the time of the call and the overrides: repeated calls amortize
    * the SessionState build, and a later settings change on the parent
    * reaches the next clone. Callers must not change a clone's
    * settings, and share data with it through global temp views or
    * Datasets, not session-local state.
    */
  def derived(parent: SparkSession, overrides: Map[String, String]): SparkSession = {
    val settings = parent.conf.getAll
    clones.synchronized {
      val perParent = clones.computeIfAbsent(parent, _ => scala.collection.mutable.HashMap.empty)
      perParent.getOrElseUpdate((settings, overrides), {
        val s = parent.newSession()
        settings.foreach { case (k, v) =>
          try s.conf.set(k, v)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        overrides.foreach { case (k, v) => s.conf.set(k, v) }
        s
      })
    }
  }
}
