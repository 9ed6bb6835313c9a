package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare — and (r12
  * verdict item 3) a canonical PLAN FINGERPRINT per query
  * (`plan_fingerprints.json`), diffed against the committed
  * `plans_floor.json` by `scripts/check_plans.py`. The bench floor
  * catches time creep; the plan floor catches silent plan flips that
  * stay inside the time gate (a broadcast becoming a shuffle at a
  * data-size boundary, a pushed filter lost in a refactor).
  */
object Verify {

  /** Physical-plan text with everything run-varying stripped: exprIds,
    * paths, codegen ids, plan ids, lambda/object addresses, UUID tags.
    * Literal-heavy plans (embedded trained models) canonicalize fine —
    * the trained values are seeded-deterministic per SF. */
  def canonicalPlan(explain: String): String = explain
    .replaceAll("#\\d+L?", "")
    // lambda variable names (x_175, lambda y_53) carry a process-global
    // counter exactly like exprIds — single-letter base + _N, so real
    // column names (n_chars, band_id) are never touched
    .replaceAll("\\b[a-z]_\\d+\\b", "lv")
    .replaceAll("\\[plan_id=\\d+\\]", "")
    .replaceAll("\\*\\(\\d+\\)", "*")
    .replaceAll("(file:)?/[A-Za-z0-9_./-]*(tmp|testdata|repo)[A-Za-z0-9_./-]*", "PATH")
    .replaceAll("InMemoryFileIndex\\(\\d+ paths?\\)", "InMemoryFileIndex")
    .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+", "LAMBDA")
    .replaceAll("@[0-9a-f]{6,}", "@ADDR")
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "UUID")
    .replaceAll("[0-9a-f]{32}", "UUID")
    .replaceAll("[ \\t]+\\n", "\n").trim

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always passes exactly two)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val builder = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // extra conf overrides (k=v;k2=v2) — exists so the plan gate can be
    // DEMONSTRATED to fire (e.g. flip the broadcast threshold locally
    // and watch fingerprints change); never set by the driver
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(
      _.split(";").filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val fingerprints = scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val canon = canonicalPlan(df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode))
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // record the fingerprint only AFTER the dump write succeeds: a
        // query that plans fine but fails at runtime must not hand the
        // plan gate an 'ok' entry while the oracle compare reports its
        // dump missing (r13 advice). AQE caveat, documented here because
        // this is the gate's capture point: the hash covers the
        // PRE-EXECUTION plan (AdaptiveSparkPlan isFinalPlan=false), so
        // planner-time flips (broadcast threshold, pushdown loss,
        // strategy changes) are caught, but a RUNTIME re-plan AQE makes
        // mid-query (e.g. demoting a broadcast at a data-size boundary
        // it only learns while executing) is invisible — the time floor
        // is the backstop for those.
        fingerprints(name) = (md5hex(canon), canon)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // never leave a stale (previous-run) dump for a failing query —
        // a leftover would false-pass the oracle compare. Recursive: a
        // partial write leaves _temporary/ subdirs a flat delete misses.
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // fingerprint file: hash over the FULL canonical text; stored text
    // capped (literal-heavy trained-model plans run to megabytes — the
    // hash still covers all of it, the capped text keeps diffs readable)
    val fpJson = fingerprints
      .map { case (k, (h, text)) =>
        s"${q(k)}: {${q("hash")}: ${q(h)}, ${q("plan")}: ${q(text.take(20000))}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/plan_fingerprints.json"), fpJson)
    spark.stop()
  }
}
