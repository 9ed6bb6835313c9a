package graft

import java.lang.ref.WeakReference
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]]: the factory's settings, and the derived-session
  * cache's contract — clones follow the parent's current settings,
  * never leak overrides back, are reused for identical inputs, and do
  * not keep a dropped parent alive. Two source guards keep session
  * building in the factory, and mains and environment knobs in the entry
  * points.
  */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val tz = "spark.sql.session.timeZone"
  private val parts = "spark.sql.shuffle.partitions"

  test("factory session resolves graft SQL functions and holds UTC, AQE and nanosAsLong") {
    assert(spark.sql("SELECT simhash64(ngram_shingles('a b c d e', 2))").head().get(0) != null)
    assert(spark.conf.get(tz) === "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("a settings change on the parent reaches the next clone") {
    val parent = spark.newSession()
    val before = GraftSession.derived(parent, Map(parts -> "1"))
    assert(before.conf.get(tz) === "UTC")
    parent.conf.set(tz, "America/New_York")
    val after = GraftSession.derived(parent, Map(parts -> "1"))
    assert(after.conf.get(tz) === "America/New_York")
    assert(after.conf.get(parts) === "1")
  }

  test("overrides never show in the parent's settings") {
    val parent = spark.newSession()
    val threshold = "spark.sql.parquet.pushdown.inFilterThreshold"
    val (parts0, threshold0) = (parent.conf.get(parts), parent.conf.get(threshold))
    val clone = GraftSession.derived(parent, Map(parts -> "3", threshold -> "1048576"))
    assert(clone.conf.get(parts) === "3")
    assert(clone.conf.get(threshold) === "1048576")
    assert(parent.conf.get(parts) === parts0)
    assert(parent.conf.get(threshold) === threshold0)
  }

  test("the same parent, settings and overrides return the same clone") {
    val parent = spark.newSession()
    val a = GraftSession.derived(parent, Map(parts -> "2"))
    assert(GraftSession.derived(parent, Map(parts -> "2")) eq a)
    assert(!(GraftSession.derived(parent, Map(parts -> "5")) eq a))
    assert(!(GraftSession.derived(spark.newSession(), Map(parts -> "2")) eq a))
  }

  test("a dropped parent is collected despite its cached clone") {
    // the parent is used through its settings and its clone, the way the
    // loops use theirs. An action run on the parent itself can pin it
    // on its own: AQE's pool threads spawned during that action inherit
    // the active session, which is Spark's behaviour, not the cache's.
    def useOnce(): WeakReference[SparkSession] = {
      val parent = spark.newSession()
      parent.conf.set(tz, "Europe/Paris")
      val clone = GraftSession.derived(parent, Map(parts -> "2"))
      assert(clone.range(100).selectExpr("id % 7 AS k").groupBy("k").count().count() === 7L)
      new WeakReference(parent)
    }
    val ref = useOnce()
    SparkSession.clearActiveSession()
    var tries = 0
    while (ref.get != null && tries < 50) {
      System.gc()
      Thread.sleep(100)
      tries += 1
    }
    assert(ref.get == null, "parent session still reachable after 50 GC rounds")
  }

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("no session is built or cloned outside GraftSession") {
    val banned = Seq("SparkSession" + ".builder", "conf" + ".getAll")
    val offenders = for {
      f <- scalaFiles("src/main") ++ scalaFiles("src/test")
      if f.getFileName.toString != "GraftSession.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "build sessions with GraftSession.builder and clone them with GraftSession.derived:\n" +
        offenders.mkString("\n"))
  }

  test("the library has no main or environment knob outside the entry points") {
    def outside(token: String, allowed: Set[String]): Seq[String] = for {
      f <- scalaFiles("src/main")
      if !allowed(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(token)
    } yield s"$f:${i + 1}: ${line.trim}"
    val mains = outside("def main(",
      Set("Bench.scala", "Verify.scala", "Explain.scala", "EntrySmoke.scala", "ChaosIngestChild.scala"))
    val knobs = outside("sys.env",
      Set("Bench.scala", "Verify.scala", "Explain.scala", "OracleDump.scala"))
    assert(mains.isEmpty,
      "one-shot programs go in a scratch copy, not the library:\n" + mains.mkString("\n"))
    assert(knobs.isEmpty,
      "library code takes settings as parameters, not environment variables:\n" +
        knobs.mkString("\n"))
  }
}
