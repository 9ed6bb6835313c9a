package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Crash-safety of the manifest-log table: a commit that dies between
  * partition writes and the manifest publish must be invisible — readers
  * keep seeing the previous version of EVERY partition, never a torn mix.
  */
class TxTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(pairs: (String, Double)*) =
    pairs.toSeq.toDF("day", "value")

  private def snapshot(root: String): Set[(String, Double)] =
    TxTable.read(spark, root)
      .select(col("day").cast("string"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet

  test("kill between partition swaps: staged-but-unpublished commit is invisible; publish flips all partitions atomically") {
    val root = graft.TestTmp.dir("txtable") + "/gold"
    // v1: days A, B
    TxTable.commit(spark, root, rows("2022-04-14" -> 1.0, "2022-04-15" -> 2.0), "day")
    assert(snapshot(root) == Set("2022-04-14" -> 1.0, "2022-04-15" -> 2.0))

    // crash simulation: a merge recomputing day A and adding day C stages
    // its partitions (the multi-partition "swap" of the old design) but
    // dies before the manifest publish
    val staged = TxTable.stage(spark, root,
      rows("2022-04-14" -> 10.0, "2022-04-16" -> 3.0), "day")
    assert(snapshot(root) == Set("2022-04-14" -> 1.0, "2022-04-15" -> 2.0),
      "reader must not see any staged partition — old A AND old B, no torn mix")

    // recovery = just publish (or abandon) the staged version
    TxTable.publish(spark, root, staged, "day")
    assert(snapshot(root) == Set("2022-04-14" -> 10.0, "2022-04-15" -> 2.0, "2022-04-16" -> 3.0),
      "after the single manifest rename: new A, untouched B, new C")
  }

  test("crash during manifest write: .tmp debris is ignored by readers and cleaned by vacuum") {
    val root = graft.TestTmp.dir("txtable2") + "/t"
    TxTable.commit(spark, root, rows("d1" -> 1.0), "day")
    // simulate a publish that died mid-manifest-write
    Files.createDirectories(java.nio.file.Paths.get(s"$root/_txlog"))
    val tmp = java.nio.file.Paths.get(s"$root/_txlog/00000002.manifest.tmp")
    Files.writeString(tmp, "d1\tv2/day=d1")
    assert(snapshot(root) == Set("d1" -> 1.0), "partial manifest must be invisible")
    // a tmp at least as new as the latest manifest gets the same
    // modification-time grace as data dirs (it may be a LIVE concurrent
    // casManifest between create and link) — one vacuum leaves it alone
    TxTable.vacuum(spark, root, retainMs = 0L) // eager mode: no reader grace
    assert(new java.io.File(tmp.toString).exists(),
      "fresh tmp survives vacuum — it is indistinguishable from an in-flight publish")
    assert(snapshot(root) == Set("d1" -> 1.0))
    // after the NEXT successful commit the tmp is provably debris
    // (strictly older than the new latest manifest) and is collected
    TxTable.commit(spark, root, rows("d2" -> 2.0), "day")
    TxTable.vacuum(spark, root, retainMs = 0L) // eager mode: no reader grace
    assert(!new java.io.File(tmp.toString).exists(),
      "tmp older than the latest manifest is crash debris — collected")
    assert(snapshot(root) == Set("d1" -> 1.0, "d2" -> 2.0))
  }

  test("vacuum drops superseded versions but keeps every partition the latest manifest references") {
    val root = graft.TestTmp.dir("txtable3") + "/t"
    TxTable.commit(spark, root, rows("d1" -> 1.0, "d2" -> 2.0), "day")
    TxTable.commit(spark, root, rows("d1" -> 10.0), "day") // v2 rewrites only d1
    TxTable.commit(spark, root, rows("d1" -> 100.0), "day") // v3 rewrites only d1
    assert(snapshot(root) == Set("d1" -> 100.0, "d2" -> 2.0))
    def versionDirs() =
      new java.io.File(root).listFiles().map(_.getName).filter(_.startsWith("v")).toSet
    assert(versionDirs().size == 3, "three commits -> three version dirs")
    TxTable.vacuum(spark, root, retainMs = 0L) // eager mode: no reader grace
    // v2's dir (fully superseded) is gone; v1's survives because d2
    // still lives there, v3's is the live d1
    val live = versionDirs()
    assert(live.size == 2, s"unreferenced version dir removed, kept $live")
    assert(live.exists(_.startsWith("v1-")) && live.exists(_.startsWith("v3-")), s"$live")
    assert(snapshot(root) == Set("d1" -> 100.0, "d2" -> 2.0), "read identical after vacuum")
  }

  test("time travel: readAt returns each past version exactly; vacuum bounds the horizon") {
    val root = graft.TestTmp.dir("txtable5") + "/t"
    TxTable.commit(spark, root, rows("d1" -> 1.0, "d2" -> 2.0), "day")
    TxTable.commit(spark, root, rows("d1" -> 10.0), "day")
    def at(v: Long) = TxTable.readAt(spark, root, v)
      .select(col("day").cast("string"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(at(1) == Set("d1" -> 1.0, "d2" -> 2.0), "v1 frozen")
    assert(at(2) == Set("d1" -> 10.0, "d2" -> 2.0), "v2 = latest")
    intercept[IllegalArgumentException](TxTable.readAt(spark, root, 3))
    TxTable.vacuum(spark, root, retainMs = 0L) // eager mode: no reader grace
    // superseded manifest removed -> v1 no longer travelable, v2 intact
    intercept[IllegalArgumentException](TxTable.readAt(spark, root, 1))
    assert(at(2) == Set("d1" -> 10.0, "d2" -> 2.0))
  }

  test("vacuum retention: a reader pinned to a superseded manifest keeps its files inside the horizon") {
    val root = graft.TestTmp.dir("txtable_ret") + "/t"
    TxTable.commit(spark, root, rows("d1" -> 1.0), "day") // v1
    // a long scan pins v1 BEFORE the writer supersedes it
    val pinned = TxTable.readAt(spark, root, 1)
      .select(col("day").cast("string"), col("value"))
    TxTable.commit(spark, root, rows("d1" -> 10.0), "day") // v2 fully supersedes v1's dir
    def versionDirs() =
      new java.io.File(root).listFiles().map(_.getName).filter(_.startsWith("v")).toSet

    // default-retention vacuum runs between the reader's pin and its
    // collect — the exact race the contract exists for
    TxTable.vacuum(spark, root)
    assert(versionDirs().exists(_.startsWith("v1-")),
      "v1 superseded moments ago is inside the retention horizon — its dir must survive")
    assert(pinned.collect().map(r => (r.getString(0), r.getDouble(1))).toSet ==
      Set("d1" -> 1.0), "the pinned reader completes against the retained files")
    // the superseded manifest is retained too, so a fresh time-travel
    // to v1 inside the horizon still works
    assert(TxTable.readAt(spark, root, 1).count() === 1L)

    // past the horizon (simulated with retainMs = 0) the contract ends:
    // v1's dir and manifest are collected, readers must re-pin
    TxTable.vacuum(spark, root, retainMs = 0L)
    assert(!versionDirs().exists(_.startsWith("v1-")), "past the horizon v1 is collected")
    intercept[IllegalArgumentException](TxTable.readAt(spark, root, 1))
    assert(snapshot(root) == Set("d1" -> 10.0), "latest is untouched throughout")
  }

  test("vacuum running concurrently with a commit never deletes the in-flight staged dir") {
    val root = graft.TestTmp.dir("txtable6") + "/t"
    TxTable.commit(spark, root, rows("d1" -> 1.0), "day")
    // a second writer has staged v2 but not yet published when vacuum runs
    val staged = TxTable.stage(spark, root, rows("d1" -> 2.0), "day")
    TxTable.vacuum(spark, root, retainMs = 0L) // eager mode: no reader grace
    assert(new java.io.File(s"$root/$staged").exists(),
      "staged-not-yet-published dir (newer than the latest manifest) must survive vacuum")
    TxTable.publish(spark, root, staged, "day")
    assert(snapshot(root) == Set("d1" -> 2.0), "the raced commit still completes intact")
  }

  test("schema evolution: a commit adding a column reads back with nulls on old partitions") {
    val root = graft.TestTmp.dir("txtable7") + "/t"
    TxTable.commit(spark, root, rows("d1" -> 1.0, "d2" -> 2.0), "day")
    // v2 rewrites d1 only, with a NEW source column
    TxTable.commit(spark, root,
      rows("d1" -> 10.0).withColumn("source", lit("late-feed")), "day")
    val got = TxTable.read(spark, root)
      .select(col("day").cast("string"), col("value"), col("source"))
      .collect().map(r => (r.getString(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(got == Set(
      ("d1", 10.0, Some("late-feed")),
      ("d2", 2.0, None)),
      "new column present, old partition reads null — no rewrite of untouched partitions")
    // time travel still shows the ORIGINAL schema
    assert(!TxTable.readAt(spark, root, 1).columns.contains("source"))
  }

  test("type widening: an int column promoted to long (and to double) still reads old partitions") {
    val root = graft.TestTmp.dir("txtable8") + "/t"
    TxTable.commit(spark, root,
      Seq(("d1", 1), ("d2", 2)).toDF("day", "n"), "day") // n: int
    TxTable.commit(spark, root,
      Seq(("d1", 10L)).toDF("day", "n"), "day") // n: long — v1's d2 must widen
    val got = TxTable.read(spark, root)
      .select(col("day").cast("string"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set("d1" -> 10L, "d2" -> 2L))
    // int×float mix widens to DOUBLE (a long can't live in a float)
    TxTable.commit(spark, root, Seq(("d2", 2.5f)).toDF("day", "n"), "day")
    val df = TxTable.read(spark, root)
    assert(df.schema("n").dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.select(col("day").cast("string"), col("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet == Set("d1" -> 10.0, "d2" -> 2.5))
    // a non-numeric conflict is DEFERRED to unionByName's standard
    // set-operation coercion — custom widening must never change what
    // Spark-standard reads do. Spark coerces string∪double to DOUBLE at
    // analysis and the ANSI cast then rejects malformed values at
    // runtime with a clear CAST_INVALID_INPUT naming the value.
    TxTable.commit(spark, root, Seq(("d1", "oops")).toDF("day", "n"), "day")
    val coerced = TxTable.read(spark, root)
    assert(coerced.schema("n").dataType == org.apache.spark.sql.types.DoubleType)
    val ex = intercept[Exception](coerced.collect())
    assert(ex.getMessage.contains("CAST_INVALID_INPUT"), ex.getMessage.take(200))
  }

  test("reads build from the manifest alone: no job, one FileScan over every version dir") {
    val root = graft.TestTmp.dir("txmanifest") + "/t"
    def days(from: Int, until: Int, value: Double) = (from until until)
      .map(i => (java.time.LocalDate.of(2022, 1, 1).plusDays(i).toString, i.toLong, value))
      .toDF("day", "id", "value")
    // 20 + 25 + 11 = 56 partition dirs over 3 version dirs; days 10-19
    // and 30-34 hold two dirs each
    TxTable.appendCommit(spark, root, days(0, 20, 1.0), "day")
    TxTable.appendCommit(spark, root, days(10, 35, 2.0), "day")
    TxTable.appendCommit(spark, root, days(30, 41, 3.0), "day")
    val dirs = TxTable.latest(spark, root)._2.values.toSeq.flatMap(_.split("\t"))
    assert(dirs.size == 56 && dirs.map(_.takeWhile(_ != '/')).distinct.size == 3)

    // more than 32 dirs each: Spark's own discovery would start a
    // parallel-listing job, and each version dir a schema-inference job
    val ((latest, at2, since1), jobs) = graft.JobCount(spark)(
      (TxTable.read(spark, root), TxTable.readAt(spark, root, 2),
        TxTable.readSince(spark, root, 1, 3).get))
    assert(jobs == 0, "building read, readAt and readSince must launch no Spark job")
    assert(latest.schema("day").dataType == org.apache.spark.sql.types.DateType)

    // the same rows as one basePath read per live dir, unioned
    val perDir = dirs.map(d => spark.read.option("basePath", s"$root/${d.takeWhile(_ != '/')}")
      .parquet(s"$root/$d")).reduce(_.unionByName(_))
    def same(got: org.apache.spark.sql.DataFrame, want: org.apache.spark.sql.DataFrame) = {
      val w = want.select(got.columns.map(col).toSeq: _*)
      assert(got.exceptAll(w).isEmpty && w.exceptAll(got).isEmpty)
    }
    same(latest, perDir)
    same(at2, perDir.filter(col("value") =!= 3.0))
    same(since1, perDir.filter(col("value") =!= 1.0))

    // a day range is one scan with the range in its PartitionFilters
    val range = col("day") >= "2022-01-11" && col("day") < "2022-01-21"
    val filtered = latest.filter(range)
    val scans = filtered.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, filtered.queryExecution.sparkPlan.toString)
    val pfs = scans.head.partitionFilters.map(_.sql).mkString(" AND ")
    assert(pfs.contains("2022-01-11") && pfs.contains("2022-01-21"), pfs)
    assert(filtered.count() == 20)
    same(filtered, perDir.filter(range))
  }

  test("appendCommit: O(increment) — existing partition dirs carry over verbatim, new rows union in") {
    val root = graft.TestTmp.dir("txappend") + "/t"
    val v1 = TxTable.appendCommit(spark, root, rows("d1" -> 1.0, "d2" -> 2.0), "day")
    assert(v1 == 1L)
    val before = TxTable.latest(spark, root)._2
    val v2 = TxTable.appendCommit(spark, root, rows("d1" -> 10.0, "d3" -> 3.0), "day")
    assert(v2 == 2L)
    assert(snapshot(root) == Set("d1" -> 1.0, "d1" -> 10.0, "d2" -> 2.0, "d3" -> 3.0))
    val after = TxTable.latest(spark, root)._2
    assert(after("d2") == before("d2"), "untouched partition: same entry")
    assert(after("d1").startsWith(before("d1") + "\t"),
      s"appended partition keeps its old dir first and GROWS: ${after("d1")}")
    assert(after("d1").split("\t").length == 2)
    // an overwrite-commit afterwards collapses the dir list again
    TxTable.commit(spark, root, rows("d1" -> 99.0), "day")
    assert(snapshot(root) == Set("d1" -> 99.0, "d2" -> 2.0, "d3" -> 3.0))
    assert(!TxTable.latest(spark, root)._2("d1").contains("\t"))
  }

  test("empty stage: commit and appendCommit of an empty frame publish nothing; publish of one throws") {
    val dir = graft.TestTmp.dir("txempty")
    val empty = rows("d1" -> 1.0).filter(lit(false))
    def versionDirs(root: String) =
      Option(new java.io.File(root).list()).toSeq.flatten.filter(_.startsWith("v")).toSet
    def manifests(root: String) =
      Option(new java.io.File(s"$root/_txlog").list()).toSeq.flatten.toSet
    // a fresh root and a committed table: same rule for both commits
    val committed = s"$dir/committed"
    assert(TxTable.commit(spark, committed, rows("d1" -> 1.0), "day") == 1L)
    for (root <- Seq(s"$dir/fresh", committed)) {
      val (v, dirs, logs) = (TxTable.latest(spark, root)._1, versionDirs(root), manifests(root))
      assert(TxTable.commit(spark, root, empty, "day") == v, root)
      assert(TxTable.appendCommit(spark, root, empty, "day") == v, root)
      assert(TxTable.latest(spark, root)._1 == v, s"$root: no version published")
      assert(manifests(root) == logs, s"$root: no manifest written")
      assert(versionDirs(root) == dirs, s"$root: the empty stage left no v* dir")
    }
    assert(snapshot(committed) == Set("d1" -> 1.0))
    // the two-step API keeps refusing an empty staged dir
    val staged = TxTable.stage(spark, committed, empty, "day")
    val ex = intercept[IllegalArgumentException](TxTable.publish(spark, committed, staged, "day"))
    assert(ex.getMessage.contains("has no day= partitions"), ex.getMessage)
    intercept[IllegalArgumentException](TxTable.appendPublish(spark, committed, staged, "day"))
    assert(TxTable.latest(spark, committed)._1 == 1L)
  }

  test("blind appends never conflict: two appenders to the SAME partition both land (the Delta append rule)") {
    val root = graft.TestTmp.dir("txappend2") + "/t"
    TxTable.commit(spark, root, rows("d1" -> 1.0), "day")
    // both stage before either publishes — maximal race
    val sA = TxTable.stage(spark, root, rows("d1" -> 2.0), "day")
    val sB = TxTable.stage(spark, root, rows("d1" -> 3.0), "day")
    val vA = TxTable.appendPublish(spark, root, sA, "day")
    val vB = TxTable.appendPublish(spark, root, sB, "day")
    assert(Set(vA, vB) == Set(2L, 3L))
    assert(snapshot(root) == Set("d1" -> 1.0, "d1" -> 2.0, "d1" -> 3.0),
      "no lost append: all three rows visible")
    // vacuum keeps every dir a multi-dir entry references
    TxTable.vacuum(spark, root, retainMs = 0L) // eager mode: no reader grace
    assert(snapshot(root) == Set("d1" -> 1.0, "d1" -> 2.0, "d1" -> 3.0))
    // and deleteWhere still rewrites the fragmented partition correctly
    assert(TxTable.deleteWhere(spark, root, "day", col("value") === 2.0) == 1L)
    assert(snapshot(root) == Set("d1" -> 1.0, "d1" -> 3.0))
    assert(!TxTable.latest(spark, root)._2("d1").contains("\t"),
      "delete's rewrite collapses the dir list")
  }

  /** Run `body` with the pre-CAS hook stealing the next version ONCE by
    * `steal` — the hook fires again inside `steal`'s own commit, so the
    * flag makes it one-shot — and check that the steal happened. */
  private def stealingOnce[T](steal: => Unit)(body: => T): T = {
    var stole = false
    TxTable.testHookBeforeCas = () => if (!stole) { stole = true; steal }
    val out = try body finally TxTable.testHookBeforeCas = () => ()
    assert(stole, "the hook must have stolen the version")
    out
  }

  test("lost CAS: publish and deleteWhere fail loudly and leave the winner's manifest live") {
    val root = graft.TestTmp.dir("txlostcas") + "/t"
    TxTable.commit(spark, root, rows("d1" -> 1.0), "day") // v1
    val staged = TxTable.stage(spark, root, rows("d1" -> 2.0), "day")
    val lost = stealingOnce(TxTable.appendCommit(spark, root, rows("d2" -> 5.0), "day")) {
      intercept[java.io.IOException](TxTable.publish(spark, root, staged, "day"))
    }
    assert(lost.getMessage.contains("version 2") && lost.getMessage.contains(s"$root/$staged"),
      lost.getMessage)
    assert(TxTable.latest(spark, root)._1 == 2L)
    assert(snapshot(root) == Set("d1" -> 1.0, "d2" -> 5.0), "the stealing append is the live v2")

    val lostDelete = stealingOnce(TxTable.appendCommit(spark, root, rows("d3" -> 7.0), "day")) {
      intercept[java.io.IOException](TxTable.deleteWhere(spark, root, "day", col("value") === 1.0))
    }
    assert(lostDelete.getMessage.contains("version 3") &&
      lostDelete.getMessage.contains("staged survivors"), lostDelete.getMessage)
    assert(TxTable.latest(spark, root)._1 == 3L)
    assert(snapshot(root) == Set("d1" -> 1.0, "d2" -> 5.0, "d3" -> 7.0),
      "the losing delete removed nothing; the stealing append is the live v3")
  }

  test("lost CAS: appendPublish rebases onto the winner and lands at the next version") {
    val root = graft.TestTmp.dir("txlostcas2") + "/t"
    TxTable.commit(spark, root, rows("d1" -> 1.0), "day") // v1
    val staged = TxTable.stage(spark, root, rows("d1" -> 2.0, "d2" -> 3.0), "day")
    val v = stealingOnce(TxTable.appendCommit(spark, root, rows("d1" -> 4.0), "day")) {
      TxTable.appendPublish(spark, root, staged, "day")
    }
    assert(v == 3L, "the stealer took v2, the rebased append v3")
    assert(snapshot(root) == Set("d1" -> 1.0, "d1" -> 2.0, "d1" -> 4.0, "d2" -> 3.0),
      "both appends' rows are live")
    assert(TxTable.latest(spark, root)._2("d1").split("\t").length == 3,
      "d1 grew by both appends' dirs")
  }

  test("deleteWhere: partial-partition rewrite, full-partition drop, untouched files shared, audit trail") {
    val root = graft.TestTmp.dir("txdel") + "/t"
    TxTable.commit(spark, root,
      rows("d1" -> 1.0, "d1" -> 2.0, "d2" -> 3.0, "d3" -> 4.0), "day")
    val before = TxTable.latest(spark, root)._2

    // delete one row of d1 and ALL of d2 in one takedown
    val n = TxTable.deleteWhere(spark, root, "day",
      col("value") === 2.0 || col("day") === "d2")
    assert(n == 2L)
    assert(snapshot(root) == Set("d1" -> 1.0, "d3" -> 4.0))
    val after = TxTable.latest(spark, root)._2
    assert(after("d3") == before("d3"), "untouched partition keeps its original files")
    assert(!after.contains("d2"), "fully-deleted partition leaves the manifest")
    assert(after("d1") != before("d1"), "matched partition rewritten into a new version dir")

    // the pre-delete state stays travelable until vacuum — the audit trail
    assert(TxTable.readAt(spark, root, 1)
      .select(col("day").cast("string"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet ==
      Set("d1" -> 1.0, "d1" -> 2.0, "d2" -> 3.0, "d3" -> 4.0))

    // no-match delete: 0 rows, NO new version published
    val v = TxTable.latest(spark, root)._1
    assert(TxTable.deleteWhere(spark, root, "day", col("value") === 99.0) == 0L)
    assert(TxTable.latest(spark, root)._1 == v)

    // NULL predicate rows are KEPT (SQL DELETE three-valued semantics):
    // when() without otherwise() is NULL off the matched branch
    val n2 = TxTable.deleteWhere(spark, root, "day",
      when(col("value") === 1.0, lit(true)))
    assert(n2 == 1L)
    assert(snapshot(root) == Set("d3" -> 4.0))

    // deleting every remaining row refuses loudly
    intercept[IllegalArgumentException](
      TxTable.deleteWhere(spark, root, "day", lit(true)))
    assert(snapshot(root) == Set("d3" -> 4.0), "refused delete changes nothing")
  }

  test("deleteWhere: nondeterministic predicate refused — it would delete a different set than it counts") {
    val root = graft.TestTmp.dir("txdelnd") + "/t"
    TxTable.commit(spark, root, rows("d1" -> 1.0, "d2" -> 2.0), "day")
    val ex = intercept[IllegalArgumentException](
      TxTable.deleteWhere(spark, root, "day", rand() < 0.5))
    assert(ex.getMessage.contains("deterministic"))
    // expr-string form resolves to the same Nondeterministic node
    intercept[IllegalArgumentException](
      TxTable.deleteWhere(spark, root, "day", expr("rand() < 0.5")))
    assert(snapshot(root) == Set("d1" -> 1.0, "d2" -> 2.0), "refused delete changes nothing")
  }

  test("deleteWhere: partition values the writer escapes (':' in dir names) address the right manifest keys") {
    val root = graft.TestTmp.dir("txdelesc") + "/t"
    // ':' is illegal in a Hadoop path segment — partitionBy writes day=a%3Ab;
    // the manifest key is that ESCAPED form, while rows hold the raw value
    TxTable.commit(spark, root, rows("a:b" -> 1.0, "a:b" -> 2.0, "plain" -> 3.0), "day")
    val before = TxTable.latest(spark, root)._2
    assert(before.contains("a%3Ab"), s"writer-escaped manifest key expected: $before")
    val n = TxTable.deleteWhere(spark, root, "day", col("value") === 1.0)
    assert(n == 1L)
    assert(snapshot(root) == Set("a:b" -> 2.0, "plain" -> 3.0))
    val after = TxTable.latest(spark, root)._2
    assert(after("plain") == before("plain"), "untouched partition keeps its files")
    assert(after("a%3Ab") != before("a%3Ab"), "escaped-key partition rewritten, not duplicated")
    // deleting the remaining a:b row drops the escaped key entirely
    assert(TxTable.deleteWhere(spark, root, "day", col("day") === "a:b") == 1L)
    assert(!TxTable.latest(spark, root)._2.contains("a%3Ab"))
    assert(snapshot(root) == Set("plain" -> 3.0))
  }

  /** `added` as a vouched extension of `root`'s latest version over
    * partitions `days`: the whole read's rows of those days ∪ `added`. */
  private def extension(root: String, days: String*)(added: org.apache.spark.sql.DataFrame) = {
    val target = TxTable.read(spark, root)
    TxTable.vouch(target.filter(col("day").isin(days: _*)).unionByName(added),
      extension = Some(TxTable.Extension(target, days, added)))
  }

  test("extensions: only the added rows are written; a day restages on its turn or at 8 runs") {
    val root = graft.TestTmp.dir("txtable-extend") + "/t"
    TxTable.commit(spark, root, rows("a" -> 0.0, "b" -> 0.0), "day") // v1
    var want = Set("a" -> 0.0, "b" -> 0.0)
    def runs(day: String) = TxTable.latest(spark, root)._2(day).split("\t").length
    /** Extends `days` by one row each at base version `base`; returns their new dirs. */
    def step(base: Int, days: String*): Map[String, String] = {
      val before = TxTable.latest(spark, root)._2
      val added = rows(days.map(_ -> base.toDouble): _*)
      assert(TxTable.commit(spark, root, extension(root, days: _*)(added), "day") == base + 1)
      want ++= days.map(_ -> base.toDouble)
      assert(snapshot(root) == want, s"rows at version ${base + 1}")
      val after = TxTable.latest(spark, root)._2
      days.map(d => d -> TxTable.grownBy(before(d), after(d)).fold(after(d))(_.mkString("\t"))).toMap
    }
    // "a"'s turn is base versions 7, 15, ...; "b"'s 6, 14, ... (the key's hash)
    (1 to 5).foreach { base =>
      val dirs = step(base, "a")
      assert(runs("a") == base + 1 && spark.read.parquet(s"$root/${dirs("a")}").count() == 1L,
        s"base $base grows a by its one added row")
    }
    step(6, "a", "b")
    assert(runs("a") == 7 && runs("b") == 1, "b restages on its turn")
    assert(spark.read.parquet(s"$root/${TxTable.latest(spark, root)._2("b")}").count() == 2L)
    step(7, "b")
    assert(runs("a") == 7 && runs("b") == 2, "a is not touched on its turn")
    step(8, "a")
    assert(runs("a") == 8)
    step(9, "a")
    assert(runs("a") == 1, "at 8 runs a restages")

    // an extension of a version that is no longer the latest is written whole
    val stale = extension(root, "a")(rows("a" -> 10.0))
    step(10, "b")
    TxTable.commit(spark, root, stale, "day")
    want += "a" -> 10.0
    assert(runs("a") == 1 && snapshot(root) == want)
    // ... and a staged extension publishes onto the version it read only
    val staged = TxTable.stage(spark, root, extension(root, "b")(rows("b" -> 12.0)), "day")
    step(12, "a")
    val e = intercept[java.io.IOException](TxTable.publish(spark, root, staged, "day"))
    assert(e.getMessage.contains("extends version 12"), e.getMessage)
  }

  test("deleteWhere: rows with a NULL partition value are refused, not silently mis-addressed") {
    val root = graft.TestTmp.dir("txdelnull") + "/t"
    val data = Seq((Some("d1"), 1.0), (None, 2.0)).toDF("day", "value")
    TxTable.commit(spark, root, data, "day")
    val ex = intercept[IllegalArgumentException](
      TxTable.deleteWhere(spark, root, "day", col("value") === 2.0))
    assert(ex.getMessage.contains("NULL"))
    // a delete touching only NON-null partitions still works on this table
    assert(TxTable.deleteWhere(spark, root, "day", col("value") === 1.0) == 1L)
  }

  test("the gold merge path composes with TxTable: incremental day recompute commits atomically") {
    val root = graft.TestTmp.dir("txtable4") + "/gold"
    // initial gold: two days
    val g1 = rows("2022-04-14" -> 17.485, "2022-04-15" -> 20.0)
      .withColumn("day", col("day").cast("date"))
    TxTable.commit(spark, root, g1, "day")
    // late data recomputes day 14 only: full new content of that day
    val g2 = rows("2022-04-14" -> 18.0).withColumn("day", col("day").cast("date"))
    TxTable.commit(spark, root, g2, "day")
    val got = TxTable.read(spark, root)
      .select(col("day").cast("string"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got == Set("2022-04-14" -> 18.0, "2022-04-15" -> 20.0))
  }

  /** A three-increment bronze log over 2022-04-14..17: valid lines, late
    * lines for an earlier day, and duplicate lines (each a distinct
    * reading). */
  private val log = Seq(
    Seq("1649941817 Voltage 1.34", "1649941817 Current 12.0",
      "1650028217 Voltage 2.0", "1650028217 Voltage 2.0", "1650028217 Current 10.0"),
    Seq("1650028218 Current 10.0", "1650114617 Voltage 3.0", "1650114617 Current 11.0",
      "1649941818 Voltage 1.35", "1649941817 Voltage 1.34"),
    Seq("1650200000 Voltage 4.0", "1650200000 Current 9.0", "1650028219 Current 10.5",
      "1649941900 Current 14.0", "1650114617 Voltage 3.0"))

  /** Bronze that grows one ingest at a time: serial ids, each ingest
    * stamped with the wall clock, as the reference's POST edge does. */
  private final class Bronze {
    private val all = scala.collection.mutable.ArrayBuffer.empty[(Long, String, java.sql.Timestamp)]
    def add(lines: Seq[String]): org.apache.spark.sql.DataFrame = {
      Thread.sleep(2) // ingested strictly after every earlier processed_at
      val at = new java.sql.Timestamp(System.currentTimeMillis())
      lines.foreach(l => all += ((all.size + 1L, l, at)))
      all.toSeq.toDF("id", "raw_line", "ingested_at")
    }
  }

  private def micros(t: java.sql.Timestamp): Long =
    org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)

  private def maxProcessedAt(df: org.apache.spark.sql.DataFrame): Long =
    micros(df.agg(max("processed_at")).head().getTimestamp(0))

  /** The days the gold watermark scan picks: silver days with rows
    * processed after gold's newest calculated_at. */
  private def scanDays(silver: org.apache.spark.sql.DataFrame,
      gold: Option[org.apache.spark.sql.DataFrame]): Set[String] =
    Merge.partitionValues(silver.filter(col("processed_at") >
      lit(Incremental.watermark(gold, "calculated_at"))), "reading_date").map(_.toString).toSet

  private def sameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Gold equals one-shot silverToGold of `silver`, calculated_at aside
    * and Power within a relative 1e-12 (a product of averages). */
  private def assertGoldOf(goldRoot: String, silver: org.apache.spark.sql.DataFrame): Unit = {
    def power(g: org.apache.spark.sql.DataFrame, as: String) =
      g.select(col("reading_date"), col("metric_value").as(as))
    val diff = power(TxTable.read(spark, goldRoot), "v")
      .join(power(SensorPipeline.silverToGold(silver), "w"), Seq("reading_date"), "full_outer")
      .filter(col("v").isNull || col("w").isNull || abs(col("v") - col("w")) > abs(col("w")) * 1e-12)
    assert(diff.isEmpty, s"gold differs from one-shot silverToGold: ${diff.collect().mkString(", ")}")
  }

  /** `Incremental.silverIncrement` over `target` equals the watermark
    * scan's answer: the merge of the bronze rows ingested after the
    * target's scanned max(processed_at). */
  private def assertScanAnswer(bronze: org.apache.spark.sql.DataFrame,
      target: Option[org.apache.spark.sql.DataFrame], at: java.sql.Timestamp): Unit = {
    val wm = Incremental.watermark(target, "processed_at")
    val fresh = SensorPipeline.bronzeToSilver(bronze.filter(col("ingested_at") > lit(wm)), lit(at))
    val want = Incremental.silverMerge(target, fresh).fold(fresh)(_._2)
    assert(sameRows(Incremental.silverIncrement(bronze, target, lit(at)), want),
      "silverIncrement differs from the watermark scan's answer")
  }

  test("commit info: each recorded watermark is max(processed_at) at its version; gold's diff days equal the scan's") {
    val root = graft.TestTmp.dir("txinfo-exact")
    val (silverRoot, goldRoot) = (s"$root/silver", s"$root/gold")
    val bronze = new Bronze
    log.indices.foreach { k =>
      val v = TxTable.commit(spark, silverRoot, Incremental.silverIncrement(
        bronze.add(log(k)), TxTable.committed(spark, silverRoot)), "reading_date")
      val w = TxTable.commitInfo(spark, silverRoot, v).flatMap(_.watermark)
      assert(w.contains(maxProcessedAt(TxTable.readAt(spark, silverRoot, v))),
        s"increment $k: recorded watermark $w is not max(processed_at) of version $v")
      val silver = TxTable.read(spark, silverRoot)
      val gold = TxTable.committed(spark, goldRoot)
      val logged = Incremental.loggedDays(silver, gold)
      if (k == 0) assert(logged.isEmpty, "no gold target: the scan picks the days")
      else assert(logged.map(_.toSet).contains(scanDays(silver, gold)),
        s"increment $k: diff days $logged differ from the scan's ${scanDays(silver, gold)}")
      TxTable.commit(spark, goldRoot, Incremental.goldAffectedDays(silver, gold), "reading_date")
      assert(TxTable.commitInfo(spark, goldRoot, TxTable.latest(spark, goldRoot)._1).get ==
        CommitInfo(TxTable.sourcesOf(silver), None), "gold records the silver version it read")
    }
    val oneShot = SensorPipeline.bronzeToSilver(bronze.add(Nil)).drop("processed_at")
    assert(sameRows(TxTable.read(spark, silverRoot).drop("processed_at"), oneShot))
    assertGoldOf(goldRoot, TxTable.read(spark, silverRoot))
  }

  test("commit info: a frame reading no table keeps the parent's bytes; a rebased append keeps its reads, drops the watermark") {
    val root = graft.TestTmp.dir("txinfo-format") + "/t"
    TxTable.commit(spark, root, rows("d1" -> 1.0), "day")
    assert(!new java.io.File(root).list().exists(d => new java.io.File(s"$root/$d/_txinfo").exists))
    assert(Files.readString(java.nio.file.Paths.get(s"$root/_txlog/00000001.manifest")) ==
      TxTable.latest(spark, root)._2.toSeq.sorted.map { case (k, d) => s"$k\t$d" }.mkString("\n"),
      "no # line, no info file: the manifest has the parent's bytes")
    assert(TxTable.commitInfo(spark, root, 1) == Some(CommitInfo.empty))
    assert(TxTable.commitInfo(spark, root, 2).isEmpty, "no version 2 yet")

    val silverRoot = graft.TestTmp.dir("txinfo-rebase") + "/silver"
    val bronze = new Bronze
    TxTable.commit(spark, silverRoot,
      Incremental.silverIncrement(bronze.add(log(0)), None), "reading_date")
    val target = TxTable.read(spark, silverRoot)
    val q = TxTable.sourcesOf(target).keys.head
    assert(TxTable.sourcesOf(target) == Map(q -> 1L) && TxTable.sourcesOf(target.union(target)) == Map(q -> 1L))
    assert(TxTable.sourcesOf(target.union(TxTable.readAt(spark, silverRoot, 1))) == Map(q -> 1L))
    val staged = TxTable.stage(spark, silverRoot,
      Incremental.silverIncrement(bronze.add(log(1)), Some(target)), "reading_date")
    assert(new java.io.File(s"$silverRoot/$staged/_txinfo").exists)
    assert(TxTable.latest(spark, silverRoot)._2.keySet.forall(!_.startsWith("#")))
    val v = stealingOnce(TxTable.appendCommit(spark, silverRoot,
      SensorPipeline.bronzeToSilver(bronze.add(log(2))), "reading_date")) {
      TxTable.appendPublish(spark, silverRoot, staged, "reading_date")
    }
    assert(v == 3L && TxTable.commitInfo(spark, silverRoot, 3) == Some(CommitInfo(Map(q -> 1L), None)),
      s"rebased append: ${TxTable.commitInfo(spark, silverRoot, 3)}")
    assert(TxTable.commitInfo(spark, silverRoot, 2) == Some(CommitInfo(Map.empty, None)),
      "a frame reading no table and carrying no stamp records nothing")

    // a caller's column that is not foldable is used as given, never recorded
    val byIngest = graft.TestTmp.dir("txinfo-column") + "/silver"
    val all = bronze.add(Nil)
    TxTable.commit(spark, byIngest, Incremental.silverIncrement(all, None, col("ingested_at")), "reading_date")
    assert(TxTable.commitInfo(spark, byIngest, 1) == Some(CommitInfo(Map.empty, None, Some(15L))),
      "no watermark; the largest raw_id does not depend on processed_at")
    assert(TxTable.read(spark, byIngest).select("processed_at").distinct().as[java.sql.Timestamp]
      .collect().toSet == all.select("ingested_at").distinct().as[java.sql.Timestamp].collect().toSet)
  }

  test("fallbacks: no provenance, a parent-format manifest and a caller's stamp below the watermark give the scan's answer") {
    val root = graft.TestTmp.dir("txinfo-fallback1")
    val (silverRoot, goldRoot) = (s"$root/silver", s"$root/gold")
    val bronze = new Bronze
    val t0 = new java.sql.Timestamp(System.currentTimeMillis())
    TxTable.commit(spark, silverRoot, Incremental.silverIncrement(bronze.add(log(0)), None), "reading_date")
    TxTable.commit(spark, goldRoot,
      Incremental.goldAffectedDays(TxTable.read(spark, silverRoot), None), "reading_date")

    // a checkpointed copy of silver reads no TxTable relation: no provenance
    val copy = TxTable.read(spark, silverRoot).localCheckpoint()
    assert(TxTable.snapshotOf(copy).isEmpty && TxTable.sourcesOf(copy).isEmpty)
    val b1 = bronze.add(log(1))
    assertScanAnswer(b1, Some(copy), new java.sql.Timestamp(System.currentTimeMillis()))
    val v2 = TxTable.commit(spark, silverRoot, Incremental.silverIncrement(b1, Some(copy)), "reading_date")
    assert(TxTable.commitInfo(spark, silverRoot, v2) == Some(CommitInfo.empty))
    assert(Incremental.loggedDays(copy, TxTable.committed(spark, goldRoot)).isEmpty)
    assert(Incremental.loggedDays(TxTable.read(spark, silverRoot),
      Some(TxTable.read(spark, goldRoot).localCheckpoint())).isEmpty)

    // a caller's stamp below the watermark is used as given, never recorded
    val b2 = bronze.add(log(2))
    val low = Incremental.silverIncrement(b2, TxTable.committed(spark, silverRoot), lit(t0))
    val v3 = TxTable.commit(spark, silverRoot, low, "reading_date")
    assert(TxTable.commitInfo(spark, silverRoot, v3).get.watermark.isEmpty)
    assert(maxProcessedAt(TxTable.read(spark, silverRoot)) > micros(t0))
    val b3 = bronze.add(Seq("1650200001 Voltage 4.5"))
    assertScanAnswer(b3, TxTable.committed(spark, silverRoot), new java.sql.Timestamp(System.currentTimeMillis()))

    // a stamped commit, then its manifests rewritten in the parent's
    // format: every # line gone
    val v4 = TxTable.commit(spark, silverRoot,
      Incremental.silverIncrement(b3, TxTable.committed(spark, silverRoot)), "reading_date")
    assert(TxTable.commitInfo(spark, silverRoot, v4).get.watermark.nonEmpty)
    TxTable.commit(spark, goldRoot, Incremental.goldAffectedDays(TxTable.read(spark, silverRoot),
      TxTable.committed(spark, goldRoot)), "reading_date")
    Seq(silverRoot, goldRoot).foreach { r =>
      val m = java.nio.file.Paths.get(f"$r/_txlog/${TxTable.latest(spark, r)._1}%08d.manifest")
      Files.writeString(m, Files.readAllLines(m).toArray.map(_.toString).filterNot(_.startsWith("#")).mkString("\n"))
    }
    assert(TxTable.commitInfo(spark, silverRoot, v4) == Some(CommitInfo.empty))
    assert(Incremental.loggedDays(TxTable.read(spark, silverRoot), TxTable.committed(spark, goldRoot)).isEmpty)
    val b4 = bronze.add(Seq("1650200002 Current 9.5"))
    assertScanAnswer(b4, TxTable.committed(spark, silverRoot), new java.sql.Timestamp(System.currentTimeMillis()))
    TxTable.commit(spark, silverRoot,
      Incremental.silverIncrement(b4, TxTable.committed(spark, silverRoot)), "reading_date")
    TxTable.commit(spark, goldRoot, Incremental.goldAffectedDays(TxTable.read(spark, silverRoot),
      TxTable.committed(spark, goldRoot)), "reading_date")
    val silver = TxTable.read(spark, silverRoot)
    assert(sameRows(silver.drop("processed_at"), SensorPipeline.bronzeToSilver(b4).drop("processed_at")))
    assertGoldOf(goldRoot, silver)
  }

  test("fallbacks: a stale target, a deleteWhere, a compactLeveled and a vacuumed gold source give the scan's answer") {
    val root = graft.TestTmp.dir("txinfo-fallback2")
    val (silverRoot, goldRoot) = (s"$root/silver", s"$root/gold")
    val bronze = new Bronze
    def now = new java.sql.Timestamp(System.currentTimeMillis())
    def silverStep(b: org.apache.spark.sql.DataFrame) = TxTable.commit(spark, silverRoot,
      Incremental.silverIncrement(b, TxTable.committed(spark, silverRoot)), "reading_date")
    def goldStep() = TxTable.commit(spark, goldRoot, Incremental.goldAffectedDays(
      TxTable.read(spark, silverRoot), TxTable.committed(spark, goldRoot)), "reading_date")
    silverStep(bronze.add(log(0)))
    goldStep()
    assert(silverStep(bronze.add(log(1))) == 2L)
    goldStep()

    // a stale target: read at version 1 while 2 is latest. Its watermark
    // is version 1's; the publish onto 2 records none
    val stale = TxTable.readAt(spark, silverRoot, 1)
    val b1 = bronze.add(Seq("1650200003 Voltage 4.1"))
    assertScanAnswer(b1, Some(stale), now)
    val v3 = TxTable.commit(spark, silverRoot, Incremental.silverIncrement(b1, Some(stale)), "reading_date")
    assert(TxTable.commitInfo(spark, silverRoot, v3).get.watermark.isEmpty)
    assertScanAnswer(b1, TxTable.committed(spark, silverRoot), now)

    // a deleteWhere and a leveled merge record no watermark
    assert(TxTable.deleteWhere(spark, silverRoot, "reading_date", col("raw_id") === 2L) == 1L)
    assert(TxTable.commitInfo(spark, silverRoot, v3 + 1) == Some(CommitInfo.empty))
    val b2 = bronze.add(log(2))
    assertScanAnswer(b2, TxTable.committed(spark, silverRoot), now)
    assert(TxTable.compactLeveled(spark, silverRoot, "reading_date", Seq("raw_id")) >= 1)
    assert(TxTable.commitInfo(spark, silverRoot, TxTable.latest(spark, silverRoot)._1) ==
      Some(CommitInfo.empty))
    assertScanAnswer(b2, TxTable.committed(spark, silverRoot), now)
    val v = silverStep(b2)
    assert(TxTable.commitInfo(spark, silverRoot, v).get.watermark.nonEmpty,
      "a scanned watermark of a whole version still stamps the next commit")

    // gold's recorded silver version vacuumed away: the scan picks the days
    val vs = TxTable.commitInfo(spark, goldRoot, TxTable.latest(spark, goldRoot)._1).get.reads.values.head
    assert(vs == 2L)
    TxTable.vacuum(spark, silverRoot, retainMs = 0L)
    assert(TxTable.commitInfo(spark, silverRoot, vs).isEmpty)
    assert(Incremental.loggedDays(TxTable.read(spark, silverRoot), TxTable.committed(spark, goldRoot)).isEmpty)
    goldStep()

    // a leveled merge of gold records no read: the scan picks the days
    silverStep(bronze.add(Seq("1650300000 Voltage 1.0", "1650300000 Current 2.0")))
    assert(Incremental.loggedDays(TxTable.read(spark, silverRoot), TxTable.committed(spark, goldRoot))
      .contains(Seq("2022-04-18")))
    goldStep()
    assert(TxTable.compactLeveled(spark, goldRoot, "reading_date", Seq("metric_value")) >= 1)
    silverStep(bronze.add(Seq("1650300001 Voltage 1.5")))
    assert(Incremental.loggedDays(TxTable.read(spark, silverRoot), TxTable.committed(spark, goldRoot)).isEmpty)
    goldStep()
    assertGoldOf(goldRoot, TxTable.read(spark, silverRoot))
  }
}
