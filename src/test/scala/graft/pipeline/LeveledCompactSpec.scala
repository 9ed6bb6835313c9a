package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[TxTable.compactLeveled]] — the O(period) maintenance path that
  * replaced the full-table rewrite in [[PretrainExport.maintain]]
  * (r13 verdict item 2: the O(corpus) Z-order rewrite was the one
  * named 100 TB scale-killer). The contract under test:
  *   - a routine firing merges ONLY the level-0 append runs (higher
  *     runs keep their manifest dirs verbatim — the O(period) claim is
  *     structural, not just a timing);
  *   - levels promote at `fanout` and the content is bit-identical
  *     through any number of firings;
  *   - readSince refuses across a firing (rewrite semantics) and
  *     re-baselining works;
  *   - vacuum reclaims the merged inputs and nothing else.
  */
class LeveledCompactSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(ids: Range, p: String) =
    ids.map(i => (i.toLong, p)).toDF("id", "p")

  private def snapshot(root: String): Set[(Long, String)] =
    TxTable.read(spark, root)
      .select(col("id"), col("p"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def manifestDirs(root: String): Set[String] =
    TxTable.latest(spark, root)._2.values
      .flatMap(_.split("\t")).map(_.takeWhile(_ != '/')).toSet

  private def levels(root: String): Map[Int, Int] =
    manifestDirs(root).groupBy(d =>
      "-l(\\d+)$".r.findFirstMatchIn(d).map(_.group(1).toInt).getOrElse(0))
      .map { case (k, ds) => k -> ds.size }

  test("level-0 merge: appends collapse into ONE l1 run; content identical; higher runs untouched") {
    val root = graft.TestTmp.dir("lvlcmp1") + "/t"
    TxTable.appendCommit(spark, root, rows(0 until 10, "a"), "p")
    TxTable.appendCommit(spark, root, rows(10 until 20, "a"), "p")
    TxTable.appendCommit(spark, root, rows(20 until 30, "b"), "p")
    val before = snapshot(root)
    assert(TxTable.compactLeveled(spark, root, "p", Seq("id")) === 1)
    assert(snapshot(root) === before, "compaction is pure layout")
    assert(levels(root) === Map(1 -> 1), s"one l1 run expected: ${levels(root)}")
    assert(TxTable.latest(spark, root)._2.values.forall(!_.contains("\t")),
      "every manifest entry is one dir")

    // next period: two more appends, then a firing — the l1 run's DIR
    // must survive verbatim (the merge read only the new l0 runs)
    val l1dir = manifestDirs(root).head
    TxTable.appendCommit(spark, root, rows(30 until 40, "a"), "p")
    TxTable.appendCommit(spark, root, rows(40 until 50, "b"), "p")
    val before2 = snapshot(root)
    assert(TxTable.compactLeveled(spark, root, "p", Seq("id")) === 1)
    assert(snapshot(root) === before2)
    assert(manifestDirs(root).contains(l1dir),
      "the existing l1 run must be untouched by a routine l0 firing")
    assert(levels(root) === Map(1 -> 2))
  }

  test("promotion at fanout; content identical through promotions; vacuum reclaims merged runs") {
    val root = graft.TestTmp.dir("lvlcmp2") + "/t"
    // fanout=2: every firing merges l0s to an l1, every second firing
    // promotes two l1s to an l2, etc. — 4 periods → one l3? (l1 count
    // hits 2 → l2; l2 count hits 2 → l3)
    var expected = Set.empty[(Long, String)]
    for (k <- 0 until 4) {
      val ids = (k * 20) until (k * 20 + 20)
      TxTable.appendCommit(spark, root, rows(ids.take(10), "a"), "p")
      TxTable.appendCommit(spark, root, rows(ids.drop(10), "b"), "p")
      expected ++= ids.map(i => (i.toLong, if (i % 20 < 10) "a" else "b"))
      assert(TxTable.compactLeveled(spark, root, "p", Seq("id"), fanout = 2) >= 1)
      assert(snapshot(root) === expected, s"content drift after firing $k")
    }
    // after 4 periods at fanout 2 every level holds < 2 runs
    assert(levels(root).values.forall(_ < 2), s"unpromoted pile-up: ${levels(root)}")
    assert(levels(root).keys.max >= 2, s"no promotion happened: ${levels(root)}")
    // vacuum drops every dir the manifest no longer names; content intact
    TxTable.vacuum(spark, root, retainMs = 0L)
    val onDisk = new java.io.File(root).listFiles().map(_.getName)
      .filter(_.startsWith("v")).toSet
    assert(onDisk === manifestDirs(root),
      s"vacuum must leave exactly the live runs: disk=$onDisk manifest=${manifestDirs(root)}")
    assert(snapshot(root) === expected)
  }

  test("a single level-0 run is left alone (nothing to merge)") {
    val root = graft.TestTmp.dir("lvlcmp3") + "/t"
    TxTable.appendCommit(spark, root, rows(0 until 5, "a"), "p")
    assert(TxTable.compactLeveled(spark, root, "p", Seq("id")) === 0)
    assert(levels(root) === Map(0 -> 1))
  }

  test("readSince refuses across a leveled firing; re-baseline carries every row once") {
    val root = graft.TestTmp.dir("lvlcmp4") + "/t"
    TxTable.appendCommit(spark, root, rows(0 until 10, "a"), "p")
    val v1 = TxTable.latest(spark, root)._1
    TxTable.appendCommit(spark, root, rows(10 until 20, "a"), "p")
    TxTable.compactLeveled(spark, root, "p", Seq("id"))
    val vNow = TxTable.latest(spark, root)._1
    val e = intercept[IllegalArgumentException] {
      TxTable.readSince(spark, root, v1, vNow)
    }
    assert(e.getMessage.contains("re-baseline"))
    val snap = TxTable.readAt(spark, root, vNow)
    assert(snap.count() === 20 && snap.dropDuplicates("id").count() === 20)
  }

  test("level window (r15): maxMergeLevel=0 merges l0 only and never promotes; minMergeLevel=1 promotes only") {
    val root = graft.TestTmp.dir("lvlcmp6") + "/t"
    // build two l1 runs at fanout=2 (promotable), plus fresh l0 appends
    TxTable.appendCommit(spark, root, rows(0 until 10, "a"), "p")
    TxTable.appendCommit(spark, root, rows(10 until 20, "a"), "p")
    assert(TxTable.compactLeveled(spark, root, "p", Seq("id"), fanout = 2,
      maxMergeLevel = 0) === 1)
    TxTable.appendCommit(spark, root, rows(20 until 30, "a"), "p")
    TxTable.appendCommit(spark, root, rows(30 until 40, "a"), "p")
    // TRIGGER-PATH mode: l1 holds 2 runs (= fanout, promotable) but the
    // bounded firing must only merge the two l0s — no promotion
    assert(TxTable.compactLeveled(spark, root, "p", Seq("id"), fanout = 2,
      maxMergeLevel = 0) === 1)
    assert(levels(root) === Map(1 -> 2), s"promotion leaked onto the bounded path: ${levels(root)}")
    val before = snapshot(root)
    // PROMOTION-OWNER mode: a fresh l0 append must be IGNORED
    // (minMergeLevel=1), while the two l1s promote to one l2
    TxTable.appendCommit(spark, root, rows(40 until 50, "a"), "p")
    assert(TxTable.compactLeveled(spark, root, "p", Seq("id"), fanout = 2,
      minMergeLevel = 1) === 1)
    assert(levels(root) === Map(0 -> 1, 2 -> 1),
      s"promotion must leave l0 alone and merge the l1s: ${levels(root)}")
    assert(snapshot(root) === before ++ (40 until 50).map(i => (i.toLong, "a")))
  }

  test("lost-CAS rebase (r15): a concurrent append between stage and publish is rebased, never lost") {
    val root = graft.TestTmp.dir("lvlcmp7") + "/t"
    TxTable.appendCommit(spark, root, rows(0 until 10, "a"), "p")
    TxTable.appendCommit(spark, root, rows(10 until 20, "b"), "p")
    // steal the version exactly once, right before the merge's CAS —
    // deterministic stand-in for an appender racing the promotion thread
    // (the stealing append's own CAS re-enters the hook: one-shot flag)
    var stole = false
    TxTable.testHookBeforeCas = () => {
      if (!stole) {
        stole = true
        TxTable.appendCommit(spark, root, rows(100 until 110, "a"), "p"); ()
      }
    }
    try {
      assert(TxTable.compactLeveled(spark, root, "p", Seq("id")) === 1)
    } finally TxTable.testHookBeforeCas = () => ()
    assert(stole, "the hook must have stolen the merge's version")
    // the stolen append's rows AND the merged rows all survive
    assert(snapshot(root) ===
      ((0 until 10).map(i => (i.toLong, "a")) ++
        (10 until 20).map(i => (i.toLong, "b")) ++
        (100 until 110).map(i => (i.toLong, "a"))).toSet)
    // the stolen append arrived AFTER the merge read its inputs, so it
    // must still be live as its own level-0 run beside the merged l1
    assert(levels(root) === Map(0 -> 1, 1 -> 1), s"${levels(root)}")
  }

  test("lost-CAS with vanished source runs (r15): a concurrent REWRITE aborts the merge loudly") {
    val root = graft.TestTmp.dir("lvlcmp8") + "/t"
    TxTable.appendCommit(spark, root, rows(0 until 10, "a"), "p")
    TxTable.appendCommit(spark, root, rows(10 until 20, "a"), "p")
    var fired = false
    TxTable.testHookBeforeCas = () => {
      if (!fired) {
        fired = true
        // another owner full-rewrites the table: the merge's source
        // runs are no longer live — rebasing would resurrect them
        TxTable.commit(spark, root, TxTable.read(spark, root), "p")
      }
    }
    val e = try intercept[java.io.IOException] {
      TxTable.compactLeveled(spark, root, "p", Seq("id"))
    } finally TxTable.testHookBeforeCas = () => ()
    assert(e.getMessage.contains("lost its source runs"), e.getMessage)
    // the loser's staged dir is debris; the winner's table is intact
    assert(snapshot(root) === (0 until 20).map(i => (i.toLong, "a")).toSet)
  }

  test("runs stay id-clustered: parquet footers prune an id-range scan to the touched run") {
    val root = graft.TestTmp.dir("lvlcmp5") + "/t"
    // two id-disjoint periods, each merged into its own run
    TxTable.appendCommit(spark, root, rows(0 until 500, "a"), "p")
    TxTable.appendCommit(spark, root, rows(500 until 1000, "a"), "p")
    TxTable.compactLeveled(spark, root, "p", Seq("id"))
    TxTable.appendCommit(spark, root, rows(1000 until 1500, "a"), "p")
    TxTable.appendCommit(spark, root, rows(1500 until 2000, "a"), "p")
    TxTable.compactLeveled(spark, root, "p", Seq("id"))
    assert(levels(root) === Map(1 -> 2))
    // the replay-guard shape: ids >= 1900 live only in the second run —
    // with tight per-run footers the scan must match only rows there
    val probed = TxTable.read(spark, root).filter(col("id") >= 1900L)
    assert(probed.count() === 100)
  }
}
