package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Serve-path freshness for incremental exports: the shard table's
  * version watermark ([[PretrainExport.shardVersion]]) and the
  * O(increment) poll ([[PretrainExport.newShardsSince]] over
  * [[TxTable.readSince]]). The contract is [[ServeCache]]'s,
  * re-expressed for a table too big to pin on the driver:
  *  - every append bumps the version by exactly one (the manifest is
  *    the truth — the version is never invented);
  *  - readers see WHOLE-VERSION snapshots only: the delta between two
  *    committed versions plus the old snapshot is exactly the new
  *    snapshot, never a torn mix;
  *  - the poll costs O(increment) (only the dirs appended in the
  *    window are scanned), and a rewriting commit in the window —
  *    which would make a dir-level delta double-count — is refused
  *    loudly with a re-baseline instruction, never served silently.
  */
class ShardFeedSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  private def mkDocs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def text(i: Long): String =
    s"the alpha$i beta$i gamma$i delta$i epsilon$i zeta$i " +
      s"eta$i theta$i and iota$i kappa$i"

  private val b1 = Seq(1L -> text(1), 2L -> text(2), 3L -> text(3))
  private val b2 = Seq(11L -> text(11), 12L -> text(12))
  private val b3 = Seq(21L -> text(21))

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def freshExport(tag: String): String = {
    val root = graft.TestTmp.dir(s"shard-feed-$tag")
    PretrainExport.init(spark, root, mkDocs(b1 ++ b2 ++ b3),
      vocabSize = 200, seedSize = 500, emIters = 1, pruneFrac = 0.5)
    root
  }

  test("appends bump the version by one; the poll returns exactly the new rows") {
    val root = freshExport("poll")
    assert(PretrainExport.shardVersion(spark, root) === 0L)
    // nothing committed: the poll has nothing to return
    assert(PretrainExport.newShardsSince(spark, root, 0L).isEmpty)

    PretrainExport.append(spark, root, mkDocs(b1))
    val v1 = PretrainExport.shardVersion(spark, root)
    assert(v1 === 1L)
    val Some((pv1, d1)) = PretrainExport.newShardsSince(spark, root, 0L)
    assert(pv1 === v1)
    assert(rowSet(d1) === rowSet(PretrainExport.shardTableAt(spark, root, v1)))

    PretrainExport.append(spark, root, mkDocs(b2))
    val v2 = PretrainExport.shardVersion(spark, root)
    assert(v2 === 2L)
    // the delta is the new rows ONLY — the b1 rows never re-appear
    val Some((pv2, d2)) = PretrainExport.newShardsSince(spark, root, v1)
    assert(pv2 === v2)
    val snap1 = rowSet(PretrainExport.shardTableAt(spark, root, v1))
    val snap2 = rowSet(PretrainExport.shardTableAt(spark, root, v2))
    assert(rowSet(d2) === (snap2 -- snap1))
    assert(rowSet(d2).nonEmpty)
    // whole-version composition: old snapshot ∪ delta ≡ new snapshot
    assert(snap1 ++ rowSet(d2) === snap2)

    // caught-up consumer: no new version, no rows, no exception
    assert(PretrainExport.newShardsSince(spark, root, v2).isEmpty)
    // a multi-version gap drains in one poll
    val Some((pvAll, dAll)) = PretrainExport.newShardsSince(spark, root, 0L)
    assert(pvAll === v2 && rowSet(dAll) === snap2)
  }

  test("read-your-writes: the version an append commits is immediately pollable") {
    val root = freshExport("ryw")
    PretrainExport.append(spark, root, mkDocs(b1))
    val v = PretrainExport.shardVersion(spark, root)
    PretrainExport.append(spark, root, mkDocs(b2))
    // the writer polls after its own commit and must see it
    val Some((pv, delta)) = PretrainExport.newShardsSince(spark, root, v)
    assert(pv === v + 1)
    assert(delta.count() > 0)
  }

  test("pinned snapshots survive later appends (no torn reads)") {
    val root = freshExport("pin")
    PretrainExport.append(spark, root, mkDocs(b1))
    val v1 = PretrainExport.shardVersion(spark, root)
    val pinned = rowSet(PretrainExport.shardTableAt(spark, root, v1))
    PretrainExport.append(spark, root, mkDocs(b2))
    PretrainExport.append(spark, root, mkDocs(b3))
    // the v1 snapshot is byte-identical after two more commits
    assert(rowSet(PretrainExport.shardTableAt(spark, root, v1)) === pinned)
  }

  test("a poller thread tailing newShardsSince during live appends reconstructs the table exactly") {
    // the serving shape: a training job polls the feed while the
    // producer appends. Every poll must land on a whole committed
    // version (manifests are atomic), so the union of polled deltas
    // from 0 must equal the final table — no dropped, torn, or
    // double-counted rows, and no errors mid-append.
    val root = freshExport("concpoll")
    val acc = scala.collection.mutable.Set.empty[String]
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var producing = true
    val poller = new Thread(() => {
      var since = 0L
      def pollOnce(): Unit =
        try PretrainExport.newShardsSince(spark, root, since).foreach {
          case (v, delta) =>
            val rows = rowSet(delta)
            if (rows.exists(acc.contains))
              errors.add(s"double-counted rows polling ($since, $v]"); ()
            acc ++= rows
            since = v
        }
        catch { case e: Throwable => errors.add(s"poll threw: ${e.getMessage}"); () }
      while (producing) pollOnce()
      pollOnce() // drain whatever committed after the last in-loop poll
    })
    poller.start()
    PretrainExport.append(spark, root, mkDocs(b1))
    PretrainExport.append(spark, root, mkDocs(b2))
    PretrainExport.append(spark, root, mkDocs(b3))
    producing = false
    poller.join()
    assert(errors.isEmpty, s"poller errors: ${errors.toArray.take(3).mkString("; ")}")
    assert(acc.toSet === rowSet(PretrainExport.shardTable(spark, root)),
      "polled deltas must reconstruct the final table exactly")
  }

  test("a rewriting commit in the poll window is refused loudly, never served") {
    val root = freshExport("compact")
    PretrainExport.append(spark, root, mkDocs(b1))
    val v1 = PretrainExport.shardVersion(spark, root)
    PretrainExport.append(spark, root, mkDocs(b2))
    // a full rewrite re-homes EVERY live row into fresh dirs: a dir-level
    // delta from v1 would double-count all of b1's rows as new
    TxTable.commit(spark, s"$root/shards", TxTable.read(spark, s"$root/shards"), "shard")
    val e = intercept[IllegalArgumentException] {
      PretrainExport.newShardsSince(spark, root, v1)
    }
    assert(e.getMessage.contains("re-baseline"))
    // the re-baseline path works: the full snapshot at the compacted
    // version carries every row exactly once
    val vNow = PretrainExport.shardVersion(spark, root)
    val snap = PretrainExport.shardTableAt(spark, root, vNow)
    assert(snap.count() === snap.dropDuplicates().count())
    // and the feed resumes cleanly from the re-baselined watermark
    PretrainExport.append(spark, root, mkDocs(b3))
    val Some((pv, delta)) = PretrainExport.newShardsSince(spark, root, vNow)
    assert(pv === vNow + 1 && delta.count() > 0)
  }

  test("maintain compacts past the fragmentation threshold; replay guards and feed survive") {
    val root = freshExport("maintain")
    PretrainExport.append(spark, root, mkDocs(b1))
    PretrainExport.append(spark, root, mkDocs(b2))
    PretrainExport.append(spark, root, mkDocs(b3))
    // three blind appends → ~3 dirs/partition on touched partitions;
    // below a loose threshold nothing happens
    assert(!PretrainExport.maintain(spark, root, maxDirsPerPartition = 8.0))
    val before = rowSet(PretrainExport.shardTable(spark, root))
    // at a tight threshold both tables compact; content is unchanged
    // (compaction is pure layout) and every partition is one dir again
    assert(PretrainExport.maintain(spark, root, maxDirsPerPartition = 1.5))
    assert(rowSet(PretrainExport.shardTable(spark, root)) === before)
    assert(TxTable.latest(spark, s"$root/shards")._2.values.forall(!_.contains("\t")),
      "every manifest entry is one dir")
    // the pipeline continues across the compaction: a replayed batch is
    // still absorbed (the anti-join re-reads the compacted layout), a
    // novel batch appends, offsets continue (counters re-derive once)
    val replay = PretrainExport.append(spark, root, mkDocs(b2))
    assert(replay.appended === 0L)
    val v = PretrainExport.shardVersion(spark, root)
    PretrainExport.append(spark, root,
      mkDocs(Seq(31L -> text(31), 32L -> text(32))))
    val Some((pv, delta)) = PretrainExport.newShardsSince(spark, root, v)
    assert(pv === v + 1 && delta.count() > 0)
  }

  test("TxTable.readSince refuses a deletion window and honors since=0") {
    val root = graft.TestTmp.dir("shard-feed-txtable")
    import spark.implicits._
    val t = s"$root/t"
    TxTable.appendCommit(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("id", "p"), "p")
    TxTable.appendCommit(spark, t, Seq((3L, "a")).toDF("id", "p"), "p")
    // since=0: everything is new
    val all = TxTable.readSince(spark, t, 0L, 2L).get
    assert(all.count() === 3)
    // delete partition b entirely: the delta contract is broken
    TxTable.deleteWhere(spark, t, "p", org.apache.spark.sql.functions.col("p") === "b")
    val e = intercept[IllegalArgumentException] {
      TxTable.readSince(spark, t, 1L, TxTable.latest(spark, t)._1)
    }
    assert(e.getMessage.contains("DELETED") || e.getMessage.contains("REWRITTEN"))
  }
}
