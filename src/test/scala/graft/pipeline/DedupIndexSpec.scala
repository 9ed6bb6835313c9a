package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The persisted incremental near-dup index: each ingest gates against
  * everything already accepted (across ALL previous ingests), survivors'
  * bands append atomically, and the gate's verdicts match the batch
  * pipeline's greedy first-win semantics.
  */
class DedupIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // near-dup pair: long shared prefix, one word changed at the end;
  // unique docs share no 3-shingles at all
  private val docA = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
  private val docA2 = docA.replace("today", "tonight")
  private val docB = "large scale data pipelines shuffle partition and aggregate billions of rows hourly"
  private val docB2 = docB.replace("hourly", "daily")
  private val docC = "completely unrelated text about cooking pasta with garlic olive oil and basil"

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  private def verdictMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Option[Long], Boolean)] =
    df.collect().map(r =>
      r.getLong(0) -> (Option(r.get(1)).map(_.toString.toLong), r.getBoolean(3))).toMap

  test("first ingest self-dedups greedily; second ingest is gated by the STORED index and grows it") {
    val root = graft.TestTmp.dir("dedupidx") + "/idx"
    // ingest 1: A and its near-dup A2 (same batch), plus unique B
    val v1 = verdictMap(DedupIndex.ingest(spark, root, docs(1L -> docA, 2L -> docA2, 3L -> docB)))
    assert(v1(1L) == (None, true), "earliest of the pair is kept")
    assert(v1(2L)._2 == false, "within-batch near-dup dropped")
    assert(v1(2L)._1 == Some(1L), "attributed to the earlier batch-mate")
    assert(v1(3L) == (None, true))
    // index holds bands for survivors only
    val stored1 = TxTable.read(spark, root).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(stored1 == Set(1L, 3L), s"only survivors indexed: $stored1")

    // ingest 2: near-dup of stored B, an EXACT re-send of A, and novel C
    val v2 = verdictMap(DedupIndex.ingest(spark, root, docs(10L -> docB2, 11L -> docA, 12L -> docC)))
    assert(v2(10L)._1 == Some(3L), "near-dup of a doc stored by a PREVIOUS ingest")
    assert(v2(11L)._1 == Some(1L), "exact resend matches its original")
    assert(v2(12L) == (None, true))

    // ingest 3 proves ingest 2's survivor is probe-able (the index grew)
    val v3 = verdictMap(DedupIndex.ingest(spark, root, docs(20L -> docC)))
    assert(v3(20L)._1 == Some(12L))
  }

  test("incremental ingests match a one-shot build when dup pairs don't straddle semantics edges") {
    val all = docs(1L -> docA, 2L -> docB, 3L -> docC, 4L -> docA2, 5L -> docB2)
    val r1 = graft.TestTmp.dir("dedupidx-one") + "/idx"
    val r2 = graft.TestTmp.dir("dedupidx-inc") + "/idx"
    val oneShot = verdictMap(DedupIndex.ingest(spark, r1, all))
    val incA = verdictMap(DedupIndex.ingest(spark, r2, docs(1L -> docA, 2L -> docB, 3L -> docC)))
    val incB = verdictMap(DedupIndex.ingest(spark, r2, docs(4L -> docA2, 5L -> docB2)))
    assert(oneShot == incA ++ incB,
      s"one-shot $oneShot vs incremental ${incA ++ incB}")
    // same surviving doc set in the stored index
    def survivors(root: String) = TxTable.read(spark, root)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(survivors(r1) == survivors(r2))
  }

  test("short docs shingle to one all-tokens shingle: matching is exact-text, and resends are caught") {
    val root = graft.TestTmp.dir("dedupidx-short") + "/idx"
    val v = verdictMap(DedupIndex.ingest(spark, root, docs(1L -> "tiny", 2L -> docA)))
    assert(v(1L) == (None, true))
    val stored = TxTable.read(spark, root).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(stored == Set(1L, 2L), "short doc indexed under its single shingle")
    // exact resend matches (sig is k copies of the one shingle hash);
    // a DIFFERENT short doc does not
    val v2 = verdictMap(DedupIndex.ingest(spark, root, docs(9L -> "tiny", 10L -> "other")))
    assert(v2(9L)._1 == Some(1L))
    assert(v2(10L) == (None, true))
  }

  test("replayed ingest is idempotent: same verdicts, no self-matches, no duplicate index rows") {
    val root = graft.TestTmp.dir("dedupidx-retry") + "/idx"
    val inc = docs(1L -> docA, 2L -> docA2, 3L -> docB)
    val first = verdictMap(DedupIndex.ingest(spark, root, inc))
    val rowsAfterFirst = TxTable.read(spark, root).count()
    // the crash-retry scenario: the SAME increment ingested again —
    // previously-accepted docs must NOT become duplicates of themselves,
    // and the index must not grow duplicate band rows
    val replay = verdictMap(DedupIndex.ingest(spark, root, inc))
    assert(replay == first, s"replay verdicts changed: $replay vs $first")
    assert(TxTable.read(spark, root).count() == rowsAfterFirst,
      "replay must not append duplicate bands")
    // and the gate still works after the replay
    val v = verdictMap(DedupIndex.ingest(spark, root, docs(9L -> docB2)))
    assert(v(9L)._1 == Some(3L))
  }

  test("band geometry is pinned at creation: ingest with different (n, k, rowsPerBand) refuses loudly") {
    val root = graft.TestTmp.dir("dedupidx-params") + "/idx"
    DedupIndex.ingest(spark, root, docs(1L -> docA))
    val ex = intercept[IllegalArgumentException](
      DedupIndex.ingest(spark, root, docs(2L -> docB), DedupIndex.Params(rowsPerBand = 8)))
    assert(ex.getMessage.contains("geometry"))
    // non-geometry knobs (threshold, cap) may vary per ingest
    val v = verdictMap(DedupIndex.ingest(spark, root, docs(2L -> docB),
      DedupIndex.Params(threshold = 0.9, maxBucket = 16)))
    assert(v(2L)._2 == true)
  }

  test("prefilterIndex: both regimes keep exactly the matched buckets' rows (IN exact, bloom a superset)") {
    val idx = (0 until 400).map(i => (i % 8, i.toLong * 100, i.toLong, Seq(i.toLong)))
      .toDF("band_id", "band_hash", "doc_id", "sig")
    // increment touches 5 specific buckets
    val inc = Seq((0, 0L, 900L, Seq(9L)), (1, 101L * 100, 901L, Seq(9L)),
      (2, 202L * 100, 902L, Seq(9L)), (3, 303L * 100, 903L, Seq(9L)), (4, 44L * 100, 904L, Seq(9L)))
      .toDF("band_id", "band_hash", "doc_id", "sig")
    val matched = idx.join(inc.select("band_id", "band_hash").distinct(),
      Seq("band_id", "band_hash"), "leftsemi").collect().map(_.toString).toSet
    // IN regime: exact
    val inFiltered = DedupIndex.prefilterIndex(idx, inc, maxInListBuckets = 1024)
    assert(inFiltered.collect().map(_.toString).toSet == matched)
    assert(matched.size < 400, "prefilter must actually drop rows")
    // bloom regime (forced): a superset that still contains every match
    val bloomFiltered = DedupIndex.prefilterIndex(idx, inc, maxInListBuckets = 2)
    val bloomSet = bloomFiltered.collect().map(_.toString).toSet
    assert(matched.subsetOf(bloomSet), "bloom must never drop a matched bucket")
    assert(bloomSet.size < 400, s"bloom prefilter must drop most rows, kept ${bloomSet.size}")
    // empty increment: nothing survives
    assert(DedupIndex.prefilterIndex(idx, inc.filter(lit(false))).count() == 0)
  }

  test("probe regimes are verdict- and index-identical: bloom scan, tiny-increment ranges, narrow matched pass, fallback (r15)") {
    // the same three-ingest sequence under every probe regime must
    // produce bit-identical verdicts AND stored band tables — the
    // two-phase pruned probe is a pure IO optimization
    val regimes: Seq[(String, DedupIndex.Params)] = Seq(
      // default: index far below probeScanBytesMin -> single bloom scan
      "bloom-scan" -> DedupIndex.Params(),
      // force two-phase; increments are tiny (<= maxPointBuckets band
      // rows) -> ranges from the increment's own hashes, no index pass
      "tiny-ranges" -> DedupIndex.Params(probeScanBytesMin = 0L),
      // force two-phase with a point budget smaller than the increment's
      // band rows -> the NARROW matched pass resolves the points
      "narrow-matched" -> DedupIndex.Params(probeScanBytesMin = 0L, maxPointBuckets = 8),
      // narrow pass whose matched set overflows a zero budget -> falls
      // back to the bloom scan inside the two-phase path
      "fallback" -> DedupIndex.Params(probeScanBytesMin = 0L, maxPointBuckets = 0))
    val results = regimes.map { case (label, p) =>
      val root = graft.TestTmp.dir(s"dedupidx-regime-$label") + "/idx"
      val v1 = verdictMap(DedupIndex.ingest(spark, root, docs(1L -> docA, 2L -> docA2, 3L -> docB), p))
      val v2 = verdictMap(DedupIndex.ingest(spark, root, docs(10L -> docB2, 11L -> docA, 12L -> docC), p))
      val v3 = verdictMap(DedupIndex.ingest(spark, root, docs(20L -> docC, 21L -> "tiny"), p))
      val stored = TxTable.read(spark, root)
        .collect().map(_.toString).sorted.toSeq
      (label, v1, v2, v3, stored)
    }
    val (_, b1, b2, b3, bStored) = results.head
    assert(b1(2L)._1 == Some(1L) && b2(10L)._1 == Some(3L) && b3(20L)._1 == Some(12L),
      "baseline sanity: dups resolve across ingests")
    results.tail.foreach { case (label, v1, v2, v3, stored) =>
      assert(v1 == b1 && v2 == b2 && v3 == b3, s"regime $label verdicts diverged")
      assert(stored == bStored, s"regime $label stored index diverged")
    }
  }

  test("pruned probe pushes the band_hash point set into the parquet scan (PushedFilters In)") {
    // the whole point of the two-phase probe is that phase B's point
    // set reaches the scan node as a parquet-pushable In — footer
    // min/max pruning happens below Spark, so the only plan-visible
    // evidence is the PushedFilters list on the FileScan. The probe
    // session raises the parquet In threshold so a point set larger
    // than the default 10 still pushes as OR-of-eq, never a collapsed
    // [min, max] range — pinned here with > 10 points.
    val root = graft.TestTmp.dir("dedupidx-pushdown") + "/idx"
    val p = DedupIndex.Params(probeScanBytesMin = 0L)
    DedupIndex.ingest(spark, root,
      docs((1L to 6L).map(i => i -> (docA + s" tail$i")): _*), p)
    val inc = docs(9L -> docA2, 10L -> docB)
    val bands = DedupIndex.bandRows(inc, p).localCheckpoint(false)
    val pruned = DedupIndex.probeIndexPruned(spark, root, bands, bands.count(), p, cut = false)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(band_hash"),
      s"point set must reach the scan as a pushed In on band_hash:\n$plan")
    // and the caller session's own threshold is untouched (plan
    // fingerprints of unrelated queries must not move)
    assert(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold") != (1 << 20).toString)
  }

  test("admitWithCap: bucket fills to maxBucket across existing+new, hash-ranked, and stops") {
    val newBands = Seq(
      (0, 100L, 1L, Seq(1L)), (0, 100L, 2L, Seq(2L)), (0, 100L, 3L, Seq(3L)),
      (1, 200L, 4L, Seq(4L)))
      .toDF("band_id", "band_hash", "doc_id", "sig")
    val counts = Seq((0, 100L, 2L)).toDF("band_id", "band_hash", "cnt")
    val got = DedupIndex.admitWithCap(newBands, Some(counts), maxBucket = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // bucket (0,100) has 2 stored: exactly ONE of the three new rows fits;
    // bucket (1,200) is empty: its row always fits
    assert(got.contains(4L))
    assert((got - 4L).size == 1, s"one admission into the nearly-full bucket: $got")
    // deterministic: the same call admits the same row
    val again = DedupIndex.admitWithCap(newBands, Some(counts), maxBucket = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == again)
    // a FULL bucket admits nothing
    val full = DedupIndex.admitWithCap(newBands, Some(Seq((0, 100L, 3L)).toDF("band_id", "band_hash", "cnt")), 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(full == Set(4L))
    // empty index (None): every existing count is zero — same as an
    // all-zero counts frame, without the join in the plan
    val none = DedupIndex.admitWithCap(newBands, None, maxBucket = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(none == Set(1L, 2L, 3L, 4L))
  }
}
