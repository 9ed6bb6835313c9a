package graft.pipeline

import org.apache.spark.sql.functions._

/** Micro A/B for the DedupIndex probe regimes (r15): builds a real
  * index through the public ingest surface, then times ingests under
  * the single-pass bloom scan vs the two-phase pruned probe, plus the
  * isolated sub-phases (narrow matched pass, full-width bloom scan,
  * full-width range scan) so a regression localizes to a phase instead
  * of a guess. Run:
  *   run_soak.sh graft.pipeline.ProbeAbSoak 48g <log> [docs] [perBatch]
  */
object ProbeAbSoak {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 1000000L
    val per = if (args.length > 1) args(1).toLong else 125000L
    val spark = graft.GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def tw[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[probeab] $name%-52s wall=${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val root = java.nio.file.Files.createTempDirectory("graft-probe-ab")
      .toFile.getAbsolutePath + "/idx"
    val nBatches = (nDocs / per).toInt
    for (i <- 0 until nBatches) {
      val from = 1L + i * per
      val docs = graft.ExportSoak.syntheticDocs(spark, from, from + per)
        .localCheckpoint(false)
      tw(s"build ingest ${i + 1}/$nBatches")(
        DedupIndex.ingest(spark, root, docs).count())
    }
    println(s"[probeab] index liveBytes=${TxTable.liveBytes(spark, root) / 1e6}%.0f MB"
      .replace("%.0f", ""))
    // compact like the export's maintenance would, so the leveled
    // band_hash clustering the pruned probe depends on is in place
    tw("compact (leveled)")(DedupIndex.compact(spark, root))
    tw("vacuum")(TxTable.vacuum(spark, root, retainMs = 0L))

    val probe = graft.ExportSoak.syntheticDocs(spark, nDocs + 1, nDocs + per + 1)
      .localCheckpoint(false)
    val bands = DedupIndex.bandRows(probe, DedupIndex.Params()).localCheckpoint(false)
    val nBands = bands.count()
    println(s"[probeab] probe batch: $per docs, $nBands band rows")

    // isolated sub-phases
    val full = TxTable.read(spark, root)
    val bucketKey = xxhash64(col("band_id"), col("band_hash"))
    val buckets = bands.select(bucketKey.as("bk")).distinct()
    for (r <- 1 to 2) {
      tw(s"narrow scan count (2 cols) #$r")(
        full.select("band_id", "band_hash").count())
      tw(s"full-width bloom scan count #$r")(
        graft.ops.BloomOps.filterToKeySet(full, bucketKey, buckets,
          keyRowBound = nBands).count())
      val pts = tw(s"narrow matched pass collect #$r") {
        graft.ops.BloomOps.filterToKeySet(
          full.select("band_id", "band_hash"), bucketKey, buckets, keyRowBound = nBands)
          .join(buckets, xxhash64(col("band_id"), col("band_hash")) === col("bk"), "leftsemi")
          .select(col("band_hash")).distinct().collect().map(_.getLong(0)).sorted
      }
      println(s"[probeab]   matched points: ${pts.length}")
      val ranges = DedupIndex.coalesceRanges(pts, 256)
      tw(s"full-width range scan count (${ranges.length} ranges) #$r")(
        full.filter(DedupIndex.rangePredicate(col("band_hash"), ranges)).count())
      tw(s"full-width range scan ALL COLS collect-size #$r")(
        full.filter(DedupIndex.rangePredicate(col("band_hash"), ranges))
          .agg(count(lit(1)), sum(size(col("sig")))).collect()(0))
    }

    // ---- IO-pattern experiments (r15): localize the range-scan cost.
    // drop_caches between runs makes cold-IO timings reproducible
    // (requires root — this box); columnindex on/off isolates parquet's
    // page-level filtered reads (seeky) from row-group pruning
    // (sequential); a small-row-group rewrite tests pruning granularity.
    def dropCaches(): Unit = {
      new ProcessBuilder("sh", "-c", "sync; echo 3 > /proc/sys/vm/drop_caches")
        .inheritIO().start().waitFor(); ()
    }
    val liveDirs = TxTable.latest(spark, root)._2.values
      .flatMap(_.split("\t")).map(d => s"$root/" + d.takeWhile(_ != '/')).toSeq.distinct
    val ptsG = tw("matched pass for experiments") {
      graft.ops.BloomOps.filterToKeySet(
        full.select("band_id", "band_hash"), bucketKey, buckets, keyRowBound = nBands)
        .join(buckets, xxhash64(col("band_id"), col("band_hash")) === col("bk"), "leftsemi")
        .select(col("band_hash")).distinct().collect().map(_.getLong(0)).sorted
    }
    val rangesG = DedupIndex.coalesceRanges(ptsG, 256)
    val predG = DedupIndex.rangePredicate(col("band_hash"), rangesG)
    def readDirs(opts: Map[String, String]) =
      spark.read.options(opts).parquet(liveDirs: _*)
    for (r <- 1 to 2) {
      dropCaches()
      tw(s"COLD full scan, no filter #$r")(readDirs(Map.empty).count())
      dropCaches()
      tw(s"COLD range scan, columnindex ON #$r")(
        readDirs(Map.empty).filter(predG).count())
      dropCaches()
      tw(s"COLD range scan, columnindex OFF #$r")(
        readDirs(Map("parquet.filter.columnindex.enabled" -> "false"))
          .filter(predG).count())
    }
    // small-row-group rewrite: same rows, 8 MB groups — row-group
    // pruning granularity without page-level seeks
    val smallRoot = root + "-small"
    tw("rewrite with 8MB row groups") {
      readDirs(Map.empty)
        .repartitionByRange(16, col("band_id"), col("band_hash"))
        .sortWithinPartitions("band_id", "band_hash")
        .write.option("parquet.block.size", (8L * 1024 * 1024).toString)
        .mode("overwrite").parquet(smallRoot)
    }
    for (r <- 1 to 2) {
      dropCaches()
      tw(s"COLD small-rg full scan, no filter #$r")(
        spark.read.parquet(smallRoot).count())
      dropCaches()
      tw(s"COLD small-rg range scan, columnindex OFF #$r")(
        spark.read.option("parquet.filter.columnindex.enabled", "false")
          .parquet(smallRoot).filter(predG).count())
      dropCaches()
      tw(s"COLD small-rg range scan, columnindex ON #$r")(
        spark.read.parquet(smallRoot).filter(predG).count())
    }

    // ---- codegen-compile-cost curve: first evaluation of an
    // OR-of-ranges predicate vs leaf count, with UNIQUE literals per
    // point so the global codegen source cache can't hide the cost
    // (the ingest path pays this per batch: fresh matched points =
    // fresh literals = fresh generated source)
    for (leaves <- Seq(4, 8, 16, 32, 64, 96, 128); rep <- 1 to 2) {
      val pts2 = ptsG.take(leaves).map(_ + rep * 7919L + leaves)
      val pred2 = DedupIndex.rangePredicate(col("band_hash"),
        pts2.map(p => (p, p + 1)).toSeq)
      tw(f"first-eval OR-tree leaves=$leaves%3d rep$rep")(
        readDirs(Map.empty).filter(pred2).count())
    }

    // end-to-end ingests, alternating regimes (ambient-bracketing)
    for (r <- 1 to 2) {
      val oldP = DedupIndex.Params(probeScanBytesMin = Long.MaxValue)
      val newP = DedupIndex.Params(probeScanBytesMin = 0L)
      val d1 = graft.ExportSoak.syntheticDocs(
        spark, nDocs + r * 2 * per + 1, nDocs + (r * 2 + 1) * per + 1).localCheckpoint(false)
      tw(s"ingest OLD path #$r")(DedupIndex.ingest(spark, root, d1, oldP).count())
      val d2 = graft.ExportSoak.syntheticDocs(
        spark, nDocs + (r * 2 + 1) * per + 1, nDocs + (r * 2 + 2) * per + 1).localCheckpoint(false)
      tw(s"ingest NEW path #$r")(DedupIndex.ingest(spark, root, d2, newP).count())
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
    ()
  }
}
