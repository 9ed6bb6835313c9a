package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{AnnIndex, TxTable}

/** Scale soak for the persisted ANN index ([[graft.pipeline.AnnIndex]]):
  * build on half a synthetic embedding corpus, grow to full size in two
  * frozen-centroid appends, replay one append (must be a 0-row no-op),
  * then probe. Embeddings are deterministic xxhash64-derived uniforms —
  * no data files, nothing random across runs.
  *
  * What the numbers must show (SCALE.md §13):
  *  - build cost is training (bounded driver sample) + ONE assignment
  *    pass over the increment — not corpus-sized re-clustering;
  *  - append cost ≈ the same assignment pass + the vec_id anti-join
  *    against a column-pruned postings scan — O(increment);
  *  - a replayed append is read-only (0 rows, no commit);
  *  - query cost tracks probed postings (nprobe/nlist of the corpus),
  *    not corpus size.
  *
  * Run: `sbt "runMain graft.AnnSoak [nVecs] [dim] [nlist]"`.
  */
object AnnSoak {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 5000000L
    val dim = if (args.length > 1) args(1).toInt else 32
    val nlist = if (args.length > 2) args(2).toInt else 1024
    // SPARK_GRAFT_SOAK_PARTS: the GraphSoak 400M lesson — per-task
    // sort/agg state scales with rows/partitions, and the 10M-vector
    // postings commit dies in spill at 32 partitions on this box
    // (SPILL_OUT_OF_MEMORY, 64g heap); 128 quarters the task state
    val parts = sys.env.getOrElse("SPARK_GRAFT_SOAK_PARTS", "32")
    val spark = GraftSession.builder(32)
      .config("spark.sql.shuffle.partitions", parts)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[asoak] $name%-34s wall=${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    def synth(lo: Long, hi: Long) = spark.range(lo, hi).toDF("vec_id")
      .withColumn("embedding", expr(
        s"transform(sequence(0, ${dim - 1}), " +
          "i -> cast(pmod(xxhash64(vec_id, i), 1000L) as double) / 1000.0 - 0.5)"))

    val root = java.nio.file.Files.createTempDirectory("ann-soak").toFile.getAbsolutePath
    println(s"[asoak] n=$n dim=$dim nlist=$nlist root=$root")

    // ---- recall mode: `runMain graft.AnnSoak n dim nlist recall` ----
    // Measures retrieval QUALITY at scale instead of lifecycle cost:
    // recall@10 of the probed index vs the exact brute-force top-10
    // (SimilarityOps.cosineTopK — the corpus pass stays one broadcast
    // BNLJ with Partial WindowGroupLimit, so 100 queries × n rows is
    // feasible). Synthesis here is CLUSTERED (512 planted centers +
    // bounded noise): on structureless uniform data nearest neighbors
    // scatter across cells and IVF recall measures nothing — the
    // mixture is the shape real embedding corpora have and the shape
    // the cell-pruned probe is built for.
    // ---- frag mode: `runMain graft.AnnSoak n dim nlist frag` ----
    // The r15 verdict soak row for AnnIndex.compact -> compactLeveled:
    // many SMALL appends fragment the postings table (one file set per
    // commit, the streaming-ingest shape), and a maintenance CADENCE
    // of repeated compacts must stay flat per firing — the retired
    // compactAll paid O(corpus) per firing, so its series would grow
    // linearly with the accumulated index. Layout-only is re-checked
    // live: query answers hash-identical before/after each firing.
    if (args.length > 3 && args(3) == "frag") {
      val per = math.max(1L, n / 64)
      t(s"build (train nlist=$nlist + assign $per)") {
        AnnIndex.build(spark, root, synth(0, per), nlist = nlist)
      }
      val queries = synth(0, 100)
      def answerHash(): Long = AnnIndex.query(spark, root, queries, k = 10, nprobe = 8)
        .agg(sum(xxhash64(col("q_id"), col("vec_id"), col("rank")))).collect()(0).getLong(0)
      var landed = per
      var firing = 0
      while (landed < n) {
        for (_ <- 1 to 4 if landed < n) {
          t(s"append ${per} (to ${landed + per})") {
            AnnIndex.append(spark, root, synth(landed, landed + per))
          }
          landed += per
        }
        firing += 1
        val before = answerHash()
        val frag = TxTable.level0Fragmentation(spark, s"$root/postings")
        val steps = t(f"compact firing #$firing%2d (l0frag=$frag%.1f)") {
          AnnIndex.compact(spark, root)
        }
        val tv = System.nanoTime()
        TxTable.vacuum(spark, s"$root/postings", retainMs = 0L)
        println(f"[asoak]   steps=$steps vacuum=${(System.nanoTime() - tv) / 1e9}%5.2f s " +
          f"postingsBytes=${AnnIndex.postingsBytes(spark, root) / 1e6}%.0f MB")
        require(answerHash() == before,
          s"compaction firing #$firing changed query answers — layout-only contract broken")
      }
      println(s"[asoak] frag soak complete: $landed vectors, $firing firings, answers stable")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      spark.stop()
      return
    }

    if (args.length > 3 && Set("recall", "recall-adc", "recall-opq")(args(3))) {
      val nGroups = 512
      // noise-to-center amplitude ratio (arg 5): at small ratios every
      // neighborhood sits deep inside one planted cluster and recall
      // saturates at 1.0 regardless of nprobe; the interesting regime
      // is noise comparable to center separation, where true neighbors
      // straddle cell boundaries and nprobe buys recall
      val noise = if (args.length > 4) args(4).toDouble else 0.7
      // spectral decay (arg 6, default 0 = the §13e isotropic regime):
      // per-dim amplitude (1+i)^-decay. xxhash-uniform residuals are
      // ISOTROPIC — every direction carries equal variance, so an OPQ
      // rotation has nothing to re-balance and measures a wash by
      // construction. Real embedding spectra decay; decay>0 gives the
      // covariance structure the rotation exists to align with the PQ
      // block boundaries.
      val decay = if (args.length > 5) args(5).toDouble else 0.0
      val amp = if (decay == 0.0) "" else s" * pow(cast(1 + i as double), ${-decay})"
      def clustered(lo: Long, hi: Long) = spark.range(lo, hi).toDF("vec_id")
        .withColumn("embedding", expr(
          s"""transform(sequence(0, ${dim - 1}), i ->
             |  ((cast(pmod(xxhash64(pmod(vec_id, $nGroups), i), 1000L) as double) / 1000.0 - 0.5)
             |  + (cast(pmod(xxhash64(vec_id, i, 99), 1000L) as double) / 1000.0 - 0.5) * $noise)$amp)"""
            .stripMargin))
      println(s"[asoak] recall mode: nGroups=$nGroups noise=$noise decay=$decay")
      val exact = t("exact top-10 (brute force, bounded TopKAgg)") {
        // cosineTopKAgg, NOT the window formulation: the window path
        // locally sorts queries × corpus-slice rows per task and its
        // spill is what killed the r9 10M run (ENOSPC); the aggregate
        // keeps O(queries · 2k) state per task — same answers
        // (spec/oracle-pinned)
        val e = graft.ops.SimilarityOps
          .cosineTopKAgg(clustered(0, n), col("vec_id") < 100, 10)
          .select("q_id", "vec_id").persist()
        e.count(); e
      }
      def recallTable(tag: String, q: Int => org.apache.spark.sql.DataFrame): Unit =
        for (nprobe <- Seq(4, 8, 32, 64)) {
          val inter = t(s"$tag top-10 nprobe=$nprobe") {
            q(nprobe).select("q_id", "vec_id")
              .join(exact, Seq("q_id", "vec_id")).count()
          }
          println(f"[asoak] recall@10 $tag nprobe=$nprobe: ${inter / 1000.0}%.3f")
        }
      if (args(3) == "recall") {
        t(s"build full $n (clustered corpus)") {
          AnnIndex.build(spark, root, clustered(0, n), nlist = nlist)
        }
        recallTable("ann", np =>
          AnnIndex.query(spark, root, clustered(0, 100), k = 10, nprobe = np))
      } else if (args(3) == "recall-opq") {
        // OPQ-vs-plain-PQ at EQUAL bytes (r11 verdict item 3): same
        // corpus, same m (same one-byte codes per vector), the only
        // difference is the frozen rotation the codes were trained
        // under — the recall delta IS the rotation's value. Both
        // pure-ADC and re-rank rows, against the same exact baseline
        // as §13e's plain-PQ table.
        val m = sys.env.getOrElse("SPARK_GRAFT_ADC_M", (dim / 4).toString).toInt
        val (adcRoot, opqRoot) = (s"$root/adc", s"$root/opq")
        t(s"build adc full $n (m=$m k=256)") {
          AnnIndex.buildAdc(spark, adcRoot, clustered(0, n), nlist = nlist, m = m)
        }
        t(s"build opq-adc full $n (m=$m k=256)") {
          AnnIndex.buildAdc(spark, opqRoot, clustered(0, n), nlist = nlist,
            m = m, opq = true)
        }
        recallTable("adc", np =>
          AnnIndex.query(spark, adcRoot, clustered(0, 100), k = 10, nprobe = np))
        recallTable("opq", np =>
          AnnIndex.query(spark, opqRoot, clustered(0, 100), k = 10, nprobe = np))
        recallTable("adc+rerank", np =>
          AnnIndex.queryRerank(spark, adcRoot, clustered(0, 100), k = 10,
            nprobe = np, corpus = clustered(0, n)))
        recallTable("opq+rerank", np =>
          AnnIndex.queryRerank(spark, opqRoot, clustered(0, 100), k = 10,
            nprobe = np, corpus = clustered(0, n)))
        val adcB = AnnIndex.postingsBytes(spark, adcRoot)
        val opqB = AnnIndex.postingsBytes(spark, opqRoot)
        println(f"[asoak] postings bytes adc=$adcB opq=$opqB ratio=${opqB.toDouble / adcB}%.3f")
      } else {
        // the COMPRESSED tier, same corpus/queries/exact baseline: pure
        // ADC ranking and corpus-sourced exact re-rank, plus the bytes
        // comparison that is the tier's reason to exist (raw postings
        // built alongside on the same data)
        val m = sys.env.getOrElse("SPARK_GRAFT_ADC_M", (dim / 4).toString).toInt
        val (rawRoot, adcRoot) = (s"$root/raw", s"$root/adc")
        t(s"build raw full $n (clustered corpus)") {
          AnnIndex.build(spark, rawRoot, clustered(0, n), nlist = nlist)
        }
        t(s"build adc full $n (m=$m k=256)") {
          AnnIndex.buildAdc(spark, adcRoot, clustered(0, n), nlist = nlist, m = m)
        }
        recallTable("raw", np =>
          AnnIndex.query(spark, rawRoot, clustered(0, 100), k = 10, nprobe = np))
        recallTable("adc", np =>
          AnnIndex.query(spark, adcRoot, clustered(0, 100), k = 10, nprobe = np))
        recallTable("adc+rerank", np =>
          AnnIndex.queryRerank(spark, adcRoot, clustered(0, 100), k = 10,
            nprobe = np, corpus = clustered(0, n)))
        val rawB = AnnIndex.postingsBytes(spark, rawRoot)
        val adcB = AnnIndex.postingsBytes(spark, adcRoot)
        println(f"[asoak] postings bytes raw=$rawB adc=$adcB ratio=${rawB.toDouble / adcB}%.1f")
      }
      exact.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      spark.stop()
      return
    }

    t(s"build (train nlist=$nlist + assign ${n / 2})") {
      AnnIndex.build(spark, root, synth(0, n / 2), nlist = nlist)
    }
    t(s"append ${n / 4}") { AnnIndex.append(spark, root, synth(n / 2, 3 * n / 4)) }
    t(s"append ${n - 3 * n / 4}") { AnnIndex.append(spark, root, synth(3 * n / 4, n)) }
    val replayed = t("replayed append (must be 0)") {
      AnnIndex.append(spark, root, synth(n / 2, 3 * n / 4))
    }
    println(s"[asoak] replay appended rows: $replayed")
    val cells = AnnIndex.cellStats(spark, root)
      .agg(count(lit(1)), sum(col("postings")), max(col("postings"))).collect()(0)
    println(s"[asoak] cells=${cells.getLong(0)} postings=${cells.getLong(1)} maxCell=${cells.getLong(2)}")
    for (nprobe <- Seq(8, 32)) {
      val hits = t(s"query 100 vecs k=10 nprobe=$nprobe") {
        AnnIndex.query(spark, root, synth(0, 100), k = 10, nprobe = nprobe).count()
      }
      println(s"[asoak] result rows: $hits")
    }
    // the build+2 appends leave one file set per commit under every
    // cell (3× fragmentation); compaction is layout-only (answers
    // spec-identical, AnnIndexSpec) — measure what the re-query saves
    t("compact postings (layout only)") { AnnIndex.compact(spark, root) }
    for (nprobe <- Seq(8, 32)) {
      val hits = t(s"query post-compact nprobe=$nprobe") {
        AnnIndex.query(spark, root, synth(0, 100), k = 10, nprobe = nprobe).count()
      }
      println(s"[asoak] result rows: $hits")
    }
    // index-backed hard-negative mining over the same index
    // (MiningOps.hardNegativesIndexed — the production DPR/ANCE shape):
    // cost must track the probe (queries × probed postings + the pool's
    // label join), never corpus × corpus. Labels are a deterministic
    // 16-way hash partition of vec_id, corpus-sized like a real
    // supervision frame.
    val labels = spark.range(0, n).toDF("vec_id")
      .withColumn("label", pmod(xxhash64(col("vec_id"), lit(7)), lit(16)))
    for (nprobe <- Seq(8, 32)) {
      val rows = t(s"mine negatives 256q k=8 nprobe=$nprobe") {
        graft.ops.MiningOps.hardNegativesIndexed(
          spark, root, synth(0, 256), labels, kNeg = 8, nprobe = nprobe).count()
      }
      println(s"[asoak] negative rows: $rows")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    spark.stop()
  }
}
