package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{PretrainExport, TxTable}

/** Scale soak for the INCREMENTAL pretrain export ([[PretrainExport]]):
  * N synthetic documents arrive in K id-ordered batches through the
  * real init/append surface, and the claim under test is the
  * incremental model's defining property — per-batch wall stays FLAT
  * as the stored corpus grows (O(increment), never O(corpus)). The
  * reference's watermark+merge loop (stg_readings.sql:32-38) has the
  * same shape: re-process only new partitions.
  *
  * What each batch pays, by design:
  *  - quality gate + DedupIndex probe: O(batch + matched buckets);
  *  - replay anti-join: stored side pruned to doc_id >= the batch's
  *    min id (parquet footer pruning skips every older stripe);
  *  - offset continuation: checkpointed counters + readSince catch-up
  *    (aggregates only the dirs committed since the checkpoint);
  *  - rendering/pack/stripe: O(batch) with one hash exchange.
  * The O(corpus) terms this soak would expose if they existed:
  * a full-table counter aggregate, an unpruned anti-join, or LSH
  * band-bucket growth leaking into probe cost.
  *
  * Corpus: quality-passing 12-word docs with doc-unique vocabulary;
  * ~1% planted exact dups referencing EARLIER ids (some cross-batch),
  * so the dedup probe pays its real matched-bucket cost every batch.
  *
  * Run: `run_soak.sh graft.ExportSoak <heap> <log> [docs] [batches]`
  * (defaults 2,000,000 docs / 10 batches). Prints per-batch wall +
  * AppendStats + shard version; final manifest + feed-poll check.
  */
object ExportSoak {

  def syntheticDocs(spark: SparkSession, from: Long, until: Long): DataFrame = {
    // planted exact dups referencing EARLIER ids: ~1% adjacent (id-1,
    // same batch) + ~0.02% far (id/2 — prior batches once the corpus
    // grows), so the dedup probe pays same-batch AND cross-batch
    // matched-bucket cost. (id/2 may itself be a remapped id, making
    // the "dup" unique — rare noise, harmless to the cost shape.)
    val src = when(pmod(col("id"), lit(5003)) === 0 && col("id") > 1,
      (col("id") / 2).cast("long"))
      .otherwise(when(pmod(col("id"), lit(97)) === 0 && col("id") > 1,
        col("id") - 1).otherwise(col("id")))
    spark.range(from, until).toDF("id")
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          lit("the"), concat(lit("alpha"), src), concat(lit("beta"), src),
          concat(lit("gamma"), src), concat(lit("delta"), src),
          concat(lit("epsilon"), src), concat(lit("zeta"), src),
          concat(lit("eta"), src), concat(lit("theta"), src),
          lit("and"), concat(lit("iota"), src), concat(lit("kappa"), src)
        ).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 2000000L
    val nBatches = if (args.length > 1) args(1).toInt else 10
    val parts = sys.env.getOrElse("SPARK_GRAFT_SOAK_PARTS", "32")
    val offheap = sys.env.get("SPARK_GRAFT_SOAK_OFFHEAP")
    val b = GraftSession.builder(32)
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.cleaner.periodicGC.interval", "60s")
    val spark = offheap.fold(b) { sz =>
      b.config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", sz)
    }.getOrCreate()
    println(s"[esoak] docs=$nDocs batches=$nBatches " +
      s"shuffle.partitions=$parts offheap=${offheap.getOrElse("off")}")
    spark.sparkContext.setLogLevel("WARN")

    val root = java.nio.file.Files.createTempDirectory("graft-export-soak")
      .toFile.getAbsolutePath + "/export"
    // tokenizer seed: a bounded sample — the vocabulary is a one-time
    // training decision, never retrained per batch
    val seed = syntheticDocs(spark, 1L, 2001L)
    val t0 = System.nanoTime()
    PretrainExport.init(spark, root, seed,
      vocabSize = 400, seedSize = 1000, emIters = 1, pruneFrac = 0.5)
    println(f"[esoak] init (tokenizer train + pin) wall=${(System.nanoTime() - t0) / 1e9}%7.2f s")

    val per = nDocs / nBatches
    var feedVersion = 0L

    // STREAMING MODE (SPARK_GRAFT_SOAK_STREAM=1, r12 verdict item 7):
    // the same document stream landed as one parquet file per batch,
    // then driven through PretrainExport.runAvailableNow with
    // maxFilesPerTrigger=1 — each micro-batch IS one landed batch, so
    // per-micro-batch wall (streaming listener, triggerExecution) is
    // directly comparable to the batch loop's per-append wall. The
    // delta between the two is the streaming machinery's own cost:
    // source listing + offset-log commit per trigger.
    if (sys.env.get("SPARK_GRAFT_SOAK_STREAM").contains("1")) {
      val landing = s"$root-landing"
      val ckpt = s"$root-ckpt"
      val tl = System.nanoTime()
      for (i <- 0 until nBatches) {
        val from = 1L + i * per
        val until = if (i == nBatches - 1) nDocs + 1L else from + per
        syntheticDocs(spark, from, until).coalesce(1)
          .write.mode("append").parquet(landing)
      }
      println(f"[esoak] landed $nBatches files wall=${(System.nanoTime() - tl) / 1e9}%7.2f s")
      val walls = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
      spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          walls.add((e.progress.batchId, e.progress.numInputRows,
            e.progress.durationMs.getOrDefault("triggerExecution", -1L).toLong)); ()
        }
      })
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      // concurrent feed poller (r13 verdict item 5): the consumer a
      // production export actually has — a training job tailing
      // newShardsSince WHILE the stream commits. Polls on its own
      // session-cloned thread every ~2 s; each poll's wall + row count
      // prints inline so poll latency under live commit churn is in
      // the log next to the micro-batch walls it overlaps.
      val pollerStop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val poller = new Thread(() => {
        var fv = 0L
        var consecFailures = 0
        while (!pollerStop.get()) {
          try {
            val tp = System.nanoTime()
            val polled = PretrainExport.newShardsSince(spark, root, fv)
              .map { case (pv, df) => fv = pv; df.count() }.getOrElse(0L)
            val w = (System.nanoTime() - tp) / 1e9
            consecFailures = 0
            if (polled > 0)
              println(f"[esoak]   feed poll (live): $polled rows to v$fv wall=$w%6.2f s")
          } catch {
            // a compaction in the window: readSince REFUSES (the
            // documented contract) — re-baseline, like a production
            // tailer. Other NonFatal failures print and count: a DEAD
            // session fails every poll, and spinning on it for the rest
            // of the stream would only fill the log — stop after a few
            // in a row (the count resets on any success, so transient
            // churn never kills the poller). Fatal errors and interrupts
            // propagate: swallowing an OOM or the stop interrupt here
            // would leave a zombie thread pinning a broken JVM.
            case _: IllegalArgumentException =>
              consecFailures = 0
              fv = PretrainExport.shardVersion(spark, root)
              println(s"[esoak]   feed poll (live): re-baselined to v$fv (compaction in window)")
            case scala.util.control.NonFatal(e) =>
              consecFailures += 1
              println(s"[esoak]   feed poll (live) ERROR ($consecFailures consecutive): $e")
              if (consecFailures >= 5) {
                println("[esoak]   feed poll (live): 5 consecutive failures — poller stopping")
                pollerStop.set(true)
              }
          }
          Thread.sleep(2000)
        }
      }, "esoak-feed-poller")
      poller.setDaemon(true)
      poller.start()
      val ts = System.nanoTime()
      PretrainExport.runAvailableNow(spark, landing, schema, root, ckpt,
        maxFilesPerTrigger = Some(1),
        maintainThreshold = sys.env.get("SPARK_GRAFT_SOAK_MAINTAIN").map(_.toDouble))
      val streamWall = (System.nanoTime() - ts) / 1e9
      pollerStop.set(true)
      poller.join(5000)
      Thread.sleep(500) // let the last progress event land
      import scala.jdk.CollectionConverters._
      walls.asScala.toSeq.sortBy(_._1).foreach { case (bid, rows, ms) =>
        println(f"[esoak] micro-batch $bid%2d rows=$rows wall=${ms / 1000.0}%7.2f s")
      }
      println(f"[esoak] stream total (availableNow, $nBatches triggers) " +
        f"wall=$streamWall%7.2f s")
      val tm = System.nanoTime()
      val man = PretrainExport.manifest(spark, root).collect()
      println(f"[esoak] manifest (${man.length} stripes) wall=${(System.nanoTime() - tm) / 1e9}%6.2f s")
      man.foreach(r => println(s"[esoak]   $r"))
      println(s"[esoak] total shard rows: ${PretrainExport.shardTable(spark, root).count()}")
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(root).getParentFile)
      return
    }

    for (i <- 0 until nBatches) {
      val from = 1L + i * per
      val until = if (i == nBatches - 1) nDocs + 1L else from + per
      val batch = syntheticDocs(spark, from, until).localCheckpoint(false)
      val tb = System.nanoTime()
      val st = PretrainExport.append(spark, root, batch)
      val wall = (System.nanoTime() - tb) / 1e9
      val v = PretrainExport.shardVersion(spark, root)
      println(f"[esoak] batch ${i + 1}%2d/$nBatches ids=[$from,${until - 1}] " +
        f"wall=$wall%7.2f s  in=${st.docsIn} kept=${st.qualityKept} " +
        f"accepted=${st.accepted} appended=${st.appended} version=$v")
      // the serve-freshness poll a training job would run: new rows
      // since the last version, O(increment) by readSince
      val tp = System.nanoTime()
      val polled = PretrainExport.newShardsSince(spark, root, feedVersion)
        .map { case (pv, df) => feedVersion = pv; df.count() }.getOrElse(0L)
      println(f"[esoak]   feed poll: $polled rows to v$feedVersion " +
        f"wall=${(System.nanoTime() - tp) / 1e9}%6.2f s")
      // maintenance cadence (SPARK_GRAFT_SOAK_MAINTAIN = the
      // dirs-per-partition threshold; unset = no maintenance — the
      // fragmentation-slope baseline): compaction resets the dir
      // sprawl both tables accrete, and the feed re-baselines across
      // it (the documented refusal), exactly like a production tailer
      val threshold = sys.env.get("SPARK_GRAFT_SOAK_MAINTAIN").map(_.toDouble)
      threshold.foreach { th =>
        val tc = System.nanoTime()
        if (PretrainExport.maintain(spark, root, th)) {
          println(f"[esoak]   maintain: compacted (threshold $th) " +
            f"wall=${(System.nanoTime() - tc) / 1e9}%6.2f s")
          feedVersion = PretrainExport.shardVersion(spark, root) // re-baseline
          // reclaim the merged runs immediately (single-process soak,
          // no concurrent pinned readers): without the vacuum each
          // leveled merge leaves its inputs on disk and the soak's
          // footprint doubles per promotion — the 93 GB box budget.
          // BOTH tables: the band index compacts inside maintain too
          // (with vacuum=false, the library-safe default)
          val tv = System.nanoTime()
          TxTable.vacuum(spark, s"$root/shards", retainMs = 0L)
          TxTable.vacuum(spark, s"$root/dedup", retainMs = 0L)
          println(f"[esoak]   vacuum wall=${(System.nanoTime() - tv) / 1e9}%6.2f s")
        }
      }
    }
    val tm = System.nanoTime()
    val man = PretrainExport.manifest(spark, root).collect()
    println(f"[esoak] manifest (${man.length} stripes) wall=${(System.nanoTime() - tm) / 1e9}%6.2f s")
    man.foreach(r => println(s"[esoak]   $r"))
    val total = PretrainExport.shardTable(spark, root).count()
    println(s"[esoak] total shard rows: $total")
    spark.stop()
    // one-off scratch store — reclaim the disk (the soak-litter
    // discipline TestTmp enforces for the test JVM)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
    ()
  }
}
