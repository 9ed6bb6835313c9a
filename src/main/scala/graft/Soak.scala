package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.DedupOps
import graft.pipeline.CorpusIngest

/** 10× soak of the dedup/CC/ingest path — measured evidence that the
  * bucketed designs hold past the driver's sf0.1 island. Generates a
  * one-off synthetic corpus 10× the sf0.1 documents table (50k docs,
  * seeded, with planted near-dup families whose chain structure gives
  * the CC phases real multi-hop components), then runs the composed
  * ingest, the LSH pair pipeline, BOTH connected-components
  * algorithms, and the two STREAMING ingest gates (near-dup band gate,
  * semantic cell gate) — each drained through a checkpointed
  * file-source stream and then restarted from its checkpoint over a
  * +10% increment — printing per-phase wall time, shuffle bytes
  * (from stage metrics), verdict/state counts, and round counts. The
  * numbers land in SCALE.md §10; driver testdata is never touched.
  *
  * Run: `sbt "runMain graft.Soak"` (optional args: doc count, semantic
  * nlist — the 500k trend point passes nlist per the √N FAISS sizing
  * rule SCALE.md §10 documents, the 50k row keeps the deliberately
  * tiny 16 to show the cell-count bound).
  */
object Soak {

  private final class PhaseMeter(spark: SparkSession) {
    private val shuffleRead = new AtomicLong
    private val shuffleWrite = new AtomicLong
    private val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        shuffleRead.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        ()
      }
    })
    def measure[T](name: String)(body: => T): T = {
      // quiesce the listener bus so a prior phase's stages don't bleed
      // in. BEST-EFFORT attribution: the bus is async and these fixed
      // waits are a heuristic — under heavy ambient load a stage
      // completion can still land in the wrong phase's counters (wall
      // time is exact; the shuffle/taskTime split is approximate, and
      // the printed tag says so). Exact attribution would need
      // per-phase stage-id bookkeeping; the soak numbers are coarse
      // evidence, not a benchmark, so the honest label is enough.
      Thread.sleep(300)
      shuffleRead.set(0); shuffleWrite.set(0); taskMs.set(0)
      val t0 = System.nanoTime()
      val r = body
      Thread.sleep(300)
      println(f"[soak] $name%-28s wall=${(System.nanoTime() - t0) / 1e9}%7.2f s  " +
        f"shuffleRead=${shuffleRead.get / 1048576.0}%8.1f MiB  " +
        f"shuffleWrite=${shuffleWrite.get / 1048576.0}%8.1f MiB  " +
        f"taskTime=${taskMs.get / 1000.0}%7.1f s  (shuffle/task best-effort)")
      r
    }
  }

  /** Seeded corpus: ~60% singleton docs, rest in families of 2–8 whose
    * members perturb a shared base text by one word per CHAIN HOP
    * (member i mutates member i−1's text), so LSH links neighbors but
    * not necessarily family ends — multi-hop CC components by
    * construction, the regime the star algorithm exists for.
    */
  private[graft] def genDocsPublic(spark: SparkSession, n: Long): DataFrame =
    genDocs(spark, 0L, n)

  /** Id-keyed generation over [from, until): the family structure is a
    * pure function of the id, so an INCREMENT range continues the same
    * corpus — new blocks, same statistics — which is exactly what the
    * streaming restart phases feed through a resumed checkpoint.
    */
  private def genDocs(spark: SparkSession, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    val vocabBc = spark.sparkContext.broadcast(
      Array.tabulate(2000)(i => s"w${i}x${(i * 2654435761L & 0xffff).toHexString}"))
    // every 6th word is a stopword so the C4-style quality gate's
    // stopword-ratio floor (>= 0.03) passes — without it the whole
    // corpus is rejectedQuality and the ingest path is vacuous
    val stops = Array("the", "and", "of", "to", "in", "is")
    spark.range(from, until, 1, 64).as[Long].mapPartitions { it =>
      val vocab = vocabBc.value
      it.map { id =>
        // family structure from the id: blocks of 10; in each block,
        // ids 0-5 are singletons, 6-9 form a 4-chain family
        val block = id / 10
        val off = (id % 10).toInt
        val (seedId, hop) = if (off < 6) (id, 0) else (block * 10 + 6, off - 6)
        val rnd = new scala.util.Random(seedId * 1000003L + 17)
        val words = Array.tabulate(40)(i =>
          if (i % 6 == 5) stops(rnd.nextInt(stops.length))
          else vocab(rnd.nextInt(vocab.length)))
        // each hop mutates ONE more word of the shared base: adjacent
        // hops overlap in 39/40 words (J ≈ 0.95), ends in 37/40
        var h = 0
        while (h < hop) { words(h * 3) = s"mut${id}h$h"; h += 1 }
        (id, words.mkString(" "), "en", s"src${(id % 7)}")
      }
    }.toDF("doc_id", "text", "lang", "source")
  }

  /** Seeded unit embeddings with the SAME block-of-10 family structure
    * as [[genDocs]]: ids 6–9 of each block share a base direction with
    * per-member jitter (pairwise cosine ≈ 0.99, well above the gate
    * threshold); ids 0–5 are independent gaussians (expected pairwise
    * cosine ≈ 0 at dim 32, far below it).
    */
  private def genVecs(spark: SparkSession, from: Long, until: Long, dim: Int = 32): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, 64).as[Long].mapPartitions { it =>
      it.map { id =>
        val block = id / 10
        val off = (id % 10).toInt
        val (seedId, hop) = if (off < 6) (id, 0) else (block * 10 + 6, off - 6)
        val rnd = new scala.util.Random(seedId * 7000003L + 29)
        val base = Array.fill(dim)(rnd.nextGaussian())
        val jr = new scala.util.Random(id * 911382323L + 3)
        val v = if (hop == 0) base else base.map(x => x + 0.06 * jr.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(_ / norm).toSeq)
      }
    }.toDF("vec_id", "embedding")
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 50000L
    val nlist = if (args.length > 1) args(1).toInt else 16
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new PhaseMeter(spark)
    val root = s"/tmp/graft_soak_$n"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))

    val docs = meter.measure("generate+write corpus") {
      genDocs(spark, 0L, n).write.mode("overwrite").parquet(s"$root/docs")
      spark.read.parquet(s"$root/docs")
    }
    val textMb = docs.agg(sum(length(col("text")))).head().getLong(0) / 1048576.0
    println(f"[soak] corpus: ${docs.count()} docs, $textMb%.1f MiB text")

    // composed ingest (quality -> dedup gate -> blind-append TxTable),
    // two half-batches so the second exercises the persisted index
    val (h1, h2) = (docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    val s1 = meter.measure("CorpusIngest batch 1/2") {
      CorpusIngest.ingestBatch(spark, s"$root/corpus", s"$root/index", h1)
    }
    val s2 = meter.measure("CorpusIngest batch 2/2") {
      CorpusIngest.ingestBatch(spark, s"$root/corpus", s"$root/index", h2)
    }
    println(s"[soak] ingest 1: $s1 reconciles=${s1.reconciles}")
    println(s"[soak] ingest 2: $s2 reconciles=${s2.reconciles}")

    val pairs = meter.measure("LSH near-dup pairs") {
      val p = DedupOps.minhashNearDups(docs, threshold = 0.3).persist()
      println(s"[soak] pairs: ${p.count()}")
      p
    }
    meter.measure("CC min-label (iterative)") {
      val c = DedupOps.connectedComponents(pairs, maxIters = 30, smallGraphMaxEdges = 0L)
      println(s"[soak] min-label: ${c.count()} labeled nodes, " +
        s"rounds=${DedupOps.lastIterationMillis.length}, " +
        s"perRoundMs=${DedupOps.lastIterationMillis.mkString(",")}")
    }
    meter.measure("CC star (log-rounds)") {
      val c = DedupOps.connectedComponentsStar(pairs)
      println(s"[soak] star: ${c.count()} labeled nodes, rounds=${DedupOps.lastStarRounds}")
    }
    meter.measure("dedupGroups end-to-end") {
      val g = DedupOps.dedupGroups(docs, threshold = 0.3)
      println(s"[soak] groups: ${g.count()} rows, " +
        s"${g.filter(!col("is_canonical")).count()} non-canonical")
    }

    // ---- streaming gates: the ingest-time dedup path, drained through
    // a real checkpointed file-source stream at the same 50k scale, then
    // RESTARTED from the checkpoint over a +10% increment — state
    // continuity means increment docs still dedup against batch-1 state.
    import graft.streaming.{StreamingDedup, StreamingSemDedup}
    def maxStateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsTotal).foldLeft(0L)(math.max)
    def drain(name: String, start: () => org.apache.spark.sql.streaming.StreamingQuery,
        verdictPath: String): Unit = {
      val q = meter.measure(name) {
        val q0 = start(); q0.processAllAvailable(); q0
      }
      val state = maxStateRows(q)
      q.stop()
      val v = spark.read.parquet(verdictPath)
      val nv = v.count()
      val nd = v.filter(col("dup_of").isNotNull).count()
      println(s"[soak] $name: verdicts=$nv dups=$nd stateRows=$state")
    }

    val sroot = s"$root/stream_neardup"
    def docStream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "8").parquet(s"$root/docs")
    def nearDupQuery() = StreamingDedup.nearDupVerdicts(docStream())
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$sroot/verdicts")
      .option("checkpointLocation", s"$sroot/ckpt").start()
    drain("stream near-dup drain", () => nearDupQuery(), s"$sroot/verdicts")
    // +10% increment lands as NEW files; the restarted query resumes the
    // file-source log + band-bucket state from the checkpoint
    genDocs(spark, n, n + n / 10).write.mode("append").parquet(s"$root/docs")
    drain("stream near-dup restart +10%", () => nearDupQuery(), s"$sroot/verdicts")

    val vroot = s"$root/stream_semantic"
    genVecs(spark, 0L, n).write.mode("overwrite").parquet(s"$root/vecs")
    val vecs = spark.read.parquet(s"$root/vecs")
    // cell model trained OUTSIDE the stream on a bounded batch sample —
    // the same serving split as IVF (and the production SemDeDup gate)
    val cellModel = graft.ops.KMeans.fitSample(vecs, k = nlist, iters = 5, spherical = true)
    def vecStream() = spark.readStream.schema(vecs.schema)
      .option("maxFilesPerTrigger", "8").parquet(s"$root/vecs")
    def semQuery() = StreamingSemDedup.semanticVerdicts(
        vecStream(), cellModel.centroids, threshold = 0.9, maxCell = 4096)
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$vroot/verdicts")
      .option("checkpointLocation", s"$vroot/ckpt").start()
    drain("stream semantic drain", () => semQuery(), s"$vroot/verdicts")
    genVecs(spark, n, n + n / 10).write.mode("append").parquet(s"$root/vecs")
    drain("stream semantic restart +10%", () => semQuery(), s"$vroot/verdicts")

    spark.stop()
  }
}
