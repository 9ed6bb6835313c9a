package graft

import org.apache.spark.sql.functions._

import graft.ops.{EmbedStatsOps, GraphOps, SgnsOps}
import graft.pipeline.AnnIndex

/** OPQ measured on LEARNED vectors (r12 verdict item 4). The r12 OPQ
  * recall win was measured on a synthetic spectral-decay knob because
  * xxhash-uniform residuals are isotropic by construction — a rotation
  * has nothing to re-balance there. This soak closes the loop on the
  * regime OPQ exists for: REAL learned-embedding covariance.
  *
  * Chain: ring+chords graph at `n` nodes ([[GraphSoak.syntheticEdges]])
  * → one xx walk per node → skip-gram pairs → one SGNS epoch
  * ([[SgnsOps.train]], the production DeepWalk line) → the trained
  * in-vectors become the embedding corpus → [[AnnIndex.buildAdc]] plain
  * and `opq = true` at EQUAL bytes (same m, same one-byte codes) → the
  * §13e recall table (pure-ADC and exact re-rank) against the exact
  * brute-force top-10 ([[graft.ops.SimilarityOps.cosineTopKAgg]]).
  * The covariance eigenspectrum of the learned vectors is printed first
  * — the anisotropy number that says whether this corpus is in the
  * rotation's regime at all.
  *
  * Run: `run_soak.sh graft.LearnedOpqSoak 48g <log> [nNodes] [dim] [nlist]`
  * (defaults 1M, 32, 1024). Deterministic end-to-end: graph, walks,
  * negative draws, and k-means seeds are all hash-derived.
  */
object LearnedOpqSoak {
  /** Ring + intra-community chords: node i's random chords stay inside
    * its own `commSize` block, the ±1/±2 ring keeps the graph connected.
    * Homogeneous ring+chords embeds ISOTROPICALLY (measured: 1-epoch
    * SGNS λmax/λmin = 1.02 — OPQ correctly a wash there); planted
    * communities give the walks cluster structure, the regime where a
    * learned covariance can actually decay.
    */
  def communityEdges(spark: org.apache.spark.sql.SparkSession,
      n: Long, commSize: Long, extra: Int): org.apache.spark.sql.DataFrame = {
    val ids = spark.range(0, n).toDF("i")
    val ring = ids.select(col("i").as("src"), ((col("i") + 1) % n).as("dst"))
      .unionAll(ids.select(col("i").as("src"), ((col("i") + 2) % n).as("dst")))
    val base = (col("i") - (col("i") % commSize))
    val chords = (1 to extra).map(c =>
      ids.select(col("i").as("src"),
        (base + pmod(xxhash64(col("i"), lit(c)), lit(commSize))).as("dst")))
      .reduce(_ unionAll _)
    val oneWay = ring.unionAll(chords).filter(col("src") =!= col("dst"))
    oneWay.select(col("src"), col("dst"))
      .unionAll(oneWay.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val dim = if (args.length > 1) args(1).toInt else 32
    val nlist = if (args.length > 2) args(2).toInt else 1024
    val epochs = if (args.length > 3) args(3).toInt else 1
    val commSize = if (args.length > 4) args(4).toLong else 0L
    val m = sys.env.getOrElse("SPARK_GRAFT_ADC_M", (dim / 4).toString).toInt
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_SOAK_SGNS_BATCHES", "2").toInt
    val parts = sys.env.getOrElse("SPARK_GRAFT_SOAK_PARTS", "32")
    val spark = GraftSession.builder(32)
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[losoak] $name%-38s wall=${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    println(s"[losoak] n=$n dim=$dim nlist=$nlist m=$m batches=$nBatches " +
      s"parts=$parts epochs=$epochs commSize=$commSize")
    val edges = (if (commSize > 0) communityEdges(spark, n, commSize, 3)
      else GraphSoak.syntheticEdges(spark, n, 3)).localCheckpoint(false)
    val nodes = edges.select(col("src").as("node")).distinct()
    val pairs = GraphOps.skipGramPairs(
      GraphOps.randomWalksXx(edges, nodes, steps = 5), window = 2)
    val model = t(s"sgns $epochs epoch(s) x$nBatches batches dim=$dim") {
      SgnsOps.train(pairs, SgnsOps.SgnsParams(
        dim = dim, negatives = 3, lr = 0.05, epochs = epochs, batches = nBatches,
        trackLoss = false, floatExchange = true))
    }
    val vecs = model.inVecs
      .select(col("node").as("vec_id"), col("vec").as("embedding"))
      .localCheckpoint(false)
    val nv = t("vectors materialize")(vecs.count())
    println(s"[losoak] learned vectors: $nv")

    // the anisotropy evidence: eigenspectrum of the learned covariance.
    // Spectral flatness near 1.0 would mean this corpus is (like the
    // synthetic-uniform one) outside the rotation's regime; decay means
    // OPQ has variance to re-balance across the m PQ blocks.
    t("covariance eigenspectrum") {
      val (sums, prods, cnt) = EmbedStatsOps.gramian(
        spark, vecs.select(col("embedding").cast("array<float>").as("embedding")), dim)
      val cov = EmbedStatsOps.covarianceMatrix(sums, prods, cnt)
      val (evs, _) = EmbedStatsOps.Pca.jacobiEigen(cov)
      val s = evs.map(v => f"$v%.3e").mkString(", ")
      println(s"[losoak] eigenvalues desc: $s")
      println(f"[losoak] lambda_max/lambda_min=${evs.head / evs.last}%.2f " +
        f"top4_mass=${evs.take(4).sum / evs.sum}%.3f")
    }

    val exact = t("exact top-10 (brute force, bounded TopKAgg)") {
      val e = graft.ops.SimilarityOps
        .cosineTopKAgg(vecs, col("vec_id") < 100, 10)
        .select("q_id", "vec_id").persist()
      e.count(); e
    }
    val queries = vecs.filter(col("vec_id") < 100)

    val root = java.nio.file.Files.createTempDirectory("learned-opq").toFile.getAbsolutePath
    val (adcRoot, opqRoot) = (s"$root/adc", s"$root/opq")
    t(s"build adc (m=$m k=256)") {
      AnnIndex.buildAdc(spark, adcRoot, vecs, nlist = nlist, m = m)
    }
    t(s"build opq-adc (m=$m k=256)") {
      AnnIndex.buildAdc(spark, opqRoot, vecs, nlist = nlist, m = m, opq = true)
    }

    def recallTable(tag: String, q: Int => org.apache.spark.sql.DataFrame): Unit =
      for (nprobe <- Seq(4, 8, 32, 64)) {
        val inter = t(s"$tag top-10 nprobe=$nprobe") {
          q(nprobe).select("q_id", "vec_id")
            .join(exact, Seq("q_id", "vec_id")).count()
        }
        println(f"[losoak] recall@10 $tag nprobe=$nprobe: ${inter / 1000.0}%.3f")
      }
    recallTable("adc", np => AnnIndex.query(spark, adcRoot, queries, k = 10, nprobe = np))
    recallTable("opq", np => AnnIndex.query(spark, opqRoot, queries, k = 10, nprobe = np))
    recallTable("adc+rerank", np =>
      AnnIndex.queryRerank(spark, adcRoot, queries, k = 10, nprobe = np, corpus = vecs))
    recallTable("opq+rerank", np =>
      AnnIndex.queryRerank(spark, opqRoot, queries, k = 10, nprobe = np, corpus = vecs))
    val adcB = AnnIndex.postingsBytes(spark, adcRoot)
    val opqB = AnnIndex.postingsBytes(spark, opqRoot)
    println(f"[losoak] postings bytes adc=$adcB opq=$opqB ratio=${opqB.toDouble / adcB}%.3f")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    spark.stop()
  }
}
