package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[SgnsOps.train]] against an independent sequential reference: the
  * trainer's synchronous-mini-batch contract (every gradient against
  * the batch-start model, summed per node, applied once; md5-keyed
  * batches/negatives/init) is replayed by a plain in-memory Scala
  * loop and the distributed result must match it to float-summation
  * tolerance. Then the learning claims: loss decreases, planted
  * communities separate in embedding space, and the trained vectors
  * drive IVF ANN retrieval end-to-end (the walks → pairs → vectors →
  * ANN loop closed in one spec).
  */
class SgnsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- sequential reference: same contract, no Spark ----

  private def h32(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).take(4)
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16)
  }

  private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** pairs: (seed, c_step, center, x_step, context) rows. Returns
    * (inVecs, outVecs, lossPerBatch). */
  private def sequentialSgns(
      pairs: Seq[(Long, Int, Long, Int, Long)],
      p: SgnsOps.SgnsParams): (Map[Long, Array[Double]], Map[Long, Array[Double]], Seq[Double]) = {
    val vocabNodes = pairs.flatMap(r => Seq(r._3, r._5)).distinct.sorted
    val vocab = vocabNodes.toArray
    val v = vocab.length.toLong
    val vin = scala.collection.mutable.Map(vocabNodes.map { n =>
      n -> Array.tabulate(p.dim)(i =>
        (h32(s"init:$n:$i").toDouble / 4294967296.0 - 0.5) / p.dim)
    }: _*)
    val vout = scala.collection.mutable.Map(
      vocabNodes.map(n => n -> Array.fill(p.dim)(0.0)): _*)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (e <- 0 until p.epochs; b <- 0 until p.batches) {
      val bp = pairs.filter { case (seed, cs, _, xs, _) =>
        h32(s"batch:$e:$seed:$cs:$xs") % p.batches == b
      }
      val examples = bp.map { case (_, _, c, _, o) => (c, o, 1.0) } ++
        bp.flatMap { case (seed, cs, c, xs, _) =>
          (1 to p.negatives).map { k =>
            // widening multiply, matching the trainer's unbiased draw
            val idx = ((h32(s"neg:$e:$k:$seed:$cs:$xs") * v) >> 32).toInt
            (c, vocab(idx), 0.0)
          }
        }
      // per-node MEAN gradient (the trainer's count-normalized step):
      // accumulate sum + count, apply lr · sum/count
      val dIn = scala.collection.mutable.Map.empty[Long, (Array[Double], Int)]
      val dOut = scala.collection.mutable.Map.empty[Long, (Array[Double], Int)]
      var loss = 0.0
      examples.foreach { case (c, o, label) =>
        val cv = vin(c); val ov = vout(o)
        val s = sigmoid((0 until p.dim).map(i => cv(i) * ov(i)).sum)
        val g = s - label
        loss += (if (label == 1.0) -math.log(math.max(s, 1e-12))
                 else -math.log(math.max(1.0 - s, 1e-12)))
        val di = dIn.getOrElseUpdate(c, (Array.fill(p.dim)(0.0), 0))
        val dd = dOut.getOrElseUpdate(o, (Array.fill(p.dim)(0.0), 0))
        (0 until p.dim).foreach { i => di._1(i) += g * ov(i); dd._1(i) += g * cv(i) }
        dIn(c) = (di._1, di._2 + 1); dOut(o) = (dd._1, dd._2 + 1)
      }
      dIn.foreach { case (n, (gr, cnt)) =>
        val vec = vin(n); (0 until p.dim).foreach(i => vec(i) -= p.lr * gr(i) / cnt)
      }
      dOut.foreach { case (n, (gr, cnt)) =>
        val vec = vout(n); (0 until p.dim).foreach(i => vec(i) -= p.lr * gr(i) / cnt)
      }
      losses += loss / examples.length
    }
    (vin.toMap, vout.toMap, losses.toSeq)
  }

  private def collectVecs(df: org.apache.spark.sql.DataFrame): Map[Long, Array[Double]] =
    df.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  // two 6-cliques bridged by one edge — the planted-community graph
  private def cliqueEdges = {
    val c1 = for (a <- 0L to 5L; b <- 0L to 5L if a != b) yield (a, b)
    val c2 = for (a <- 10L to 15L; b <- 10L to 15L if a != b) yield (a, b)
    (c1 ++ c2 ++ Seq((5L, 10L), (10L, 5L))).toDF("src", "dst")
  }

  private def trainingPairs(steps: Int, epochs: Int) = {
    val e = cliqueEdges
    val seeds = ((0L to 5L) ++ (10L to 15L)).toDF("node")
    (0 until epochs)
      .map(ep => GraphOps.randomWalks(e, seeds, steps = steps, epoch = ep))
      .reduce(_ unionByName _)
      .transform(w => GraphOps.skipGramPairs(w, window = 2))
  }

  test("distributed trainer matches the sequential reference to float-summation tolerance") {
    val params = SgnsOps.SgnsParams(dim = 8, negatives = 3, lr = 0.1, epochs = 2, batches = 3)
    val pairsDf = trainingPairs(steps = 5, epochs = 2)
    val pairsSeq = pairsDf.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4))).toSeq
    val model = SgnsOps.train(pairsDf, params)
    val (refIn, refOut, refLosses) = sequentialSgns(pairsSeq, params)

    val gotIn = collectVecs(model.inVecs)
    val gotOut = collectVecs(model.outVecs)
    assert(gotIn.keySet === refIn.keySet)
    assert(gotOut.keySet === refOut.keySet)
    def maxDiff(a: Map[Long, Array[Double]], b: Map[Long, Array[Double]]): Double =
      a.map { case (n, vec) =>
        vec.zip(b(n)).map { case (x, y) => math.abs(x - y) }.max
      }.max
    assert(maxDiff(gotIn, refIn) < 1e-9,
      s"in-vectors diverge from sequential reference: ${maxDiff(gotIn, refIn)}")
    assert(maxDiff(gotOut, refOut) < 1e-9,
      s"out-vectors diverge from sequential reference: ${maxDiff(gotOut, refOut)}")
    assert(model.losses.length === refLosses.length)
    model.losses.zip(refLosses).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"loss trajectory diverges: $a vs $b")
    }
  }

  // one trained model shared by the two learning tests (params tuned
  // on the sequential reference — proven equivalent above — for clear
  // community separation at 20 batches: intra≈0.99, cross≈0.29)
  private lazy val learnedModel = SgnsOps.train(
    trainingPairs(steps = 8, epochs = 3),
    SgnsOps.SgnsParams(dim = 8, negatives = 3, lr = 2.0, epochs = 10, batches = 2))

  test("shuffle-join model path (above the broadcast guard) is value-identical to the broadcast path") {
    val params = SgnsOps.SgnsParams(dim = 8, negatives = 3, lr = 0.1, epochs = 2, batches = 3)
    val pairs = trainingPairs(steps = 5, epochs = 2)
    val viaBroadcast = SgnsOps.train(pairs, params)
    val viaShuffle = SgnsOps.train(pairs, params.copy(forceShuffleModel = true))
    // identical hashes, identical batch partition, identical math —
    // only the JOIN STRATEGY differs, so vectors must agree to float
    // summation tolerance and the loss trajectories likewise
    def maxDiff(a: Map[Long, Array[Double]], b: Map[Long, Array[Double]]): Double =
      a.map { case (n, vec) =>
        vec.zip(b(n)).map { case (x, y) => math.abs(x - y) }.max
      }.max
    assert(maxDiff(collectVecs(viaBroadcast.inVecs), collectVecs(viaShuffle.inVecs)) < 1e-9)
    assert(maxDiff(collectVecs(viaBroadcast.outVecs), collectVecs(viaShuffle.outVecs)) < 1e-9)
    viaBroadcast.losses.zip(viaShuffle.losses).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9)
    }
  }

  test("lazy-cut path (below the loop gate) is value-identical to the eager per-batch discipline") {
    val params = SgnsOps.SgnsParams(dim = 8, negatives = 3, lr = 0.1, epochs = 2, batches = 3)
    val pairs = trainingPairs(steps = 5, epochs = 2)
    val viaEager = SgnsOps.train(pairs, params.copy(eagerCuts = Some(true)))
    val viaLazy = SgnsOps.train(pairs, params.copy(eagerCuts = Some(false)))
    // identical plans — only WHERE materialization happens moves (per
    // batch vs inside the final model checkpoints), so vectors and the
    // loss trajectory must agree to float-summation tolerance
    def maxDiff(a: Map[Long, Array[Double]], b: Map[Long, Array[Double]]): Double =
      a.map { case (n, vec) =>
        vec.zip(b(n)).map { case (x, y) => math.abs(x - y) }.max
      }.max
    assert(maxDiff(collectVecs(viaEager.inVecs), collectVecs(viaLazy.inVecs)) < 1e-9)
    assert(maxDiff(collectVecs(viaEager.outVecs), collectVecs(viaLazy.outVecs)) < 1e-9)
    assert(viaEager.losses.length === viaLazy.losses.length)
    viaEager.losses.zip(viaLazy.losses).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9)
    }
  }

  test("lazy-regime lineage stays bounded over many rounds (BigInteger-overflow regression)") {
    // 30 batch-rounds below the eager gate: without the periodic eager
    // cut, each round's plan tree embeds the prior round's ~3×, and
    // Catalyst's size-stat products overflow BigInteger at planning
    // time around round 12 ("BigInteger would overflow supported
    // range") — the exact failure of the 100k-node 30-epoch soak.
    val params = SgnsOps.SgnsParams(dim = 4, negatives = 2, lr = 0.1,
      epochs = 15, batches = 2, eagerCuts = Some(false), trackLoss = false)
    val m = SgnsOps.train(trainingPairs(steps = 3, epochs = 1), params)
    assert(m.inVecs.count() > 0)
  }

  test("warm-start continuation with epochOffset replays the uninterrupted run; corpus growth keeps trained vectors and covers new vocab") {
    val params = SgnsOps.SgnsParams(dim = 8, negatives = 3, lr = 0.1, epochs = 4, batches = 2)
    val pairs = trainingPairs(steps = 5, epochs = 2)
    def maxDiff(a: Map[Long, Array[Double]], b: Map[Long, Array[Double]]): Double =
      a.map { case (n, vec) =>
        vec.zip(b(n)).map { case (x, y) => math.abs(x - y) }.max
      }.max
    // the checkpointed-training contract: 4 epochs straight equals
    // 2 epochs + a resumed continuation at epochOffset=2 (absolute
    // epoch hashing makes the batch/negative streams line up)
    val full = SgnsOps.train(pairs, params)
    val phase1 = SgnsOps.train(pairs, params.copy(epochs = 2))
    val resumed = SgnsOps.train(
      pairs, params.copy(epochs = 2, epochOffset = 2), resume = Some(phase1))
    assert(maxDiff(collectVecs(full.inVecs), collectVecs(resumed.inVecs)) < 1e-9)
    assert(maxDiff(collectVecs(full.outVecs), collectVecs(resumed.outVecs)) < 1e-9)
    assert((phase1.losses ++ resumed.losses).zip(full.losses)
      .forall { case (a, b) => math.abs(a - b) < 1e-9 },
      "split loss trajectory must equal the uninterrupted one")
    // corpus growth: phase 1 saw only community-1 walks; resuming on
    // the full corpus must keep every phase-1 node and cover the new
    // vocabulary with finite, non-degenerate vectors
    val subset = pairs.filter(col("seed") < 6)
    val m1 = SgnsOps.train(subset, params.copy(epochs = 2))
    val grown = SgnsOps.train(
      pairs, params.copy(epochs = 2, epochOffset = 2), resume = Some(m1))
    val m1Nodes = collectVecs(m1.inVecs).keySet
    val grownVecs = collectVecs(grown.inVecs)
    assert(m1Nodes.subsetOf(grownVecs.keySet))
    assert(grownVecs.keySet === collectVecs(full.inVecs).keySet,
      "grown vocab must equal the full corpus vocab")
    assert(grownVecs.values.forall(v => v.forall(x => !x.isNaN) && v.exists(_ != 0.0)))
  }

  test("loss decreases over training and planted communities separate in embedding space") {
    val model = learnedModel
    assert(model.losses.head > model.losses.last,
      s"mean batch loss must decrease: ${model.losses.head} -> ${model.losses.last}")

    val vecs = collectVecs(model.inVecs)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dp = a.zip(b).map { case (x, y) => x * y }.sum
      dp / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val c1 = (0L to 5L).toSeq; val c2 = (10L to 15L).toSeq
    val intra = (c1.combinations(2) ++ c2.combinations(2))
      .map { case Seq(a, b) => cos(vecs(a), vecs(b)) }.toSeq
    val cross = for (a <- c1; b <- c2) yield cos(vecs(a), vecs(b))
    val (mIntra, mCross) = (intra.sum / intra.size, cross.sum / cross.size)
    assert(mIntra > mCross + 0.3,
      s"planted communities must separate clearly: intra=$mIntra cross=$mCross")
  }

  test("trained vectors drive IVF ANN end-to-end: retrieval stays in the query's community") {
    val model = learnedModel
    val emb = model.inVecs
      .select(col("node").as("vec_id"), col("vec").as("embedding"))
    // nlist=2 cells on 12 vectors; probe 1 cell — the community split
    // is exactly what spherical k-means should find in a separated
    // embedding space
    val hits = IvfOps.annTrained(
      emb, queryPred = col("vec_id").isin(0L, 1L, 14L, 15L), k = 3,
      nlist = 2, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.nonEmpty)
    val sameCommunity = hits.count { case (q, n) => (q < 6) == (n < 6) }
    assert(sameCommunity.toDouble / hits.length >= 0.75,
      s"ANN over trained vectors must retrieve mostly same-community: $sameCommunity/${hits.length}")
  }
}
