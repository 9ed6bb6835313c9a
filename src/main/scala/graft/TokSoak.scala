package graft

import org.apache.spark.sql.functions._

import graft.ops.UnigramLmOps

/** Scale soak for the unigram-LM tokenizer trainer
  * ([[graft.ops.UnigramLmOps]]): train on a synthetic corpus whose
  * TOKEN count is corpus-scale but whose DISTINCT-word count is
  * bounded, then tokenize the full corpus — measured evidence for the
  * trainer's central scale claim (the [[graft.ops.BpeTrain]]
  * discipline): after the ONE corpus-order pass that builds the
  * word-frequency table, every EM and prune iteration costs
  * O(distinct words), not O(corpus), and the driver only ever holds
  * the seed-vocab-sized model.
  *
  * The corpus is deterministic xxhash64 synthesis — no data files.
  * Words are syllable chains (digit → CV syllable) over a Zipf-ish
  * rank draw (cube of a uniform), so subwords genuinely repeat across
  * words and the learned pieces are multi-character syllable runs —
  * the shape real subword training exploits. What the numbers must
  * show (SCALE.md §13b):
  *
  *  - wordFreq wall grows with tokens; EM wall grows with DISTINCT
  *    words (run two corpus sizes at the same distinct-word bound and
  *    the EM rows stay put while the wordFreq row scales);
  *  - the log-likelihood trajectory is monotone at soak scale exactly
  *    as UnigramLmSpec pins at test scale;
  *  - corpus tokenize is one embarrassing-parallel pass (wall ∝
  *    tokens) and every word reconstructs (the char coverage floor).
  *
  * Run: `sbt "runMain graft.TokSoak [nDocs] [wordsPerDoc] [vocabCap]"`.
  */
object TokSoak {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 2000000L
    val wordsPerDoc = if (args.length > 1) args(1).toInt else 50
    val rankCap = if (args.length > 2) args(2).toLong else 200000L
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[tsoak] $name%-30s wall=${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    // Zipf-ish word rank: cube of a dyadic uniform concentrates mass
    // at low ranks (density ∝ rank^(-2/3)); each rank renders as a
    // deterministic syllable chain, one syllable per decimal digit.
    val docs = spark.range(nDocs).toDF("doc_id")
      .withColumn("text", expr(
        s"""concat_ws(' ', transform(sequence(1, $wordsPerDoc), i ->
           |  concat_ws('', transform(
           |    split(cast(cast(pow(pmod(xxhash64(doc_id, i), 100000L) / 100000.0d, 3.0d)
           |                   * $rankCap as bigint) as string), ''),
           |    d -> element_at(map(
           |      '0','ba','1','de','2','ki','3','lo','4','mu',
           |      '5','na','6','po','7','ra','8','su','9','ti'), d)))))""".stripMargin))
    println(s"[tsoak] nDocs=$nDocs wordsPerDoc=$wordsPerDoc rankCap=$rankCap " +
      s"tokens=${nDocs * wordsPerDoc}")

    // the one corpus-order pass, persisted exactly as train() does it —
    // timed separately here so the corpus-sized vs vocab-sized split
    // is visible (train() below recomputes it; the docs frame is
    // deterministic so the two passes see identical data)
    val wf = t("wordFreq (corpus pass)") {
      val w = UnigramLmOps.wordFreq(docs)
      val n = w.count()
      println(s"[tsoak] distinct words: $n")
      w
    }
    val topw = wf.orderBy(col("n").desc).limit(3).collect()
      .map(r => s"${r.getString(0)}×${r.getLong(1)}").mkString(", ")
    println(s"[tsoak] most frequent: $topw")

    val (model, lls) = t("train (seed + 2 EM + prune→800)") {
      UnigramLmOps.train(docs, vocabSize = 800, maxLen = 4,
        seedSize = 2000, emIters = 2, pruneFrac = 0.5)
    }
    println(s"[tsoak] vocab=${model.logp.size} " +
      s"multiChar=${model.logp.keys.count(_.length > 1)}")
    println(s"[tsoak] EM log-likelihoods: ${lls.map(v => f"$v%.1f").mkString(" -> ")} " +
      // relative slack: LLs are distributed float reduces (magnitude
      // ~1e9 at soak scale), so an absolute epsilon is meaningless —
      // tolerate summation-order noise proportional to |LL|
      s"monotone=${lls.zip(lls.drop(1)).forall { case (a, b) => b >= a - 1e-9 * math.abs(a) }}")

    val pieces = t("tokenize full corpus") {
      UnigramLmOps.tokenize(docs, model, maxLen = 4)
        .agg(count(lit(1)), countDistinct(col("piece"))).collect()(0)
    }
    println(s"[tsoak] pieces=${pieces.getLong(0)} distinctPieces=${pieces.getLong(1)} " +
      f"piecesPerToken=${pieces.getLong(0).toDouble / (nDocs * wordsPerDoc)}%.3f")
    // one epoch's subword-regularized rendering (α-lattice draw per
    // word) — measures the augmentation premium over the Viterbi
    // argmax pass at the same corpus size
    val sampled = t("sampleTokenize α=0.3 epoch 1") {
      UnigramLmOps.sampleTokenize(docs, model, alpha = 0.3, seed = 1L, maxLen = 4)
        .agg(count(lit(1))).collect()(0).getLong(0)
    }
    println(f"[tsoak] sampled pieces=$sampled piecesVsArgmax=${sampled.toDouble / pieces.getLong(0)}%.4f")
    // Kneser–Ney scoring over the same corpus: the bigram-model
    // shuffle-join path (model never broadcast) at corpus scale
    val kn = t("Kneser-Ney ppl (all docs)") {
      graft.ops.LmOps.knPerplexity(docs)
        .agg(count(lit(1)), round(avg(col("ppl")), 3)).collect()(0)
    }
    println(s"[tsoak] kn docs=${kn.getLong(0)} meanPpl=${kn.getDouble(1)}")
    spark.stop()
  }
}
