package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Unigram-LM subword tokenizer TRAINING (Kudo '18 — the SentencePiece
  * `unigram` algorithm, the other major LLM tokenizer family next to
  * [[BpeTrain]]'s BPE): model each word as the max-likelihood
  * segmentation under a piece unigram LM, fit the LM by hard
  * (Viterbi) EM over the corpus, then prune the vocabulary down to
  * size by likelihood contribution.
  *
  * The reference pipeline tokenizes with one regex
  * (`/root/reference/src/processing/parser.py:31` whitespace split);
  * this is the extension-surface trainer that learns the subword
  * vocabulary from the corpus itself.
  *
  * Distributed shape (the [[BpeTrain]] discipline):
  *  - the corpus collapses ONCE to a word-frequency table; every EM
  *    and prune iteration works on DISTINCT words weighted by count —
  *    vocabulary-sized, not corpus-sized. At 100 TB that one shuffle
  *    is the only corpus-order pass.
  *  - per EM iteration: the current vocab (bounded by `seedSize`,
  *    k-means-centroid class) broadcasts to executors; each word runs
  *    the Viterbi DP row-locally in a typed map (genuinely iterative
  *    per-row logic — the documented mapPartitions/typed-map case);
  *    piece counts come back through ONE partial-aggregating groupBy;
  *    the M-step renormalizes driver-side over the bounded vocab.
  *  - pruning drops the lowest-PROBABILITY removable pieces per round
  *    (logp rank — the per-use contribution proxy; a piece the refit
  *    EM left near the Laplace floor is one Viterbi never chose).
  *    Single chars are never dropped — they are the coverage floor
  *    that keeps every word segmentable. EM re-runs between rounds,
  *    until the vocab reaches `vocabSize`.
  *
  * Determinism: the DP tie-breaks on (score, then FEWER pieces, then
  * lexicographically smaller split point), counts are exact longs
  * weighted by word frequency, and the M-step sorts before
  * renormalizing — the trained MODEL is a pure function of the corpus
  * multiset (spec'd 1-vs-8 partitions, and against an independent
  * in-memory sequential reference in UnigramLmSpec). The returned
  * log-likelihood TRAJECTORY is exact up to float summation order
  * only: per-word LLs are summed by a distributed reduce whose order
  * is partition-dependent, so lls is reproducible to ~1e-9 relative
  * (not bit-stable) — soak/monotonicity checks must use a relative
  * tolerance, never bit equality.
  */
object UnigramLmOps {

  /** A trained unigram LM: piece → log-probability. */
  final case class UnigramModel(logp: Map[String, Double]) {
    def pieces: Seq[String] = logp.keys.toSeq.sorted
  }

  /** Viterbi segmentation of `word` under `logp`: maximize the sum of
    * piece log-probs. Ties break toward FEWER pieces, then toward the
    * lexicographically earliest split sequence (deterministic across
    * platforms — doubles here are pure functions of the model).
    * Returns None when some character has no piece (cannot happen with
    * a char-closed vocab).
    */
  def viterbi(word: String, logp: Map[String, Double], maxLen: Int): Option[Seq[String]] = {
    val n = word.length
    if (n == 0) return Some(Nil)
    // best(i): (score, nPieces, backPointer j) for word[0, i)
    val NEG = Double.NegativeInfinity
    val score = Array.fill(n + 1)(NEG)
    val count = Array.fill(n + 1)(Int.MaxValue)
    val back = Array.fill(n + 1)(-1)
    score(0) = 0.0; count(0) = 0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        if (score(j) != NEG) {
          logp.get(word.substring(j, i)) match {
            case Some(lp) =>
              val s = score(j) + lp
              val c = count(j) + 1
              // strictly better score wins; equal score → fewer pieces;
              // equal both → smaller j (earliest split, longest last
              // piece) — already guaranteed by scanning j ascending and
              // replacing only on strict improvement
              if (s > score(i) || (s == score(i) && c < count(i))) {
                score(i) = s; count(i) = c; back(i) = j
              }
            case None =>
          }
        }
        j += 1
      }
      i += 1
    }
    if (score(n) == NEG) None
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var k = n
      while (k > 0) { val j = back(k); out += word.substring(j, k); k = j }
      Some(out.reverse.toSeq)
    }
  }

  /** Corpus → word-frequency table (whitespace words, the
    * [[BpeTrain.wordCounts]] convention without the end marker).
    */
  def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))

  /** Seed vocabulary: every substring of length ≤ `maxLen` of every
    * word, weighted by word frequency × occurrence count; the top
    * `seedSize` by (weight desc, piece asc) UNION all single
    * characters. Distributed: substrings explode from the word table
    * (vocabulary-sized), one groupBy.
    */
  def seedVocab(wf: DataFrame, maxLen: Int, seedSize: Int): DataFrame = {
    val spark = wf.sparkSession
    import spark.implicits._
    val subs = wf.as[(String, Long)].flatMap { case (w, n) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(maxLen, w.length - i)
      } yield (w.substring(i, i + l), n)
    }.toDF("piece", "n")
      .groupBy("piece").agg(sum(col("n")).as("weight"))
    val top = subs.orderBy(col("weight").desc, col("piece")).limit(seedSize)
    val chars = subs.filter(length(col("piece")) === 1)
    top.union(chars).groupBy("piece").agg(max(col("weight")).as("weight"))
  }

  /** One hard-EM iteration: Viterbi-segment every distinct word under
    * the current model, count pieces weighted by word frequency
    * (distributed partial-agg groupBy), renormalize driver-side over
    * the bounded vocab. Pieces unused by any best segmentation keep a
    * floor count of 0 but stay in the model only if single-char (the
    * coverage floor); multi-char pieces with zero count drop out.
    * Returns (new model, total Viterbi log-likelihood) — hard EM
    * monotonically improves it (spec-asserted).
    *
    * ONE Spark job per step (r16, guide §1.2-1): the former shape ran
    * TWO jobs over a persisted intermediate (a reduce for the LL, a
    * groupBy+collect for the counts) plus the cache round-trip; per-job
    * driver latency — not compute — dominates the vocabulary-sized
    * train (measured r15: 25 jobs, wall ≈ 2× jobWall). Here each
    * partition Viterbi-segments its words once, pre-combines piece
    * counts in a local map, sums its LL locally, and emits the count
    * rows plus ONE ("", 0, partitionLl) sentinel — "" can never be a
    * piece (words are non-empty, pieces are length ≥ 1 substrings) —
    * so one groupBy+collect returns both estimates. Counts stay exact
    * longs (the same partial-agg sums, pre-combined a level earlier);
    * each word's LL keeps the identical float ops (sum of piece logps,
    * then × n), and the cross-partition LL sum stays
    * partition-order-reproducible to ~1e-9 relative — the documented
    * trajectory tolerance (never bit-stable, header note).
    */
  private def emStep(
      wf: DataFrame, model: UnigramModel, maxLen: Int): (UnigramModel, Double) = {
    val spark = wf.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.logp)
    val agg = wf.as[(String, Long)].mapPartitions { it =>
      val lp = bc.value
      val local = scala.collection.mutable.HashMap.empty[String, Long]
      var ll = 0.0
      it.foreach { case (w, n) =>
        val segs = viterbi(w, lp, maxLen).getOrElse(
          throw new IllegalStateException(s"unsegmentable word under char-closed vocab: $w"))
        var s = 0.0
        segs.foreach { p =>
          s += lp(p)
          local.update(p, local.getOrElse(p, 0L) + n)
        }
        ll += s * n
      }
      local.iterator.map { case (p, c) => (p, c, 0.0) } ++ Iterator(("", 0L, ll))
    }.toDF("piece", "c", "ll")
      .groupBy("piece").agg(sum(col("c")).as("c"), sum(col("ll")).as("ll"))
      .collect()
    val counts = agg.iterator.filter(_.getString(0).nonEmpty)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totalLl = agg.iterator.filter(_.getString(0).isEmpty)
      .map(_.getDouble(2)).sum // exactly one "" group row
    mStep(model, counts, totalLl)
  }

  /** Driver-side M-step: renormalize the kept vocab (multi-char
    * zero-count pieces drop; single chars are the coverage floor) with
    * a +1 Laplace floor. */
  private def mStep(
      model: UnigramModel, counts: Map[String, Long],
      totalLl: Double): (UnigramModel, Double) = {
    val kept = model.logp.keys.filter(p => counts.contains(p) || p.length == 1).toSeq.sorted
    val floor = 1L // Laplace floor so char coverage pieces keep finite logp
    val total = kept.map(p => counts.getOrElse(p, 0L) + floor).sum.toDouble
    val logp = kept.map(p => p -> math.log((counts.getOrElse(p, 0L) + floor) / total)).toMap
    (UnigramModel(logp), totalLl)
  }

  /** Train: seed → `emIters` hard-EM steps → prune rounds (drop the
    * lowest-contribution `pruneFrac` of multi-char pieces, re-EM once)
    * until ≤ `vocabSize` pieces. Also returns the per-step Viterbi
    * log-likelihood trajectory of the initial EM run (monotone,
    * spec-asserted).
    */
  /** Warm-start seed for [[train]]'s `resume` path: the stored model's
    * pieces keep their stored probability mass; characters of the NEW
    * corpus absent from it enter COLD at the stored minimum probability
    * (the bottom of the learned distribution — one EM step re-estimates
    * everything from real counts anyway), and the union renormalizes.
    * When the grown corpus introduces no new characters the stored
    * model passes through BIT-EXACT — that is what makes retrain from
    * a CONVERGED model on an unchanged corpus an identity (the
    * spec-pinned exactness case); with new characters the perturbation
    * is the documented divergence (a different seed can reach a
    * different — equally valid — EM fixed point than from-scratch).
    */
  private def warmSeed(
      stored: UnigramModel, corpusChars: Set[String]): UnigramModel = {
    val missing = (corpusChars -- stored.logp.keySet).toSeq.sorted
    if (missing.isEmpty) stored
    else {
      val floorLp = stored.logp.values.min
      val combined = stored.logp ++ missing.map(_ -> floorLp)
      // deterministic float order: sum in sorted-key order
      val z = combined.toSeq.sortBy(_._1).map { case (_, lp) => math.exp(lp) }.sum
      val lz = math.log(z)
      UnigramModel(combined.map { case (p, lp) => p -> (lp - lz) })
    }
  }

  def train(
      docs: DataFrame,
      vocabSize: Int,
      maxLen: Int = 6,
      seedSize: Int = 4000,
      emIters: Int = 3,
      pruneFrac: Double = 0.25,
      resume: Option[UnigramModel] = None): (UnigramModel, Seq[Double]) = {
    val spark = docs.sparkSession
    val wf0 = wordFreq(docs).persist()
    // fail fast with a clear message: an empty/whitespace-only corpus
    // yields an empty word-frequency table, and the EM step's agg
    // would otherwise crash opaquely mid-train. The count also
    // materializes the cache the whole train reads.
    val nWords = wf0.count()
    if (nWords == 0L) {
      wf0.unpersist()
      throw new IllegalArgumentException(
        "cannot train a unigram LM on an empty or whitespace-only corpus " +
          "(word-frequency table has zero rows)")
    }
    // EM + prune are tens of vocabulary-sized jobs; on the caller's
    // full session geometry each pays a session-width task wave plus
    // fresh per-round codegen and AQE replanning for a few MB
    // (measured r15: the pinned v800 train = 25 jobs, wall ≈ 2×
    // jobWall — driver latency, not compute). Re-home the loop onto
    // the scale-adaptive loop-session clone (GraphOps.loopSession: AQE
    // off, shuffle partitions ~rows/250k capped at the session's own,
    // codegen gated at the measured 4M-row crossover) and coalesce the
    // cached word blocks to the loop's geometry (narrow — no shuffle;
    // floor 4 keeps a compute wave for the Viterbi passes, the
    // rankLoop edge-pin convention). At 100 TB word tables the clone's
    // settings converge to the session's own and the coalesce is a
    // no-op. Blocks cross sessions zero-copy via the global temp view;
    // the trained model is a plain driver value, so nothing else
    // crosses back. The model is a pure function of the corpus
    // multiset either way (counts are exact longs; partition-count
    // invariance is UnigramLmSpec's 1-vs-8 case).
    val viewTag = "graft_ulm_wf_" + java.util.UUID.randomUUID().toString.replace("-", "")
    wf0.createOrReplaceGlobalTempView(viewTag)
    val wf = GraphOps.loopSession(spark, nWords)
      .table(s"global_temp.$viewTag")
      .coalesce(math.max(4L, GraphOps.loopPartsFor(spark, nWords)).toInt)
    try {
      var model = resume match {
        case Some(stored) =>
          // warm start: stored vocab + cold coverage chars of the grown
          // corpus (alphabet-sized driver pull — same bound seedVocab's
          // char floor already relies on)
          require(stored.logp.nonEmpty, "cannot resume from an empty model")
          require(stored.logp.keys.forall(_.length <= maxLen),
            s"stored model has pieces longer than maxLen=$maxLen — " +
              "resume with the maxLen the model was trained with")
          val spark0 = wf.sparkSession
          import spark0.implicits._
          val chars = wf.as[(String, Long)]
            .flatMap(_._1.map(_.toString)).distinct().collect().toSet
          warmSeed(stored, chars)
        case None =>
          val seed = seedVocab(wf, maxLen, seedSize)
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val total = seed.values.sum.toDouble
          UnigramModel(seed.map { case (p, w) => p -> math.log(w / total) })
      }
      val lls = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 0 until emIters) {
        val (m, ll) = emStep(wf, model, maxLen)
        model = m; lls += ll
      }
      while (model.logp.size > vocabSize) {
        // refit once per prune round so the logp rank reflects the
        // CURRENT model's Viterbi counts (unused pieces fall to the
        // Laplace floor and rank first for removal)
        val (m, _) = emStep(wf, model, maxLen)
        model = m
        val multi = model.logp.filter(_._1.length > 1)
        if (multi.isEmpty) {
          // char-only vocab cannot shrink further
          return (model, lls.toSeq)
        }
        val nDrop = math.max(1, math.min(
          (multi.size * pruneFrac).toInt, model.logp.size - vocabSize))
        val dropped = multi.toSeq
          .sortBy { case (p, lp) => (lp, p) } // lowest logp = lowest contribution per use
          .take(nDrop).map(_._1).toSet
        model = UnigramModel(model.logp -- dropped)
      }
      val (finalModel, _) = emStep(wf, model, maxLen)
      (finalModel, lls.toSeq)
    } finally {
      spark.catalog.dropGlobalTempView(viewTag)
      wf0.unpersist()
      ()
    }
  }

  /** Subword-regularization sampling (Kudo '18 §4, the SentencePiece
    * `--alpha` path): instead of the Viterbi argmax, draw a
    * segmentation of `word` from the α-scaled lattice posterior
    * P(seg) ∝ Π p(piece)^α — the on-the-fly training-data
    * augmentation real LLM tokenizer pipelines use (each epoch sees a
    * different subword rendering of the same text). Exact lattice
    * sampling: forward pass accumulates log-sum-exp of α-scaled path
    * scores per end position, backward pass samples each edge from
    * its softmax share. All randomness is the md5-dyadic convention —
    * `u(i)` keys one uniform per (seed, word occurrence, lattice
    * position), so sampling is a PURE FUNCTION of (word, model, α,
    * seed) and the corpus-level operator is deterministic,
    * partition-invariant, and replayable per epoch (epoch = seed).
    * α→∞ sharpens to the max-score path (UnigramLmSpec pins
    * score-convergence); α→0 flattens toward uniform over
    * segmentations; empirical draw frequencies match the exact
    * lattice posterior (spec-pinned on a crafted vocab).
    */
  def sampleSegment(
      word: String, logp: Map[String, Double], maxLen: Int,
      alpha: Double, u: Int => Double): Seq[String] = {
    val n = word.length
    if (n == 0) return Nil
    val NEG = Double.NegativeInfinity
    // lf(i) = log Σ_paths→i exp(α · score(path)). Allocation-free
    // inner loops (this runs per word occurrence at corpus scale):
    // edge log-weights into `end` cached in one maxLen buffer, reused
    // across positions; log-sum-exp as two ascending-j passes (max,
    // then Σexp) — SAME summation order as a buffered lse, so draws
    // are bit-stable against any refactor of this loop.
    val lf = new Array[Double](n + 1)
    val ew = new Array[Double](maxLen) // ew(d-1): weight of edge (i-d, i)
    java.util.Arrays.fill(lf, NEG)
    lf(0) = 0.0
    var i = 1
    while (i <= n) {
      val dMax = math.min(maxLen, i)
      var m = NEG
      var d = dMax
      while (d >= 1) { // j = i - d ascending ⇔ d descending
        val j = i - d
        var w = NEG
        if (lf(j) != NEG) logp.get(word.substring(j, i)) match {
          case Some(lp) => w = lf(j) + alpha * lp
          case None =>
        }
        ew(d - 1) = w
        if (w > m) m = w
        d -= 1
      }
      if (m != NEG) {
        var s = 0.0
        d = dMax
        while (d >= 1) { if (ew(d - 1) != NEG) s += math.exp(ew(d - 1) - m); d -= 1 }
        lf(i) = m + math.log(s)
      }
      i += 1
    }
    require(lf(n) != NEG, s"unsegmentable word under char-closed vocab: $word")
    // backward: at end position, pick start j with softmax weight
    // exp(lf(j) + α·logp(w[j,end)) − lf(end)); candidates scanned in
    // ASCENDING j with a cumulative threshold against u(end), the LAST
    // valid candidate absorbing float-sum slack (Σweights ≈ 1; char
    // closure guarantees the single-char edge at j = end-1 is valid).
    // `end` strictly decreases, so each step consumes a distinct
    // uniform.
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var end = n
    while (end > 0) {
      val dMax = math.min(maxLen, end)
      var d = dMax
      while (d >= 1) {
        val j = end - d
        var w = NEG
        if (lf(j) != NEG) logp.get(word.substring(j, end)) match {
          case Some(lp) => w = lf(j) + alpha * lp
          case None =>
        }
        ew(d - 1) = w
        d -= 1
      }
      val r = u(end)
      var acc = 0.0
      var pick = -1
      d = dMax
      while (d >= 1) { // ascending j
        if (ew(d - 1) != NEG) {
          pick = end - d // latest valid candidate so far = slack absorber
          acc += math.exp(ew(d - 1) - lf(end))
          if (r < acc) d = 0 // break: keep this pick
        }
        d -= 1
      }
      out += word.substring(pick, end)
      end = pick
    }
    out.reverse.toSeq
  }

  /** Corpus-level sampled tokenization — [[tokenize]]'s schema
    * (doc_id, word_idx, pos, piece) with the Viterbi argmax replaced
    * by one α-lattice draw per word occurrence, keyed by `seed` (use
    * the epoch number: each epoch is a fresh deterministic rendering).
    */
  def sampleTokenize(
      docs: DataFrame, model: UnigramModel, alpha: Double, seed: Long,
      maxLen: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.logp)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val lp = bc.value
        text.split(" ").iterator.filter(_.nonEmpty).zipWithIndex.flatMap {
          case (w, wi) =>
            sampleSegment(w, lp, maxLen, alpha,
              i => PqOps.md5Dyadic(s"sr:$seed:$id:$wi:$i") + 0.5)
              .iterator.zipWithIndex.map { case (p, pi) => (id, wi.toLong, pi.toLong, p) }
        }
      }
      .toDF("doc_id", "word_idx", "pos", "piece")
  }

  /** Tokenize a corpus with a trained model: one row per piece —
    * (doc_id, word_idx, pos, piece). `word_idx` is the word's index in
    * the whitespace split (empty tokens skipped, matching
    * [[wordFreq]]), `pos` the piece's index inside the word. Typed
    * map — per-row Viterbi is the documented imperative case.
    */
  def tokenize(docs: DataFrame, model: UnigramModel, maxLen: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.logp)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val lp = bc.value
        text.split(" ").iterator.filter(_.nonEmpty).zipWithIndex.flatMap {
          case (w, wi) =>
            viterbi(w, lp, maxLen).getOrElse(
              throw new IllegalStateException(s"unsegmentable word: $w"))
              .iterator.zipWithIndex.map { case (p, pi) => (id, wi.toLong, pi.toLong, p) }
        }
      }
      .toDF("doc_id", "word_idx", "pos", "piece")
  }

  val all: Seq[QueryDef] = Seq(

    // Trained-tokenizer application over the corpus. The learned vocab
    // is engine-only (float EM over substring counts) — the OracleDump
    // scheme applies: the exploded segmentation is the dump, and DuckDB
    // re-derives the per-doc aggregation AND independently re-verifies
    // every word's reconstruction against the RAW text (concatenating
    // each word's pieces in pos order and comparing to the whitespace
    // split of documents.text) — so a dump inconsistent with the corpus
    // cannot hash-match. Spark computes the same aggregates from its
    // in-memory segmentation, never reading the dump back.
    QueryDef(
      "q_unigram_tokenize",
      s"""WITH seg AS (SELECT * FROM read_parquet('${OracleDump.path("unigram_tokens")}')),
        |ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS l
        |  FROM documents),
        |words AS (
        |  SELECT doc_id, unnest(l) AS word,
        |    CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS word_idx
        |  FROM ws),
        |rebuilt AS (
        |  SELECT doc_id, word_idx, string_agg(piece, '' ORDER BY pos) AS joined,
        |    count(*) AS n_pieces
        |  FROM seg GROUP BY doc_id, word_idx)
        |SELECT w.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(r.n_pieces) AS BIGINT) AS n_pieces,
        |  CAST(sum(CASE WHEN r.joined = w.word THEN 1 ELSE 0 END) AS BIGINT) AS n_reconstructed
        |FROM words w JOIN rebuilt r USING (doc_id, word_idx)
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // one trained vocab per session, shared with q_unigram_sample
      // (TrainedCache: the model is a driver-side Map, so every
      // consumer — dump included — reads the identical value)
      val model = TrainedCache.getOrTrain("unigram_lm_v800", d)(
        train(docs, vocabSize = 800, maxLen = 4,
          seedSize = 2000, emIters = 2, pruneFrac = 0.5)._1)
      // spread the per-row Viterbi render + word explode (r16,
      // Tables.spreadCompute) — per-doc exact-count aggregation
      // downstream is partition-invariant
      val spread = Tables.spreadCompute(docs, col("doc_id"))
      val seg = tokenize(spread, model, maxLen = 4)
      OracleDump.write(seg, d, "unigram_tokens")
      // reconstruction recomputed ENGINE-side from the in-memory
      // segmentation (not the dump): concat pieces per word and compare
      // to the word from the raw split
      val words = spread
        .select(col("doc_id"), posexplode(filter(split(col("text"), " "), length(_) > 0))
          .as(Seq("word_idx", "word")))
        .withColumn("word_idx", col("word_idx").cast(LongType))
      val rebuilt = seg.groupBy("doc_id", "word_idx")
        .agg(
          concat_ws("", sort_array(collect_list(struct(col("pos"), col("piece"))))
            .getField("piece")).as("joined"),
          count(lit(1)).as("n_pieces"))
      words.join(rebuilt, Seq("doc_id", "word_idx"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).cast(LongType).as("n_words"),
          sum(col("n_pieces")).cast(LongType).as("n_pieces"),
          sum(when(col("joined") === col("word"), 1L).otherwise(0L))
            .cast(LongType).as("n_reconstructed"))
        .orderBy("doc_id")
    },

    // Subword-regularization sampling (one α-lattice draw per word,
    // epoch-seeded). Same OracleDump scheme as q_unigram_tokenize —
    // the sampled segmentation is the dump and DuckDB independently
    // re-verifies every word's reconstruction against the raw text,
    // so WHATEVER segmentation was drawn, a dump inconsistent with
    // the corpus cannot hash-match. The sampled rendering costs more
    // pieces than the Viterbi argmax by construction (suboptimal
    // splits get probability mass); the spec pins the distributional
    // properties the hash can't (exact lattice posterior, α-sharpening,
    // seed determinism).
    QueryDef(
      "q_unigram_sample",
      s"""WITH seg AS (SELECT * FROM read_parquet('${OracleDump.path("unigram_sample_tokens")}')),
        |ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS l
        |  FROM documents),
        |words AS (
        |  SELECT doc_id, unnest(l) AS word,
        |    CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS word_idx
        |  FROM ws),
        |rebuilt AS (
        |  SELECT doc_id, word_idx, string_agg(piece, '' ORDER BY pos) AS joined,
        |    count(*) AS n_pieces
        |  FROM seg GROUP BY doc_id, word_idx)
        |SELECT w.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(r.n_pieces) AS BIGINT) AS n_pieces,
        |  CAST(sum(CASE WHEN r.joined = w.word THEN 1 ELSE 0 END) AS BIGINT) AS n_reconstructed
        |FROM words w JOIN rebuilt r USING (doc_id, word_idx)
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // SAME trained artifact as q_unigram_tokenize (TrainedCache):
      // the two queries are the argmax and the sampled rendering of
      // one tokenizer, trained once per session — the r9 verdict's
      // shared-artifact convention for in-query training
      val model = TrainedCache.getOrTrain("unigram_lm_v800", d)(
        train(docs, vocabSize = 800, maxLen = 4,
          seedSize = 2000, emIters = 2, pruneFrac = 0.5)._1)
      // spread the α-lattice sampling render (r16, the q_unigram_tokenize
      // rationale; draws are row-local md5-dyadic, partition-invariant
      // by construction)
      val spread = Tables.spreadCompute(docs, col("doc_id"))
      val seg = sampleTokenize(spread, model, alpha = 0.3, seed = 1L, maxLen = 4)
      OracleDump.write(seg, d, "unigram_sample_tokens")
      val words = spread
        .select(col("doc_id"), posexplode(filter(split(col("text"), " "), length(_) > 0))
          .as(Seq("word_idx", "word")))
        .withColumn("word_idx", col("word_idx").cast(LongType))
      val rebuilt = seg.groupBy("doc_id", "word_idx")
        .agg(
          concat_ws("", sort_array(collect_list(struct(col("pos"), col("piece"))))
            .getField("piece")).as("joined"),
          count(lit(1)).as("n_pieces"))
      words.join(rebuilt, Seq("doc_id", "word_idx"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).cast(LongType).as("n_words"),
          sum(col("n_pieces")).cast(LongType).as("n_pieces"),
          sum(when(col("joined") === col("word"), 1L).otherwise(0L))
            .cast(LongType).as("n_reconstructed"))
        .orderBy("doc_id")
    })
}
