package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{PretrainExportOps, UnigramLmOps}

/** INCREMENTAL pretraining export — the composed flagship chain
  * (quality → near-dup dedup → pinned-tokenizer rendering → packed
  * offsets → striped shards) as a GROWING pipeline. The reference's
  * defining processing model is incremental (watermark + merge,
  * `stg_readings.sql:32-38` re-reads only new partitions); this module
  * applies that model to the training-data chain: a new document batch
  * is quality-gated, probed against the persisted [[DedupIndex]]
  * (O(increment + matched buckets), never O(corpus)), rendered with
  * the PINNED [[TokenizerStore]] version (bit-exact reload), packed
  * with offsets CONTINUING from the stored token/row totals, and
  * appended to the shard table in one atomic [[TxTable]] commit —
  * never re-deriving the existing corpus.
  *
  * Layout under `root/`:
  *   - `dedup/`     — [[DedupIndex]] band table (its own pinned geometry)
  *   - `tokenizer/` — [[TokenizerStore]] unigram versions
  *   - `shards/`    — TxTable of packed rows (doc_id, n_words,
  *     n_tokens, n_rec, start_off, window_id, off_in_window),
  *     PARTITIONED BY shard (stripe id)
  *   - `_graft_export_params` — budget / stripe count / maxLen /
  *     pinned tokenizer version, written once at [[init]] and refused
  *     on mismatch (the [[DedupIndex]] geometry-pinning discipline:
  *     a different budget or vocabulary is a DIFFERENT export).
  *
  * Tokenizer pinning: [[init]] trains once and pins that store
  * version for the export's whole life — every append renders with
  * [[TokenizerStore.loadUnigramAt]] at the pinned version, so rows
  * packed a year apart carry the same vocabulary (mixed-vocabulary
  * shard tables are silently corrupt training data).
  * [[refreshTokenizer]] is the upgrade path: warm-start retraining
  * ([[UnigramLmOps.train]]'s `resume` — stored pieces keep their mass,
  * new characters enter at the floor) commits version N+1 for FUTURE
  * exports to pin; THIS export's renderings are unchanged by
  * construction.
  *
  * Equivalence contract (spec-pinned): with batches arriving in
  * doc_id order (append-only ids — the reference's monotone ingest
  * key) and duplicate pairs not straddling [[DedupIndex]]'s greedy
  * semantics edges, incremental appends produce EXACTLY the shard
  * table of a single one-shot append of the union — same rows, same
  * offsets, same stripe assignment, same checksums.
  *
  * Replay idempotence: each stage is individually replay-safe
  * (DedupIndex re-ingest re-derives identical verdicts and appends no
  * bands; the shard append anti-joins stored doc_ids), so a crash
  * BETWEEN the dedup commit and the shard commit converges on replay —
  * re-running the same append finishes the missing half and a second
  * replay is a pure no-op.
  *
  * 100 TB shape: every stage is its operator's proven scale path —
  * map-shaped quality scan, bucket-prefiltered index probe, broadcast
  * vocab rendering, bucketed prefix sums with O(1) driver base
  * counters (one bounded aggregate over the stored table), one hash
  * exchange on the stripe id per append.
  */
object PretrainExport {

  final case class Params(
      windowBudget: Long = 256L,
      stripeShards: Long = 8L,
      maxLen: Int = 4,
      dedup: DedupIndex.Params = DedupIndex.Params())

  final case class AppendStats(
      docsIn: Long, qualityKept: Long, accepted: Long, appended: Long)

  private def dedupRoot(root: String) = s"$root/dedup"
  private def tokRoot(root: String) = s"$root/tokenizer"
  private def shardsRoot(root: String) = s"$root/shards"

  /** Pinned parameters beside the tables — written once at init,
    * mismatches refused loudly (the DedupIndex pinParams discipline). */
  private def paramsPath(root: String) =
    new org.apache.hadoop.fs.Path(root, "_graft_export_params")

  private def writeParams(
      spark: SparkSession, root: String, p: Params, tokVersion: Long): Unit = {
    val path = paramsPath(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(path),
      s"export at $root is already initialized (params are immutable — " +
        "a different budget/stripe/vocabulary is a new export)")
    // the dedup geometry is part of the pinned identity: append
    // reconstructs Params from THIS file, so an unserialized field
    // would silently revert every append to default band geometry
    val content = s"budget=${p.windowBudget},stripes=${p.stripeShards}," +
      s"maxLen=${p.maxLen},tokVersion=$tokVersion," +
      s"dedupN=${p.dedup.n},dedupK=${p.dedup.k}," +
      s"dedupRowsPerBand=${p.dedup.rowsPerBand}," +
      s"dedupThreshold=${p.dedup.threshold},dedupMaxBucket=${p.dedup.maxBucket}"
    require(PinFile.writeAtomic(spark, path, content),
      s"export at $root was initialized concurrently (params are immutable)")
  }

  private[pipeline] def readParams(
      spark: SparkSession, root: String): (Params, Long) = {
    val path = paramsPath(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"export at $root is not initialized — call init first")
    val kv = PinFile.readKv(spark, path)
    val dd = DedupIndex.Params() // defaults only for pre-r12 pins, which never carried geometry
    val dedup = DedupIndex.Params(
      n = kv.get("dedupN").map(_.toInt).getOrElse(dd.n),
      k = kv.get("dedupK").map(_.toInt).getOrElse(dd.k),
      rowsPerBand = kv.get("dedupRowsPerBand").map(_.toInt).getOrElse(dd.rowsPerBand),
      threshold = kv.get("dedupThreshold").map(_.toDouble).getOrElse(dd.threshold),
      maxBucket = kv.get("dedupMaxBucket").map(_.toInt).getOrElse(dd.maxBucket))
    (Params(kv("budget").toLong, kv("stripes").toLong, kv("maxLen").toInt, dedup),
      kv("tokVersion").toLong)
  }

  /** Create the export: train the tokenizer on `tokenizerCorpus` (the
    * seed corpus — the vocabulary an export ships with is a training
    * decision made once, up front), commit it as store version 1, and
    * pin that version. Returns the pinned version. No documents are
    * ingested — [[append]] is the only ingest path, so the one-shot
    * twin of N appends is literally one append of the union. */
  def init(
      spark: SparkSession, root: String, tokenizerCorpus: DataFrame,
      p: Params = Params(), vocabSize: Int = 800, seedSize: Int = 2000,
      emIters: Int = 2, pruneFrac: Double = 0.5): Long = {
    val model = UnigramLmOps.train(tokenizerCorpus, vocabSize = vocabSize,
      maxLen = p.maxLen, seedSize = seedSize, emIters = emIters,
      pruneFrac = pruneFrac)._1
    initPinned(spark, root, model, p)
  }

  /** [[init]] with an ALREADY-trained model — the path for callers
    * that share one session-trained vocabulary across several exports
    * (or re-pin a model trained elsewhere): commit it as store
    * version 1 and pin. Same immutability contract as init. */
  def initPinned(
      spark: SparkSession, root: String, model: UnigramLmOps.UnigramModel,
      p: Params = Params()): Long = {
    TokenizerStore.saveUnigram(spark, tokRoot(root), model)
    val v = TxTable.latest(spark, tokRoot(root))._1
    writeParams(spark, root, p, v)
    v
  }

  /** The pinned model every append renders with (bit-exact reload at
    * the pinned version — later [[refreshTokenizer]] commits never
    * touch this export's renderings). */
  def pinnedModel(spark: SparkSession, root: String): UnigramLmOps.UnigramModel = {
    val (_, v) = readParams(spark, root)
    TokenizerStore.loadUnigramAt(spark, tokRoot(root), v)
  }

  /** Warm-start upgrade path: retrain from the LATEST stored model on
    * `corpus` ([[UnigramLmOps.train]] `resume` — the spec-pinned
    * identity when the model has converged and the alphabet is
    * unchanged), commit as version N+1, and return it. This export
    * keeps rendering at its pinned version; the new version is for the
    * NEXT export root to pin at its init. */
  def refreshTokenizer(
      spark: SparkSession, root: String, corpus: DataFrame,
      vocabSize: Int = 800, seedSize: Int = 2000, emIters: Int = 2,
      pruneFrac: Double = 0.5): Long = {
    val (p, _) = readParams(spark, root)
    val stored = TokenizerStore.loadUnigram(spark, tokRoot(root))
    val model = UnigramLmOps.train(corpus, vocabSize = vocabSize,
      maxLen = p.maxLen, seedSize = seedSize, emIters = emIters,
      pruneFrac = pruneFrac, resume = Some(stored))._1
    TokenizerStore.saveUnigram(spark, tokRoot(root), model)
    TxTable.latest(spark, tokRoot(root))._1
  }

  /** Crash-consistent O(increment) base counters. The offset
    * continuation needs (sum tokens, row count, max doc_id) over the
    * STORED table; re-aggregating the table per append is the one
    * O(corpus) term the incremental pipeline had. The checkpoint makes
    * it O(increment): after each commit the updated counters are
    * written create-once under `_graft_export_counters/<version>.ck`
    * (the TxTable-manifest discipline — never an in-place overwrite
    * that could tear), and the next append CATCHES UP from the newest
    * checkpoint at-or-below the current table version by aggregating
    * only the dirs committed since ([[TxTable.readSince]]). A crash
    * between the shard commit and the checkpoint write just widens the
    * catch-up window by one version; a compaction (which breaks the
    * dir-level delta) falls back to the full re-derive and
    * re-checkpoints. The counters are a CACHE of the stored table,
    * never a side source of truth — any missing/unparseable state
    * degrades to the derived aggregate, bit-identical by construction.
    */
  private def countersDir(root: String) =
    new org.apache.hadoop.fs.Path(root, "_graft_export_counters")

  private def writeCounters(spark: SparkSession, root: String,
      version: Long, tokens: Long, rows: Long, maxId: Long): Unit = {
    val dir = countersDir(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val p = new org.apache.hadoop.fs.Path(dir, f"$version%08d.ck")
    // create-once: a replayed append recomputes identical counters, so
    // losing the race to an earlier writer of the same version is fine
    PinFile.writeAtomic(spark, p,
      s"version=$version,tokens=$tokens,rows=$rows,maxId=$maxId")
    // superseded checkpoints are dead weight, not history — best-effort
    // reap; skip unparseable names the way baseCounters' reader does (a
    // foreign .ck file must not fail an append whose commit succeeded)
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith(".ck") &&
          scala.util.Try(n.stripSuffix(".ck").toLong).toOption.exists(_ < version))
        fs.delete(st.getPath, false)
    }
  }

  /** (tokens, rows, maxId) of the shard table at `version`, via the
    * newest usable checkpoint plus a readSince catch-up. */
  private def baseCounters(spark: SparkSession, root: String,
      version: Long): (Long, Long, Option[Long]) = {
    if (version == 0L) return (0L, 0L, None)
    val sRoot = shardsRoot(root)
    val dir = countersDir(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ck: Option[(Long, Long, Long, Long)] =
      if (!fs.exists(dir)) None
      else fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.endsWith(".ck"))
        .flatMap { p =>
          // unparseable = torn pre-atomic debris or a hand edit: skip it
          // (the cache degrades, never corrupts)
          try {
            val kv = PinFile.readKv(spark, p)
            val v = kv("version").toLong
            if (v <= version)
              Some((v, kv("tokens").toLong, kv("rows").toLong, kv("maxId").toLong))
            else None
          } catch { case scala.util.control.NonFatal(_) => None }
        }
        .sortBy(-_._1).headOption
    def fullDerive(): (Long, Long, Option[Long]) = {
      val r = TxTable.readAt(spark, sRoot, version)
        .agg(sum(col("n_tokens")), count(lit(1)), max(col("doc_id"))).collect()(0)
      (r.getLong(0), r.getLong(1), Some(r.getLong(2)))
    }
    val derived = ck match {
      case Some((v, t, rws, mx)) if v == version => (t, rws, Some(mx))
      case Some((v, t, rws, mx)) =>
        (try Right(TxTable.readSince(spark, sRoot, v, version))
         catch { case _: IllegalArgumentException => Left(()) }) match {
          case Right(Some(delta)) =>
            val d = delta.agg(sum(col("n_tokens")), count(lit(1)),
              max(col("doc_id"))).collect()(0)
            (t + d.getLong(0), rws + d.getLong(1), Some(math.max(mx, d.getLong(2))))
          case Right(None) =>
            // the window added no data dirs (manifest-only bumps):
            // the checkpointed counters still describe the table
            (t, rws, Some(mx))
          case Left(_) =>
            // a rewrite (compaction/delete) broke the dir-level delta —
            // fall back to the full aggregate and re-checkpoint
            fullDerive()
        }
      case None => fullDerive()
    }
    // checkpoint the caught-up state so the next append starts at zero
    // lag (skip when the checkpoint already sits at this version)
    if (!ck.exists(_._1 == version))
      derived._3.foreach(mx =>
        writeCounters(spark, root, version, derived._1, derived._2, mx))
    derived
  }

  /** Ingest one batch: quality gate → [[DedupIndex.ingest]] (the
    * O(increment) probe) → anti-join stored shard rows (replay guard)
    * → pinned-vocab rendering → offset-continued pack + stripe → one
    * atomic shard append. */
  def append(spark: SparkSession, root: String, docs: DataFrame): AppendStats = {
    val (p, tokVersion) = readParams(spark, root)
    val model = TokenizerStore.loadUnigramAt(spark, tokRoot(root), tokVersion)
    val docsIn = docs.count()
    // cuts on the multi-consumer frames (the repo's discipline for
    // frames driven through several actions): kept feeds the index
    // ingest, the canon join, and its own count; canon feeds a count,
    // the anti-join, and (via novel) the min-id guard, the rendering,
    // and the per-doc stats. Without the cuts the quality scan and the
    // verdict join re-executed per action. Both frames are
    // increment-sized by contract. NON-eager checkpoint + immediate
    // count(): the count is the materializing first action, so the cut
    // and the stat cost ONE job instead of two — per-job driver
    // latency, not compute, dominates increment-sized appends.
    val kept = PretrainExportOps.qualityKept(
      graft.ops.Tables.spreadCompute(docs, col("doc_id"))).localCheckpoint(false)
    val keptN = kept.count()

    val (_, dups) = DedupIndex.ingestFull(spark, dedupRoot(root), kept, p.dedup)
    // accepted = kept MINUS the duplicate set: anti-join against the
    // (bounded, usually tiny) checkpointed dup frame instead of
    // semi-join against the accepted verdicts — the broadcast build
    // side becomes the cached dup blocks rather than a shuffle re-join
    // of the whole increment (measured: the verdict-side broadcast was
    // the largest single job of an append).
    val canon = kept.join(dups.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    // one materializing job for BOTH canon stats: the accepted count
    // and the fresh-batch min id the guard below needs (was two jobs)
    val ca = canon.agg(count(lit(1)), min(col("doc_id"))).collect()(0)
    val acceptedN = ca.getLong(0)

    val sRoot = shardsRoot(root)
    val storedVersion = TxTable.latest(spark, sRoot)._1
    val hasShards = storedVersion > 0
    // base counters for the offset continuation — checkpointed +
    // readSince catch-up (O(increment)), derived from the stored table
    // whenever the cache is missing or stale (never a side counter
    // that could desync across a crash)
    val (tokenBase, rowBase, maxStored) = baseCounters(spark, root, storedVersion)
    // FRESH-BATCH FAST PATH: when min(batch) > stored max — the normal
    // id-ordered ingest — the replay anti-join is a no-op by
    // construction (the stored side pruned to doc_id >= min(batch) is
    // empty) and the append-only guard below is already proven by the
    // same comparison, so both jobs are skipped. The slow path (a
    // REPLAYED batch whose ids overlap the stored range) keeps the
    // pruned anti-join + explicit guard unchanged. maxStored comes from
    // the counter cache, which is bit-identical to the derived
    // aggregate by construction (see baseCounters).
    val mnCanon: Option[Long] = if (ca.isNullAt(1)) None else Some(ca.getLong(1))
    val freshBatch = mnCanon.isEmpty ||
      maxStored.forall(mx => mnCanon.get > mx)
    val novel =
      if (!hasShards || freshBatch) canon
      else
        // replay guard. The stored side is pruned to doc_id >= the
        // batch's min id BEFORE the anti-join — sound because canon
        // ids are all >= that min, so dropped stored ids could never
        // match — which the parquet min/max footers turn into an
        // O(increment + overlap) probe: a replayed batch reads only
        // the stripes its own id range landed in. Without the prune
        // this join re-scanned the full stored id column per append —
        // the last O(corpus) term in the loop. Eager-cut: three
        // consumers (min-id guard, rendering, per-doc stats).
        canon.join(
          TxTable.read(spark, sRoot).select("doc_id")
            .filter(col("doc_id") >= mnCanon.get),
          Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
    // the append-only id contract the incremental ≡ one-shot
    // equivalence rests on — violations corrupt offset continuity, so
    // refuse loudly instead of silently interleaving. The fresh-batch
    // path proved min(novel) = min(canon) > maxStored above; only the
    // replay path needs the post-anti-join re-check.
    if (!freshBatch) maxStored.foreach { mx =>
      val minNew = novel.agg(min(col("doc_id"))).collect()(0)
      if (!minNew.isNullAt(0))
        require(minNew.getLong(0) > mx,
          s"append violates the append-only doc_id contract: new doc " +
            s"${minNew.getLong(0)} <= stored max $mx — batches must " +
            "arrive in id order (re-ingesting old ids is a replay, " +
            "which the anti-join above already absorbs)")
    }

    val seg = UnigramLmOps.tokenize(novel, model, maxLen = p.maxLen)
    val perDoc = PretrainExportOps.perDocStats(novel, seg, "")
    val rows = PretrainExportOps.packAndStripe(
      perDoc, p.windowBudget, p.stripeShards, tokenBase, rowBase)
    val cut = rows.localCheckpoint(false)
    // ONE materializing agg gives the row count (the commit gate + the
    // row-base continuation) AND the counter-checkpoint deltas — the
    // former count-then-agg pair was two jobs over the same cut
    val d = cut.agg(count(lit(1)), sum(col("n_tokens")), max(col("doc_id"))).collect()(0)
    val n = d.getLong(0)
    if (n > 0) {
      val v = TxTable.appendCommit(spark, sRoot, cut, "shard")
      // roll the counter checkpoint forward from the increment. A crash
      // before this write only widens the next append's readSince
      // catch-up.
      writeCounters(spark, root, v, tokenBase + d.getLong(1), rowBase + n,
        math.max(maxStored.getOrElse(Long.MinValue), d.getLong(2)))
    }
    AppendStats(docsIn, keptN, acceptedN, n)
  }

  /** Per-doc artifacts signed ONCE for a multi-batch corpus — see
    * [[prepare]]. All frames are backed by eager materializations, so
    * per-append slices are lazy filters over cached blocks. */
  final case class Prepared private[pipeline] (
      docs: DataFrame, kept: DataFrame, bands: DataFrame, perDoc: DataFrame,
      params: Params, tokVersion: Long)

  /** Sign and render a multi-batch corpus ONCE: quality gate, LSH band
    * signatures, pinned-vocab rendering stats — every per-doc artifact
    * [[append]] derives is a pure function of the doc and the export's
    * pinned params, independent of index state and batch boundaries. A
    * producer landing K batches can therefore pay the heavy per-doc
    * compute once and drive [[appendPrepared]] per id-range slice; each
    * append then pays only the state-dependent work (index probe,
    * replay guard, offset-continued pack, commits). Verdicts, offsets,
    * and shard contents are IDENTICAL to K plain [[append]] calls
    * (spec-pinned — the slice of a deterministic per-doc map equals the
    * map of the slice). */
  def prepare(spark: SparkSession, root: String, docs: DataFrame): Prepared = {
    val (p, tokVersion) = readParams(spark, root)
    val model = TokenizerStore.loadUnigramAt(spark, tokRoot(root), tokVersion)
    // spread before the cut (r16, Tables.spreadCompute): the checkpoint
    // otherwise pins the scan's single-row-group layout and every
    // per-doc pass (quality, banding, rendering stats) runs one task;
    // a no-op when the incoming corpus is already session-wide
    val docsCk = graft.ops.Tables.spreadCompute(
      docs.select(col("doc_id"), col("text")), col("doc_id")).localCheckpoint(false)
    val kept = PretrainExportOps.qualityKept(docsCk) // lazy over cached blocks
    val bands = DedupIndex.bandRows(kept, p.dedup).localCheckpoint(false)
    // ONE materializing action for both cuts: the bands count evaluates
    // through docsCk's (non-eager) checkpoint and caches it en route —
    // a dedicated docsCk.count() was one extra scheduling round-trip
    bands.count()
    val seg = UnigramLmOps.tokenize(kept, model, maxLen = p.maxLen)
    val perDoc = PretrainExportOps.perDocStats(kept, seg, "").localCheckpoint(false)
    perDoc.count()
    Prepared(docsCk, kept, bands, perDoc, p, tokVersion)
  }

  /** [[append]] of the id-range slice [lo, hi] of a [[prepare]]d
    * corpus: same gates, same commits, same stats — the per-doc compute
    * is a cached-block slice instead of a recompute. The id-ordered
    * batch contract and replay idempotence carry over unchanged. */
  def appendPrepared(
      spark: SparkSession, root: String, prep: Prepared,
      lo: Long, hi: Long): AppendStats = {
    val (p, tokVersion) = readParams(spark, root)
    require(p == prep.params && tokVersion == prep.tokVersion,
      s"prepared corpus was signed under different export params — " +
        "prepare() against this root")
    val inRange = col("doc_id") >= lo && col("doc_id") <= hi
    // one cached-blocks pass for all three slice stats: raw count,
    // quality-kept count, min kept id (the quality flag re-evaluates on
    // cached rows — cheaper than a second scan job)
    val ka = graft.ops.CurationOps.withQuality(prep.docs.filter(inRange))
      .agg(count(lit(1)),
        count(when(col("keep"), lit(1))),
        min(when(col("keep"), col("doc_id")))).collect()(0)
    val docsIn = ka.getLong(0)
    val keptN = ka.getLong(1)
    val mnKept = if (ka.isNullAt(2)) None else Some(ka.getLong(2))
    val kr = prep.kept.filter(inRange)

    val (_, dups) = DedupIndex.ingestFull(
      spark, dedupRoot(root), kr, p.dedup,
      precomputedBands = Some(prep.bands.filter(inRange)),
      // free upper bound on the slice's band rows (≤ k/rowsPerBand
      // bands per kept doc) — lets ingestFull skip its band-row count
      // job; regime choice is performance-only (filterToKeySet doc)
      precomputedBandBound = keptN * (p.dedup.k / p.dedup.rowsPerBand))
    val nDups = dups.count() // bounded checkpointed frame
    val acceptedN = keptN - nDups

    val sRoot = shardsRoot(root)
    val storedVersion = TxTable.latest(spark, sRoot)._1
    val hasShards = storedVersion > 0
    val (tokenBase, rowBase, maxStored) = baseCounters(spark, root, storedVersion)
    // fresh-batch check on min(kept) — a lower bound of min(novel), so
    // passing it proves the guard; failing it just takes the replay
    // path (same conservative direction as append's canon-min check)
    val fresh = mnKept.isEmpty || maxStored.forall(mx => mnKept.get > mx)
    val perDocR = prep.perDoc.filter(inRange)
      .join(dups.select("doc_id"), Seq("doc_id"), "left_anti")
    val novelStats =
      if (!hasShards || fresh) perDocR
      else
        perDocR.join(
          TxTable.read(spark, sRoot).select("doc_id")
            .filter(col("doc_id") >= mnKept.get),
          Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
    if (!fresh) maxStored.foreach { mx =>
      val minNew = novelStats.agg(min(col("doc_id"))).collect()(0)
      if (!minNew.isNullAt(0))
        require(minNew.getLong(0) > mx,
          s"append violates the append-only doc_id contract: new doc " +
            s"${minNew.getLong(0)} <= stored max $mx")
    }
    val rows = PretrainExportOps.packAndStripe(
      novelStats, p.windowBudget, p.stripeShards, tokenBase, rowBase)
    val cut = rows.localCheckpoint(false)
    // one agg = commit gate + row base + counter deltas (see append)
    val d = cut.agg(count(lit(1)), sum(col("n_tokens")), max(col("doc_id"))).collect()(0)
    val n = d.getLong(0)
    if (n > 0) {
      val v = TxTable.appendCommit(spark, sRoot, cut, "shard")
      writeCounters(spark, root, v, tokenBase + d.getLong(1), rowBase + n,
        math.max(maxStored.getOrElse(Long.MinValue), d.getLong(2)))
    }
    AppendStats(docsIn, keptN, acceptedN, n)
  }

  /** Streaming front end: a file-source stream of (doc_id, text)
    * batches driven through [[append]] per micro-batch (AvailableNow)
    * — raw landed files to training-ready shards with no batch driver
    * in between. The export must be [[init]]'d first (the vocabulary
    * is a training decision, not a stream side effect).
    *
    * Delivery semantics compose from the parts, nothing new is
    * invented here:
    *  - the file source's checkpoint gives at-least-once batches;
    *    [[append]]'s replay guard (anti-join + derived counters) turns
    *    replays into no-ops, so the composition is exactly-once into
    *    the shard table — the same argument as
    *    [[CorpusIngest.runJsonlAvailableNow]];
    *  - a crash between the dedup commit and the shard commit inside a
    *    batch converges on the replay (PretrainExportPipelineSpec);
    *  - the append-only doc_id contract now binds the PRODUCER: the
    *    file source picks up new files in landing (modification-time)
    *    order, so a producer that lands monotone-id files in sequence
    *    (the reference's monotone ingest key) delivers monotone
    *    batches here, and a violation is refused loudly mid-stream
    *    rather than corrupting offsets.
    * Downstream, a training job tails the result with
    * [[newShardsSince]] — the full landed-bytes → packed-windows loop
    * with every hop O(increment).
    */
  def runAvailableNow(
      spark: SparkSession, sourceDir: String,
      sourceSchema: org.apache.spark.sql.types.StructType,
      root: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      maintainThreshold: Option[Double] = None,
      vacuumEveryFirings: Option[Int] = None,
      vacuumRetainMs: Long = 10L * 60 * 1000): Unit = {
    val reader = spark.readStream.schema(sourceSchema)
    val src = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(sourceDir)
    // level promotions run OFF the trigger path (r15): a promotion
    // merges ~fanout^k periods (measured 36–58 s at 16M docs), and
    // inline it blocked the trigger and stalled ingest (§16e/§16g
    // spikes). One daemon thread polls [[promotePending]] between
    // triggers; its publishes rebase over the stream's appends on the
    // manifest CAS, and it never touches the level-0 runs the
    // trigger-path maintain owns.
    val promoStop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val promoter = new Thread(() => {
      while (!promoStop.get()) {
        try { promotePending(spark, root); () }
        catch {
          // a lost source run (e.g. a vacuum sweeping a superseded dir
          // mid-merge) aborts THIS promotion attempt; the next poll
          // re-reads fresh state. Fatal errors propagate.
          case scala.util.control.NonFatal(e) =>
            println(s"[export-promoter] promotion attempt failed (will retry): $e")
        }
        Thread.sleep(2000)
      }
    }, "graft-export-promoter")
    promoter.setDaemon(true)
    if (maintainThreshold.isDefined) promoter.start()
    var firingsSinceVacuum = 0
    val q = src.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // cut the micro-batch once: append drives several actions over
        // its input (stats count, quality checkpoint), and an un-cut
        // foreachBatch frame re-reads the landed files per action
        // (measured: numInputRows = 2× the landed rows per trigger)
        append(batch.sparkSession, root,
          batch.select("doc_id", "text").localCheckpoint(false))
        // in-stream maintenance (r14): without it a long-running stream
        // accretes one dir per trigger and per-trigger wall grows
        // linearly in the accumulated dir count (measured: 16 triggers,
        // 21.8 → 37.6 s — the §14e fragmentation slope inside the
        // stream). BOUNDED to the level-0 merge (r15, maxMergeLevel=0):
        // the firing's cost is O(appends since the last firing) by
        // construction, never a level promotion. Polled consumers
        // re-baseline across it by contract.
        maintainThreshold.foreach { th =>
          maintain(batch.sparkSession, root, th, maxMergeLevel = 0)
          // opt-in retention-window vacuum: without it a long-running
          // stream's superseded run dirs accrete unboundedly (~2× the
          // live footprint per promotion wave). The retention window
          // still honors readers — a poller pinned on a version
          // younger than vacuumRetainMs keeps its files — so this is
          // the bounded-disk configuration for a stream whose readers
          // are known to tail (the feed contract); deployments with
          // long-pinned readers leave it off and schedule
          // [[TxTable.vacuum]] out-of-band as before.
          firingsSinceVacuum += 1
          vacuumEveryFirings.foreach { n =>
            if (firingsSinceVacuum >= n) {
              firingsSinceVacuum = 0
              TxTable.vacuum(batch.sparkSession, shardsRoot(root), retainMs = vacuumRetainMs)
              TxTable.vacuum(batch.sparkSession, dedupRoot(root), retainMs = vacuumRetainMs)
            }
          }
        }
        ()
      }
      .start()
    try q.awaitTermination()
    finally {
      promoStop.set(true)
      promoter.join(300000)
    }
    // an AvailableNow stream is BOUNDED: finish any promotions its
    // appends earned so the end state matches what a batch owner's
    // full maintain would leave (pure layout — data identical either
    // way; spec-pinned)
    if (maintainThreshold.isDefined) { promotePending(spark, root); () }
  }

  /** The packed shard table (all rows, all stripes). */
  def shardTable(spark: SparkSession, root: String): DataFrame =
    shardCols(TxTable.read(spark, shardsRoot(root)))

  private def shardCols(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("n_words"), col("n_tokens"), col("n_rec"),
      col("start_off"), col("window_id"), col("off_in_window"),
      col("shard").cast("long").as("shard"))

  /** The shard table's committed [[TxTable]] version — the watermark a
    * training job polls against (0 = nothing committed yet). Every
    * successful [[append]] with surviving rows bumps it by exactly one;
    * the version is read from the manifest log (two file listings),
    * never invented, so read-your-writes is one [[shardVersion]] call
    * after the append returns. */
  def shardVersion(spark: SparkSession, root: String): Long =
    TxTable.latest(spark, shardsRoot(root))._1

  /** The shard table AS OF a committed version — a whole-version
    * snapshot (one atomic manifest, never a mix of versions), the same
    * staleness contract [[ServeCache]] gives the sensor gold tier. */
  def shardTableAt(spark: SparkSession, root: String, version: Long): DataFrame =
    shardCols(TxTable.readAt(spark, shardsRoot(root), version))

  /** Incremental poll: the rows appended AFTER `sinceVersion`, pinned at
    * the CURRENT committed version — `(that version, new rows)`, or None
    * when the table hasn't advanced. Cost is O(increment): the shard
    * table only ever grows by blind appends ([[append]] commits through
    * [[TxTable.appendCommit]]), so the delta is exactly the data dirs
    * added since `sinceVersion` ([[TxTable.readSince]]) — a consumer
    * tailing a 100 TB export reads the new stripes, never the corpus.
    * A compaction in the window breaks the dir-level delta and is
    * REFUSED loudly by readSince (re-baseline from [[shardTableAt]]).
    *
    * snapshot(since) ∪ delta ≡ snapshot(returned version) — spec-pinned
    * in ShardFeedSpec. */
  def newShardsSince(
      spark: SparkSession, root: String, sinceVersion: Long): Option[(Long, DataFrame)] = {
    val v = shardVersion(spark, root)
    if (v <= sinceVersion) None
    else TxTable.readSince(spark, shardsRoot(root), sinceVersion, v)
      .map(df => (v, shardCols(df)))
  }

  /** The striped manifest over the CURRENT table — the same aggregate
    * the one-shot flagship query emits ([[PretrainExportOps.shardSummary]]),
    * so incremental state is checkable against the oracle-green shape. */
  def manifest(spark: SparkSession, root: String): DataFrame =
    PretrainExportOps.shardSummary(shardTable(spark, root))

  /** Table maintenance for a LONG-RUNNING export — the fix for the
    * measured append-fragmentation slope (SCALE.md §14e: every blind
    * append adds one dir per touched partition to the shard AND band
    * tables, and per-append wall grows ~linearly in the accumulated
    * dir count as listings/scans fan out). When either table's
    * [[TxTable.level0Fragmentation]] crosses `maxDirsPerPartition`, run one
    * LEVELED compaction step set ([[TxTable.compactLeveled]]): merge
    * only the level-0 append runs landed since the last firing into a
    * doc_id-clustered level-1 run, promoting a level up only when it
    * fills (fanout). This replaces the r13 full-table Z-order rewrite,
    * whose measured cost was O(corpus) per firing (11–13 s @2M docs →
    * 36–56 s @8M — the one named 100 TB scale-killer): a firing now
    * reads and writes only the period's appends, the runs stay
    * id-clustered so the replay anti-join's `doc_id >= min(batch)`
    * footer prune stays tight (id-ordered ingest makes the runs
    * id-DISJOINT, so pruning is per-run exact), and the full-corpus
    * merge survives only as the rare top-level promotion. Returns
    * whether anything was compacted.
    *
    * Interactions: the counter checkpoint is caught up BEFORE the
    * compaction (O(delta)) and RE-HOMED to the compacted version after
    * — compaction is pure layout, the totals carry over verbatim — so
    * the next append never pays the O(corpus) full re-derive the
    * broken dir-level delta would otherwise force; [[newShardsSince]]
    * pollers re-baseline (the loud refusal is the API); replay
    * verdicts and offsets are unchanged. Run [[TxTable.vacuum]]
    * afterwards (outside any reader's retention window) to reclaim the
    * merged dirs. */
  def maintain(spark: SparkSession, root: String,
      maxDirsPerPartition: Double = 8.0,
      maxMergeLevel: Int = Int.MaxValue): Boolean = {
    // the trigger compares LEVEL-0 (uncompacted-append) runs per
    // partition, not total runs: leveling keeps a structural floor of
    // ~one run per accumulated level, so a total-dirs threshold would
    // degenerate into firing on every append once two levels exist —
    // this metric returns to zero after each firing, keeping the
    // threshold's meaning "this many appends since the last firing".
    // `maxMergeLevel = 0` is the BOUNDED-latency mode a stream's
    // trigger path runs (r15): only the routine level-0 merge — cost
    // O(appends since the last firing) — with level promotions left
    // to [[promotePending]] (an out-of-band owner or the promotion
    // thread [[runAvailableNow]] starts).
    var compacted = false
    if (TxTable.level0Fragmentation(spark, shardsRoot(root)) > maxDirsPerPartition) {
      val vPre = TxTable.latest(spark, shardsRoot(root))._1
      val (tok, rws, mx) = baseCounters(spark, root, vPre)
      if (TxTable.compactLeveled(spark, shardsRoot(root), "shard", Seq("doc_id"),
          maxMergeLevel = maxMergeLevel) > 0) {
        val vPost = TxTable.latest(spark, shardsRoot(root))._1
        // re-home the counters verbatim: compaction is pure layout, so
        // the totals carry. Valid because maintain may not race
        // APPENDS (the pre-existing single-appender contract — the
        // trigger path calls it from the same thread as append); a
        // concurrent PROMOTION ([[promotePending]]'s thread) publishing
        // inside (vPre, vPost] is content-neutral and leaves the
        // totals exact.
        mx.foreach(m => writeCounters(spark, root, vPost, tok, rws, m))
        compacted = true
      }
    }
    if (TxTable.level0Fragmentation(spark, dedupRoot(root)) > maxDirsPerPartition)
      compacted |= DedupIndex.compact(spark, dedupRoot(root), maxMergeLevel = maxMergeLevel)
    compacted
  }

  /** Run any PENDING level promotions (levels >= 1 that reached
    * fanout) on the shard and dedup tables — the out-of-band half of
    * leveled maintenance (r15). A promotion merges ~fanout^k periods
    * (measured 36–58 s at 16M docs), which is exactly the work that
    * must NOT run on a stream's trigger path; [[runAvailableNow]]
    * starts a daemon thread that calls this between triggers, and a
    * batch deployment can run it from any separate process.
    *
    * Safe to race the stream's appends and its trigger-path level-0
    * merges: promotions touch only level >= 1 runs (disjoint from the
    * trigger's level-0 set), and [[TxTable.compactLeveled]]'s publish
    * rebases over concurrent appends on a lost CAS. After a shard
    * promotion the counter checkpoint is re-derived at the new
    * version — promotions break the dir-level delta, and without a
    * fresh checkpoint the NEXT append would pay the O(corpus)
    * re-derive on the trigger path; paying it here keeps it
    * off-latency (there remains a benign race window — an append that
    * reads its counters after the promotion published but before this
    * re-checkpoint lands pays one re-derive — bounded at once per
    * promotion, worst case).
    *
    * Returns whether any promotion ran.
    */
  def promotePending(spark: SparkSession, root: String, fanout: Int = 8): Boolean = {
    val sRoot = shardsRoot(root)
    var did = false
    if (TxTable.compactLeveled(spark, sRoot, "shard", Seq("doc_id"),
        fanout = fanout, minMergeLevel = 1) > 0) {
      baseCounters(spark, root, TxTable.latest(spark, sRoot)._1)
      did = true
    }
    did |= DedupIndex.compact(spark, dedupRoot(root), minMergeLevel = 1)
    did
  }
}
