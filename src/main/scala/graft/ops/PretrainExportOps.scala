package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.pipeline.TokenizerStore

/** THE pretraining-export flagship — the end-to-end artifact a
  * training-data team actually ships, as ONE oracle-checked key:
  *
  *   quality filter → MinHash near-dup dedup (canonical survivors) →
  *   TokenizerStore-PINNED unigram rendering → packed context windows
  *   (distributed prefix sum, budget 256) → striped shard manifest
  *   with per-shard xor-fold checksums.
  *
  * Every stage is an operator proven by its own oracle key
  * ([[CurationOps]] q_quality_filter, [[DedupOps]] q_dedup_groups,
  * [[UnigramLmOps]] q_unigram_tokenize, [[PackOps]] q_seq_pack,
  * [[ExportOps]] q_shard_stripe); what THIS key verifies is the
  * COMPOSITION — a stage wired out of order (tokenizing before dedup,
  * packing non-canonical docs, sharding before packing) cannot hide
  * between green unit oracles, because DuckDB re-derives the whole
  * chain from the raw tables and the reconstruction-re-verifying
  * token dump, down to a per-shard checksum over every packed row.
  *
  * Oracle scheme: the trained vocab is the engine-only value (float
  * EM), so the token stream over the CURATED corpus is the
  * [[OracleDump]]; DuckDB independently (a) rebuilds the curated
  * doc set from the raw documents table, (b) re-verifies every word's
  * reconstruction from the dumped pieces against that text (a dump
  * inconsistent with the corpus — or containing a non-canonical doc —
  * breaks the join/checksum), (c) recomputes token counts, pack
  * offsets, window ids, stripe assignment and checksums from scratch.
  *
  * The tokenizer is pinned through [[TokenizerStore]]: trained once
  * per session (the [[TrainedCache]] shared artifact — the SAME vocab
  * q_unigram_tokenize/q_unigram_sample apply), committed to the
  * versioned store, and the rendering below reads the RELOADED copy
  * (bit-exact reload is TokenizerStoreSpec's contract) — the
  * what-version-tokenized-this-export question has a durable answer.
  *
  * 100 TB shape: every stage is the proven scale path of its operator
  * — map-shaped quality scan, banded LSH + log-rounds CC, broadcast
  * vocab rendering, distributed prefix sums (never a single-partition
  * window), one hash exchange on the stripe id.
  */
object PretrainExportOps {

  private val windowBudget = 256L
  private val stripeShards = 8L

  /** Deterministic per-corpus store key: basename for readability plus
    * a short hash of the FULL canonical path — two corpus dirs sharing
    * a basename must not collide in one store root (they'd alternate
    * committing a new version per flip, unbounded churn). */
  private def storeKey(d: String): String = {
    val canonical = new java.io.File(d).getCanonicalPath
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    s"${new java.io.File(d).getName}_$h"
  }

  /** Session-pinned tokenizer: train once (shared artifact), commit to
    * the versioned store, hand back the reloaded copy.
    *
    * The store root is DETERMINISTIC per sfDir (no per-session UUID —
    * the old scheme orphaned a fresh store directory every JVM run):
    * repeated sessions re-read the same versioned store, and a new
    * version is committed ONLY when the freshly trained model differs
    * from the stored head (training is deterministic per corpus, so in
    * steady state the store stays at one version; a corpus change is
    * the upgrade path and gets version N+1, TokenizerStore's contract).
    */
  def pinnedTokenizer(s: SparkSession, d: String): UnigramLmOps.UnigramModel =
    TrainedCache.getOrTrain("unigram_lm_v800_pinned", d) {
      val trained = TrainedCache.getOrTrain("unigram_lm_v800", d)(
        UnigramLmOps.train(Tables.documents(s, d), vocabSize = 800, maxLen = 4,
          seedSize = 2000, emIters = 2, pruneFrac = 0.5)._1)
      val root = s"/tmp/graft_tokstore/pretrain_${storeKey(d)}"
      val stored =
        if (graft.pipeline.TxTable.latest(s, root)._1 > 0)
          Some(TokenizerStore.loadUnigram(s, root))
        else None
      if (!stored.contains(trained)) TokenizerStore.saveUnigram(s, root, trained)
      TokenizerStore.loadUnigram(s, root)
    }

  /** Quality survivors (doc_id, text) — the export chain's first
    * stage, shared with the incremental pipeline
    * ([[graft.pipeline.PretrainExport]]). */
  def qualityKept(docs: DataFrame): DataFrame =
    CurationOps.withQuality(docs)
      .filter(col("keep"))
      .select("doc_id", "text")

  /** The curated corpus: quality survivors, canonical near-dup reps —
    * exactly q_curate_corpus's first two stages (no sampling: an
    * export ships everything that survived curation).
    *
    * Memoized per (session, sfDir) as an eager localCheckpoint (the
    * [[TrainedCache]] shared-artifact convention, the deepwalkPairs
    * precedent): BOTH export flagships consume this identical frame,
    * and each one's downstream (rendering checkpoint + per-doc
    * checkpoint) reads it more than once — without the cut the
    * LSH-band + CC-dedup chain re-executed several times per query
    * (measured r12). Curation is deterministic per corpus, so even a
    * recompute would agree — the checkpoint is the speed point. */
  private def curated(s: SparkSession, d: String): DataFrame =
    TrainedCache.getOrTrain("pretrain_canon", d) {
      // spread the quality scan (r16, Tables.spreadCompute): row-local
      // features over a single-row-group scan otherwise run one task;
      // the doc_id exchange is reused by the canonical-survivor join
      val kept = qualityKept(
        Tables.spreadCompute(Tables.documents(s, d), col("doc_id")))
      kept.join(
        DedupOps.dedupGroupsMd5(kept)
          .filter(col("is_canonical")).select("doc_id"),
        Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
    }

  /** Session-pinned BPE tokenizer — the same store discipline as
    * [[pinnedTokenizer]] over the BPE merge table (the
    * `bpe_merges_b6_n6` shared artifact q_bpe_dropout trains). */
  def pinnedBpe(s: SparkSession, d: String): Seq[(String, String)] =
    TrainedCache.getOrTrain("bpe_merges_b6_n6_pinned", d) {
      val trained = TrainedCache.getOrTrain("bpe_merges_b6_n6", d)(
        BpeTrain.learnMerges(Tables.documents(s, d),
          numMerges = 6, minCount = 2, batch = 6))
      val root = s"/tmp/graft_tokstore/pretrain_bpe_${storeKey(d)}"
      val stored =
        if (graft.pipeline.TxTable.latest(s, root)._1 > 0)
          Some(TokenizerStore.loadBpe(s, root))
        else None
      if (!stored.contains(trained)) TokenizerStore.saveBpe(s, root, trained)
      TokenizerStore.loadBpe(s, root)
    }

  /** The composed chain downstream of the rendering stage, shared by
    * both tokenizer variants — `wordSql` / `suffix` express how a
    * word's pieces concatenate back (unigram: the word itself; BPE:
    * word + `</w>`). */
  /** The quality CTEs shared by every export oracle: re-derive the
    * kept set from the raw documents table. */
  private def qualitySqlCtes: String =
    s"""q AS (
        |  SELECT doc_id, text,
        |    len(string_split(text, ' ')) AS n_words,
        |    CAST(len(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS mwl,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> list_contains([${CurationOps.Stops.map("'" + _ + "'").mkString(",")}], w))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS swr
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, text FROM q
        |  WHERE n_words >= 10 AND n_words <= 5000
        |    AND mwl >= 2 AND mwl <= 12 AND swr >= 0.03)""".stripMargin

  private def composedSql(dumpName: String, wordSql: String): String =
    s"""WITH RECURSIVE ${qualitySqlCtes},
        |${DedupOps.md5CcCtesSql("kept")},
        |canon AS (
        |  SELECT k.doc_id, k.text
        |  FROM kept k LEFT JOIN comps c ON c.id = k.doc_id
        |  WHERE coalesce(c.component, k.doc_id) = k.doc_id),
        |seg AS (SELECT * FROM read_parquet('${OracleDump.path(dumpName)}')),
        |${exportTailSql(wordSql)}""".stripMargin

  /** The re-verification + pack/stripe/checksum tail shared by every
    * export oracle: rebuild each word from the dumped pieces, verify
    * reconstruction against the corpus text, and recompute offsets,
    * window ids, stripe assignment and per-shard checksums from
    * scratch. Consumes CTEs `canon` (doc_id, text) and `seg`. */
  private def exportTailSql(wordSql: String): String =
    s"""ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS l
        |  FROM canon),
        |words AS (
        |  SELECT doc_id, unnest(l) AS word,
        |    CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS word_idx
        |  FROM ws),
        |rebuilt AS (
        |  SELECT doc_id, word_idx, string_agg(piece, '' ORDER BY pos) AS joined,
        |    count(*) AS n_pieces
        |  FROM seg GROUP BY doc_id, word_idx),
        |perdoc AS (
        |  SELECT w.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(r.n_pieces) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN r.joined = $wordSql THEN 1 ELSE 0 END) AS BIGINT) AS n_rec
        |  FROM words w JOIN rebuilt r USING (doc_id, word_idx)
        |  GROUP BY w.doc_id),
        |packed AS (
        |  SELECT doc_id, n_words, n_tokens, n_rec,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS rn
        |  FROM perdoc),
        |p2 AS (
        |  SELECT *, start_off // $windowBudget AS window_id,
        |    start_off % $windowBudget AS off_in_window
        |  FROM packed)
        |SELECT rn % $stripeShards AS shard,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_rec) AS BIGINT) AS n_rec_words,
        |  bit_xor(('0x' || substr(md5(
        |    doc_id::VARCHAR || '|' || n_words::VARCHAR || '|' ||
        |    n_tokens::VARCHAR || '|' || n_rec::VARCHAR || '|' ||
        |    start_off::VARCHAR || '|' || window_id::VARCHAR || '|' ||
        |    off_in_window::VARCHAR), 1, 15))::BIGINT) AS checksum
        |FROM p2 GROUP BY 1 ORDER BY shard""".stripMargin

  /** Oracle for the INCREMENTAL export ([[graft.pipeline.PretrainExport]]
    * driven batch-by-batch): the dumped segmentation's doc set is the
    * engine-only given (the [[graft.pipeline.DedupIndex]] greedy-LSH
    * acceptance — the kernel itself stays DedupIndexSpec-verified),
    * joined against the INDEPENDENTLY re-derived quality set, so an
    * accepted doc that never passed quality drops out of the oracle's
    * derivation and hash-fails the row counts. Everything downstream —
    * per-word reconstruction, token counts, offsets, windows, stripes,
    * checksums — is recomputed GLOBALLY from scratch, which is exactly
    * the incremental ≡ one-shot contract: the engine produced batch 2's
    * offsets by CONTINUING stored counters, and a continuity bug
    * (wrong token base, wrong row base, re-derived rather than stored
    * state) lands on different window ids/stripes and breaks the
    * checksum. The oracle never sees the batch split at all. */
  private def incrSql(dumpName: String): String =
    s"""WITH RECURSIVE ${qualitySqlCtes},
        |seg AS (SELECT * FROM read_parquet('${OracleDump.path(dumpName)}')),
        |canon AS (
        |  SELECT k.doc_id, k.text
        |  FROM kept k JOIN (SELECT DISTINCT doc_id FROM seg) a USING (doc_id)),
        |${exportTailSql("w.word")}""".stripMargin

  /** Engine side of the composed chain: render the curated corpus with
    * the caller's tokenizer, dump the segmentation, then re-derive
    * per-doc counts + reconstruction ENGINE-side from the in-memory
    * segmentation (never the dump) and pack/stripe/checksum. `suffix`
    * is what rendering appends to a reconstructed word ("" for
    * unigram, "</w>" for BPE). */
  private def composedQuery(
      s: SparkSession, d: String, dumpName: String, suffix: String,
      render: DataFrame => DataFrame): DataFrame = {
      val canon = curated(s, d)
      // eager cut before the dump: dump and per-doc stats read ONE
      // materialization (the checkpoint-then-dump rule), and the
      // perDocStats join consumes the checkpoint instead of re-running
      // the rendering flatMap per downstream action
      val seg = render(canon).localCheckpoint(true)
      OracleDump.write(seg, d, dumpName)
      val perDoc = perDocStats(canon, seg, suffix)
      // pack offsets + stripe row numbers: two distributed prefix sums
      val striped = packAndStripe(perDoc, windowBudget, stripeShards,
        tokenBase = 0L, rowBase = 0L)
      shardSummary(striped)
  }

  /** Per-doc rendering stats (doc_id, n_words, n_tokens, n_rec) from a
    * (doc_id, word_idx, pos, piece) segmentation — the composed
    * chain's reconstruction-re-verifying middle, shared with the
    * incremental pipeline. `suffix` is what rendering appends to a
    * reconstructed word ("" unigram, "</w>" BPE). */
  def perDocStats(canon: DataFrame, seg: DataFrame, suffix: String): DataFrame = {
    val words = canon
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), t => length(t) > 0))
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
        sum(col("n_pieces")).cast(LongType).as("n_tokens"),
        sum(when(col("joined") === concat(col("word"), lit(suffix)), 1L)
          .otherwise(0L)).cast(LongType).as("n_rec"))
  }

  /** Pack offsets + stripe assignment over per-doc stats: two bucketed
    * distributed prefix sums (never a single-partition window), with
    * `tokenBase`/`rowBase` CONTINUING a stored export's counters (0 for
    * a one-shot run) — the incremental-append hook. */
  def packAndStripe(
      perDoc: DataFrame, budget: Long, shards: Long,
      tokenBase: Long, rowBase: Long): DataFrame = {
    // eager cut: the two nested prefix sums each add a checkpoint +
    // sample + totals pass plus the final scan — without this the
    // per-doc chain (and everything above it) re-executes per pass.
    // The frame is one 4-long row per document, orders smaller than
    // the corpus at any scale.
    val perDocCk = perDoc.localCheckpoint(true)
    val one = SkewOps.freshName(perDocCk, "one")
    val rn = SkewOps.freshName(perDocCk, "rn")
    // FUSED scan: token offsets and row numbers are both prefix sums in
    // doc_id order, so one bucket sample / checkpoint / totals pass /
    // window scan produces both (was two nested exclusivePrefixSum
    // calls — double the driver actions and, at scale, double the
    // exchanges)
    PackOps
      .exclusivePrefixSums(perDocCk.withColumn(one, lit(1L)), "doc_id",
        Seq("n_tokens" -> "start_off", one -> rn))
      .withColumn("start_off", col("start_off") + lit(tokenBase))
      .withColumn("window_id", expr(s"start_off div $budget"))
      .withColumn("off_in_window", col("start_off") % budget)
      .withColumn("shard", pmod(col(rn) + lit(rowBase), lit(shards)))
      .drop(one, rn)
  }

  /** The striped-manifest aggregate over packed rows — per-shard
    * counts, id range, token totals, and the xor-fold checksum over
    * every packed row's canonical string. */
  def shardSummary(striped: DataFrame): DataFrame = {
      val canonStr = concat_ws("|",
        col("doc_id").cast(StringType), col("n_words").cast(StringType),
        col("n_tokens").cast(StringType), col("n_rec").cast(StringType),
        col("start_off").cast(StringType), col("window_id").cast(StringType),
        col("off_in_window").cast(StringType))
      striped.groupBy("shard")
        .agg(
          count(lit(1)).cast(LongType).as("n_rows"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"),
          sum(col("n_tokens")).cast(LongType).as("sum_tokens"),
          sum(col("n_rec")).cast(LongType).as("n_rec_words"),
          bit_xor(conv(substring(md5(canonStr), 1, 15), 16, 10).cast(LongType))
            .as("checksum"))
        .orderBy("shard")
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q_pretrain_export",
      composedSql("pretrain_tokens", "w.word")) { (s, d) =>
      composedQuery(s, d, "pretrain_tokens", "",
        canon => UnigramLmOps.tokenize(canon, pinnedTokenizer(s, d), maxLen = 4))
    },

    // The SAME composed chain with the rendering stage swapped to the
    // TokenizerStore-pinned BPE merge table — proving the composition
    // is tokenizer-pluggable: every other stage (curation, dedup,
    // packing, striping, checksums) is shared code, and DuckDB
    // re-derives the BPE variant end-to-end under its own
    // reconstruction rule (pieces concat to word + '</w>').
    QueryDef(
      "q_pretrain_export_bpe",
      composedSql("pretrain_tokens_bpe", "w.word || '</w>'")) { (s, d) =>
      composedQuery(s, d, "pretrain_tokens_bpe", "</w>",
        canon => BpeTrain.tokenizeWordIndexed(canon, pinnedBpe(s, d)))
    },

    // The incremental pipeline as an oracle key: a FRESH export built
    // batch-by-batch through the real PretrainExport surface (init →
    // two id-ordered appends → manifest), with DuckDB re-deriving the
    // stored table's offsets/stripes/checksums GLOBALLY — see
    // [[incrSql]]. The split point is (min+max)/2 of doc_id, so the
    // query exercises the offset-continuation path at every SF.
    QueryDef(
      "q_pretrain_export_incr",
      incrSql("pretrain_incr_tokens")) { (s, d) =>
      import graft.pipeline.PretrainExport
      // the export pins the SESSION-SHARED v800 vocabulary (the same
      // TrainedCache artifact q_unigram_tokenize / q_pretrain_export
      // apply) instead of training a fresh one per run — initPinned is
      // the production path for vocabulary reuse across exports, and
      // it keeps this key measuring the PIPELINE, not a retrain
      val model = pinnedTokenizer(s, d)
      // increment-sized batches through 32-way exchanges are pure
      // scheduling overhead — run the pipeline on a low-partition
      // session clone (the GraphOps loop-session discipline; results
      // are partition-count-independent, blocks shared via the context).
      // Codegen and AQE off are the GraphOps loop-session gates, same
      // rationale: ~45 small jobs per run, each paying whole-stage
      // codegen compile and AQE re-planning that tiny frames never
      // amortize. At production increment sizes run the pipeline on
      // the plain session instead.
      val incr = graft.GraftSession.derived(s, Map(
        "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.adaptive.enabled" -> "false"))
      val docs = Tables.documents(incr, d)
      // a fresh export per run (deterministic root, rebuilt in place):
      // the query IS the pipeline's lifecycle, so stale state from a
      // prior run must not leak into this one's offsets
      val root = s"/tmp/graft_incr_export/${storeKey(d)}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      PretrainExport.initPinned(incr, root, model)
      val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
      val split = (r.getLong(0) + r.getLong(1)) / 2
      // the prepared tier: per-doc artifacts (quality, band signatures,
      // rendering stats) signed ONCE for both batches, appends pay only
      // the state-dependent work — spec-pinned identical to two plain
      // append() calls (PretrainExportPipelineSpec)
      val prep = PretrainExport.prepare(incr, root, docs)
      PretrainExport.appendPrepared(incr, root, prep, r.getLong(0), split)
      PretrainExport.appendPrepared(incr, root, prep, split + 1, r.getLong(1))
      // the dump: re-render the ACCEPTED set with the pinned model —
      // deterministic Viterbi, identical to what the appends rendered
      val accepted = docs.join(
        PretrainExport.shardTable(incr, root).select("doc_id"),
        Seq("doc_id"), "left_semi")
      OracleDump.write(
        UnigramLmOps.tokenize(accepted, model, maxLen = 4),
        d, "pretrain_incr_tokens")
      PretrainExport.manifest(incr, root)
    })
}
