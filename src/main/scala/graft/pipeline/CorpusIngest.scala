package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.CurationOps

/** The composed corpus-ingest service — the pieces of this library
  * wired into the pipeline a training-data team actually runs:
  *
  *   incoming docs
  *     → C4-style quality screen ([[graft.ops.CurationOps.withQuality]])
  *     → persisted incremental near-dup gate ([[DedupIndex]] — each
  *       batch compares against everything EVER accepted, not just
  *       itself)
  *     → blind-append into the corpus table ([[TxTable.appendCommit]] —
  *       O(increment), atomic, time-travelable)
  *
  * Retry-idempotent END TO END: the dedup index replays to identical
  * verdicts without duplicating bands (DedupIndex's contract), and the
  * corpus append anti-joins docs already committed, so a crash between
  * the index append and the corpus append — or a full batch re-run —
  * converges to the same corpus. The anti-join scans only the corpus
  * doc_id column (column-pruned); a production deployment would keep a
  * committed-ids bloom sidecar to skip even that.
  *
  * Rejected docs are not discarded silently: [[IngestStats]] carries
  * the why-counts (the reference's quality-gate severity reporting,
  * applied to curation).
  */
object CorpusIngest {

  /** Why-counts for one ingest batch. `received` counts RAW input rows
    * (before any dedup), and every received row lands in exactly one of
    * the other five buckets, so the six fields always reconcile:
    * received = dedupedInBatch + rejectedQuality + rejectedDup +
    * alreadyCommitted + appended. On a replay/resend the drops show up
    * as `alreadyCommitted` (or `rejectedDup` once the index knows the
    * bands) instead of silently vanishing from the arithmetic.
    */
  final case class IngestStats(
      received: Long, dedupedInBatch: Long, rejectedQuality: Long,
      rejectedDup: Long, alreadyCommitted: Long, appended: Long) {
    def reconciles: Boolean =
      received == dedupedInBatch + rejectedQuality + rejectedDup + alreadyCommitted + appended
  }

  /** Ingest one (micro-)batch: returns the why-counts after committing
    * survivors to `corpusRoot` (partitioned by `source`) and their
    * bands to `indexRoot`.
    */
  def ingestBatch(
      spark: SparkSession, corpusRoot: String, indexRoot: String,
      batch: DataFrame, params: DedupIndex.Params = DedupIndex.Params()): IngestStats = {
    // one row per doc_id BEFORE anything else: the within-increment gate
    // compares cand < doc_id, so two rows with the SAME id would both
    // pass it and append twice. Deterministic winner (lowest text) —
    // dropDuplicates would pick by partition order.
    val raw = batch.persist() // counted once raw, scanned once more for the window
    // every persist released on ALL exits: a long-running stream retries
    // failed micro-batches (runJsonlAvailableNow), and an exception from
    // TxTable.appendCommit that left four frames cached per retry would
    // bleed the block store across a night of retries
    var quality, verdicts, toAppend: DataFrame = null
    try {
    val received = raw.count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("text")
    val unique = raw
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    quality = CurationOps.withQuality(unique).persist()
    val uniqueCnt = quality.count()
    val passed = quality.filter(col("keep"))
      .select("doc_id", "text", "lang", "source")
    // verdicts drive three consumers (append set, dup count, accept
    // count) — persist, or each one re-runs the minhash+probe pipeline
    verdicts = DedupIndex.ingest(spark, indexRoot, passed, params).persist()
    val acceptedIds = verdicts.filter(col("accepted")).select("doc_id")
    val accepted = passed.join(acceptedIds, Seq("doc_id"), "leftsemi")
    // corpus-side idempotence: never re-append a doc_id already
    // committed (covers batch replays AND resends in later batches)
    val novel = TxTable.committed(spark, corpusRoot).fold(accepted)(stored =>
      accepted.join(stored.select("doc_id").distinct(), Seq("doc_id"), "left_anti"))
    toAppend = novel.persist()
    val appended = toAppend.count()
    if (appended > 0) TxTable.appendCommit(spark, corpusRoot, toAppend, "source")
    val nPassed = verdicts.count() // = passed rows, off the cached verdicts
    val nDup = verdicts.filter(!col("accepted")).count()
    IngestStats(
      received = received,
      dedupedInBatch = received - uniqueCnt,
      rejectedQuality = uniqueCnt - nPassed,
      rejectedDup = nDup,
      // accepted by the index but anti-joined away by the corpus —
      // a replay or a later-batch resend of an already-committed doc
      alreadyCommitted = (nPassed - nDup) - appended,
      appended = appended)
    } finally {
      raw.unpersist()
      if (quality != null) quality.unpersist()
      if (verdicts != null) verdicts.unpersist()
      if (toAppend != null) toAppend.unpersist()
    }
  }

  /** [[IngestStats]] extended with the JSONL dead-letter split: every
    * raw line lands in exactly one of quarantined-this-batch or the
    * parsed-ingest buckets, so `received = quarantined +
    * ingest.received` and the inner six-way reconciliation both hold —
    * nothing a producer sends can silently vanish between the file and
    * the corpus.
    */
  final case class JsonlStats(
      received: Long, quarantined: Long, ingest: IngestStats) {
    def reconciles: Boolean =
      received == quarantined + ingest.received && ingest.reconciles
  }

  /** One micro-batch of RAW JSONL lines (column `value`) through the
    * dead-letter split + composed ingest:
    *
    *   - malformed JSON (PERMISSIVE `_corrupt` capture) and
    *     structurally deficient docs (null `doc_id` or `text` — valid
    *     JSON that cannot become a corpus row) are appended to a
    *     quarantine TxTable with the ORIGINAL bytes and a reason,
    *     keyed by `xxhash64(raw_line)`;
    *   - the quarantine append is REPLAY-IDEMPOTENT the same way the
    *     corpus append is: novel line-keys only (anti-join against the
    *     committed quarantine), so a crashed/replayed micro-batch
    *     never duplicates dead letters. Identical bad lines within one
    *     batch collapse to one row carrying `n_seen`;
    *   - surviving docs flow into [[ingestBatch]] unchanged, with
    *     nullable lang/source coalesced to explicit unknowns (the
    *     corpus partitions by source — a null partition value is an
    *     operational trap, not data).
    */
  def ingestJsonlBatch(
      spark: SparkSession, corpusRoot: String, indexRoot: String,
      quarantineRoot: String, lines: DataFrame,
      params: DedupIndex.Params = DedupIndex.Params()): JsonlStats = {
    val parsed = lines
      .withColumn("p", graft.ops.JsonlOps.parsedStruct(col("value")))
      .select(
        col("value"), col("p.doc_id").as("doc_id"), col("p.lang").as("lang"),
        col("p.source").as("source"), col("p.text").as("text"),
        col("p._corrupt").as("_corrupt"))
      .persist()
    var novelBad: DataFrame = null
    try {
    val received = parsed.count()
    val badCond = col("_corrupt").isNotNull ||
      col("doc_id").isNull || col("text").isNull
    val bad = parsed.filter(badCond)
      .select(
        xxhash64(col("value")).as("line_key"), col("value").as("raw_line"),
        when(col("_corrupt").isNotNull, lit("malformed_json"))
          .otherwise(lit("missing_required_field")).as("reason"))
      .groupBy("line_key", "raw_line", "reason")
      .agg(count(lit(1)).as("n_seen"))
    novelBad = TxTable.committed(spark, quarantineRoot).fold(bad)(stored =>
      bad.join(stored.select("line_key").distinct(), Seq("line_key"), "left_anti")).persist()
    if (novelBad.count() > 0)
      TxTable.appendCommit(spark, quarantineRoot, novelBad, "reason")
    val quarantined = parsed.filter(badCond).count()
    val good = parsed.filter(!badCond)
      .select(
        col("doc_id"),
        coalesce(col("lang"), lit("und")).as("lang"),
        coalesce(col("source"), lit("unknown")).as("source"),
        col("text"))
    val stats = ingestBatch(spark, corpusRoot, indexRoot, good, params)
    JsonlStats(received, quarantined, stats)
    } finally {
      parsed.unpersist()
      if (novelBad != null) novelBad.unpersist()
    }
  }

  /** One quarantine-replay pass: `candidates` = quarantine rows at
    * entry, `retired` = rows whose fixed line re-parsed clean (deleted
    * from quarantine after their docs went through the full ingest
    * path), `stillBad` = rows the fix did not heal (they stay
    * quarantined for the next fix). Reconciles:
    * `candidates = retired + stillBad` and `retired = ingest.received`
    * (every healed line became exactly one ingest-input row, which the
    * inner six-way reconciliation then accounts for). */
  final case class ReplayStats(
      candidates: Long, retired: Long, stillBad: Long, ingest: IngestStats) {
    def reconciles: Boolean =
      candidates == retired + stillBad && retired == ingest.received &&
        ingest.reconciles
  }

  /** Close the dead-letter loop: re-ingest FIXED quarantine rows and
    * retire them. `fix` is a Column→Column rewrite of the original raw
    * line (e.g. `regexp_replace(_, "NaN", "null")`) — a column
    * expression, not a Scala lambda, so the heal stays codegen'd and
    * the retire predicate below stays deterministic-by-construction
    * (TxTable.deleteWhere rejects nondeterministic predicates).
    *
    * The retire criterion is ROW-LOCAL: a row leaves quarantine iff
    * `parsedStruct(fix(raw_line))` yields a structurally valid doc
    * (no `_corrupt`, doc_id and text present). That one predicate is
    * evaluated twice — once to select the ingest inputs, once inside
    * [[TxTable.deleteWhere]] — so the ingested set and the retired set
    * coincide by construction, with no driver-side key list between
    * them (an `isin(collectedKeys)` retire would bound the replay by
    * driver memory).
    *
    * Ordering and idempotence: the corpus ingest commits BEFORE the
    * quarantine delete. A crash between the two leaves healed rows in
    * both tables — rerunning the replay re-heals them, the corpus
    * anti-join drops them as `alreadyCommitted` (nothing duplicates),
    * and the delete then retires them; a second full replay after
    * success is a no-op (`candidates` may count the still-bad
    * remainder, `retired = 0`). Exactly the [[ingestBatch]] replay
    * contract extended to the dead-letter table.
    */
  def replayQuarantine(
      spark: SparkSession, corpusRoot: String, indexRoot: String,
      quarantineRoot: String,
      fix: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      params: DedupIndex.Params = DedupIndex.Params()): ReplayStats = {
    import org.apache.spark.sql.Column
    def healed(raw: Column): Column = graft.ops.JsonlOps.parsedStruct(fix(raw))
    def isClean(p: Column): Column =
      p.getField("_corrupt").isNull &&
        p.getField("doc_id").isNotNull && p.getField("text").isNotNull
    if (TxTable.latest(spark, quarantineRoot)._1 == 0)
      return ReplayStats(0, 0, 0, IngestStats(0, 0, 0, 0, 0, 0))
    val quar = TxTable.read(spark, quarantineRoot)
    val candidates = quar.count()
    val good = quar
      .withColumn("p", healed(col("raw_line")))
      .filter(isClean(col("p")))
      .select(
        col("p.doc_id").as("doc_id"),
        coalesce(col("p.lang"), lit("und")).as("lang"),
        coalesce(col("p.source"), lit("unknown")).as("source"),
        col("p.text").as("text"))
    val stats = ingestBatch(spark, corpusRoot, indexRoot, good, params)
    val retired = TxTable.deleteWhere(
      spark, quarantineRoot, "reason", isClean(healed(col("raw_line"))))
    ReplayStats(candidates, retired, candidates - retired, stats)
  }

  /** JSONL file-source stream → [[ingestJsonlBatch]] per micro-batch
    * (AvailableNow): the full dead-letter + dedup + transactional
    * corpus path from raw text files.
    */
  def runJsonlAvailableNow(
      spark: SparkSession, sourceDir: String, corpusRoot: String,
      indexRoot: String, quarantineRoot: String, checkpointDir: String,
      params: DedupIndex.Params = DedupIndex.Params()): Unit = {
    val q = spark.readStream.text(sourceDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestJsonlBatch(
          batch.sparkSession, corpusRoot, indexRoot, quarantineRoot, batch, params)
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** File-source stream → per-batch composed ingest (AvailableNow). */
  def runAvailableNow(
      spark: SparkSession, sourceDir: String,
      sourceSchema: org.apache.spark.sql.types.StructType,
      corpusRoot: String, indexRoot: String, checkpointDir: String,
      params: DedupIndex.Params = DedupIndex.Params()): Unit = {
    val q = spark.readStream.schema(sourceSchema).parquet(sourceDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch.sparkSession, corpusRoot, indexRoot, batch, params)
        ()
      }
      .start()
    q.awaitTermination()
  }
}
