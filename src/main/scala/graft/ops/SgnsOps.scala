package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed SGNS (skip-gram with negative sampling, the word2vec /
  * DeepWalk trainer — Mikolov '13, Perozzi '14) over the
  * [[GraphOps.skipGramPairs]] corpus: closes the repo's own
  * walks → pairs → VECTORS → ANN loop. The reference pipeline ends at
  * relational aggregates (`/root/reference/dbt/models/marts/
  * daily_power_summary.sql`); this is the extension surface's
  * embedding-column producer — trained node vectors feed
  * [[IvfOps.annTrained]]/[[SimilarityOps.cosineTopK]] directly.
  *
  * Training semantics — synchronous mini-batch gradient descent, NOT
  * hogwild: each (epoch, batch) computes every example's gradient
  * against the BATCH-START model, takes the per-node MEAN (see the
  * normalization note at the aggregation), applies once. That
  * makes the update a pure function of (pairs, params) with a
  * well-defined sequential twin (SgnsSpec's in-memory reference
  * replays it exactly, modulo float summation order), where hogwild's
  * result depends on racey interleaving. The price is staler
  * gradients per step — the classic sync/async trade — and the batch
  * count is the knob: more batches = fresher steps, same total work.
  *
  * Everything random is md5-dyadic and keyed, the engine-stable
  * convention ([[GraphOps.randomWalks]] precedent):
  *  - init:  v_in[i] = (H32("init:node:i")/2^32 − 0.5)/dim, v_out = 0
  *    (the word2vec convention: zero context vectors make the first
  *    positive gradient σ(0)−1 = −0.5 regardless of init noise);
  *  - batch: pair → batch b via H32("batch:epoch:pairkey") mod B —
  *    epoch-salted, so epochs see the corpus in different groupings
  *    (the [[ExportOps.writeEpochShards]] epoch-reshuffle convention);
  *  - negatives: k-th negative of a pair is vocab[(H32("neg:epoch:k:
  *    pairkey") · V) >> 32] — the widening fixed-point draw, uniform
  *    over the vocabulary to 1 part in 2^32/V (a plain mod V would
  *    oversample low indices as V grows; exact for V < 2^31, guarded)
  *    (the unigram^0.75
  *    table is a lookup-weight refinement, deliberately not modeled;
  *    accidental negative==context collisions are kept, as word2vec
  *    keeps them).
  *
  * Scale shape (the 100 TB story):
  *  - the PAIRS table is the big thing and is only ever filtered
  *    (batch hash) and joined — never collected, never sorted
  *    globally;
  *  - model frames are vocab-sized (V rows × dim doubles) and ride
  *    the [[GraphOps.broadcastRanksMaxNodes]] guard SCALED BY dim
  *    (V·dim ≤ guard ⇒ broadcast joins, map-only batch scoring;
  *    above ⇒ co-partitioned shuffle joins on node — the 1B-node
  *    embedding-table shape);
  *  - gradient accumulation is exploded to (node, i, g) scalars so
  *    the per-node sum is an ordinary partial-aggregating groupBy
  *    (map-side combine; no unbounded collect_list of vectors) and
  *    reassembled to arrays only at vocab size;
  *  - the batch loop runs on an isolated [[GraphOps.loopSession]]
  *    (AQE off, codegen gated on measured size — every batch is a
  *    distinct throwaway plan) with EAGER per-batch checkpoint cuts
  *    of the two model frames (vocab-sized writes; each batch its own
  *    job, prior batches' shuffle files reclaimable — the r8
  *    disk-model rule).
  */
object SgnsOps {

  /** Longest loop the lazy whole-batch regime may run (see the cut
    * rationale in [[train]]): each lazy round ~3×es the BITS of the
    * carried size estimate, so 8 rounds ≈ 63·3^8 ≈ 400k-bit stats —
    * still cheap to multiply; rounds beyond this use eager cuts. */
  private[ops] val lazyMaxRounds = 8

  final case class SgnsParams(
      dim: Int = 16,
      negatives: Int = 3,
      lr: Double = 0.05,
      epochs: Int = 2,
      batches: Int = 4,
      // loss tracking costs one extra driver action per batch (the
      // scalar agg job) — specs want the trajectory, a production
      // training query doesn't
      trackLoss: Boolean = true,
      // test hook: force the above-guard shuffle-join model path at
      // any vocab size, so its equivalence with the broadcast path is
      // spec-checkable without a 4M-row fixture (the rankLoop guard
      // convention — the two paths must be value-identical)
      forceShuffleModel: Boolean = false,
      // warm-start continuation: the absolute index of this run's
      // first epoch. Batch assignment and negative draws hash the
      // ABSOLUTE epoch, so train(E1+E2) ≡ train(E2, offset=E1,
      // resume=train(E1)) — the checkpointed-training contract
      // (SgnsSpec pins the split equivalence)
      epochOffset: Int = 0,
      // per-batch checkpoint eagerness. None = auto: eager when loss
      // tracking forces a per-batch action anyway, or when the example
      // count exceeds the loop gate (above it, lazy cuts would leave
      // every batch's shuffle files plan-referenced until the final
      // action — the measured ENOSPC mode of the r8 graph loops).
      // Below the gate the whole training collapses into the final
      // model checkpoints' jobs: same values (identical plans, only
      // materialization timing moves — spec-pinned lazy ≡ eager),
      // a fraction of the driver round-trips. Some(x) is the spec
      // override that pins both paths.
      eagerCuts: Option[Boolean] = None)

  /** Trained model: `inVecs`/`outVecs` are (node LONG, vec
    * ARRAY<DOUBLE>[dim]), checkpointed (stable — safe to both dump and
    * re-read without recompute); `losses` is the mean per-example NCE
    * loss per (epoch, batch) in execution order. */
  final case class SgnsModel(inVecs: DataFrame, outVecs: DataFrame, losses: Seq[Double])

  /** First 8 md5 hex digits as a long in [0, 2^32) — the repo's H32. */
  private def h32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Train over `pairs` (the [[GraphOps.skipGramPairs]] schema: seed,
    * c_step, center, x_step, context — (seed, c_step, x_step) is the
    * unique pair key all hashing is derived from).
    *
    * `resume` warm-starts from a previously trained model (the
    * crash-recovery / corpus-growth path): vocab nodes present in the
    * resumed frames keep their trained vectors, NEW nodes get the
    * deterministic hash init (in) / zeros (out) — so growing the
    * corpus never perturbs what was already learned, and with
    * `epochOffset` set to the epochs already run, a resumed
    * continuation replays the exact hash streams of the
    * never-interrupted run. */
  def train(
      pairs: DataFrame, params: SgnsParams = SgnsParams(),
      resume: Option[SgnsModel] = None): SgnsModel = {
    val spark = pairs.sparkSession
    val p = params
    require(p.dim > 0 && p.negatives >= 0 && p.epochs > 0 && p.batches > 0)

    val pkey = concat_ws(":", col("seed"), col("c_step"), col("x_step"))
    val base = pairs
      .select(col("center"), col("context"), pkey.as("pk"))
      .repartition(col("center"))
      .localCheckpoint(false) // pinned: every batch filters this
    val nPairs = base.count()

    // vocabulary: every node seen in either role, dense index 0..V-1
    // in node order (the deterministic negative-draw address space) —
    // via the DISTRIBUTED prefix sum, not a global window (a 1B-node
    // vocab must never funnel through one ranking task)
    val vocab = PackOps.exclusivePrefixSum(
      base.select(col("center").as("node"))
        .unionAll(base.select(col("context").as("node")))
        .distinct()
        .withColumn("one", lit(1L)),
      "node", "one", "idx")
      .select(col("node"), col("idx"))
      .localCheckpoint(false)
    val v = vocab.count()

    // model frames broadcast when V·dim fits the scaled guard —
    // a vector row is dim doubles, not one score, so the node guard
    // divides by dim
    val small = !p.forceShuffleModel && v * p.dim <= GraphOps.broadcastRanksMaxNodes
    val eager = p.eagerCuts.getOrElse(
      p.trackLoss || nPairs * (1L + p.negatives) > GraphOps.loopCodegenMinRows)
    val loop = GraphOps.loopSession(spark, nPairs * (1L + p.negatives))
    // shuffled HASH join, not sort-merge, for the model joins: SMJ
    // SORTS the example×vector intermediate (examples × dim doubles —
    // ~40 GB of sort spill per batch at 240M examples), while the hash
    // join builds on the vocab-sized model partition (~tens of MB at
    // 128 partitions) and STREAMS the example side — zero sort, zero
    // sort spill. Session-scoped: only this training loop's clone.
    // Value-identical (join strategy never changes results; the
    // shuffle≡broadcast spec pin covers the path).
    loop.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (pv, vv, ov) = (s"graft_sgns_p_$tag", s"graft_sgns_v_$tag", s"graft_sgns_o_$tag")
    try {
      base.createOrReplaceGlobalTempView(pv)
      vocab.createOrReplaceGlobalTempView(vv)
      val bp0 = loop.table(s"global_temp.$pv")
      val voc = loop.table(s"global_temp.$vv")

      val initVec = array((0 until p.dim).map(i =>
        (h32(concat_ws(":", lit("init"), col("node"), lit(i)))
          .cast("double") / lit(4294967296.0) - lit(0.5)) / lit(p.dim.toDouble)): _*)
      val zeroVec = array((0 until p.dim).map(_ => lit(0.0)): _*)
      // warm start: resumed nodes keep their trained vectors; vocab
      // nodes absent from the resumed model (corpus growth) get the
      // same deterministic init a cold start would give them
      def initFrame(fresh: Column, resumed: Option[DataFrame]): DataFrame =
        resumed match {
          case None => voc.select(col("node"), fresh.as("vec"))
          case Some(m) =>
            val mv = s"graft_sgns_r_${java.util.UUID.randomUUID().toString.replace("-", "")}"
            m.createOrReplaceGlobalTempView(mv)
            val r = loop.table(s"global_temp.$mv")
              .select(col("node"), col("vec").as("rvec"))
            val out = voc.join(r, Seq("node"), "left")
              .select(col("node"), coalesce(col("rvec"), fresh).as("vec"))
            // eager cut below materializes before the view drops
            val cut = out.localCheckpoint(true)
            spark.catalog.dropGlobalTempView(mv)
            cut
        }
      var vin = initFrame(initVec, resume.map(_.inVecs)).localCheckpoint(eager)
      var vout = initFrame(zeroVec, resume.map(_.outVecs)).localCheckpoint(eager)

      val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (e <- p.epochOffset until p.epochOffset + p.epochs; b <- 0 until p.batches) {
        val bp = bp0.filter(
          pmod(h32(concat_ws(":", lit("batch"), lit(e), col("pk"))),
            lit(p.batches.toLong)) === b)
        val pos = bp.select(
          col("center"), col("context").as("other"), lit(1.0).as("label"))
        // widening multiply (h32 · V) >> 32, not pmod(h32, V): mod over
        // a 32-bit hash is biased for V not dividing 2^32 (low indices
        // drawn up to 2× more often as V grows); the fixed-point scale
        // h32/2^32 · V keeps draws near-uniform (per-index frequency
        // off by at most 1 part in 2^32/V). Exact for V < 2^31 — the
        // signed-64-bit product bound, which covers the 1B-node scale
        // claim — and guarded below so larger vocabs fail loudly
        // rather than silently wrap.
        require(v < (1L << 31),
          s"vocab size $v exceeds the 2^31-1 negative-draw bound " +
            "(widening multiply would overflow signed 64-bit)")
        val negIdx = (1 to p.negatives).map { k =>
          bp.select(
            col("center"),
            shiftright(h32(concat_ws(":", lit("neg"), lit(e), lit(k), col("pk"))) * lit(v),
              32).as("idx"))
        }
        val negs =
          if (p.negatives == 0) None
          else Some(negIdx.reduce(_ unionAll _)
            .join(if (small) broadcast(voc) else voc, "idx")
            .select(col("center"), col("node").as("other"), lit(0.0).as("label")))
        val ex = negs.fold(pos)(pos.unionAll)
        // score every example against the BATCH-START model
        val vinJ = vin.select(col("node").as("c_n"), col("vec").as("cv"))
        val voutJ = vout.select(col("node").as("o_n"), col("vec").as("ov"))
        val scored = ex
          .join(if (small) broadcast(vinJ) else vinJ, col("center") === col("c_n"))
          .join(if (small) broadcast(voutJ) else voutJ, col("other") === col("o_n"))
          .withColumn("s", lit(1.0) / (lit(1.0) + exp(-dot(col("cv"), col("ov")))))
          .withColumn("g", col("s") - col("label"))
          .select(col("center"), col("other"), col("cv"), col("ov"),
            col("g"), col("label"), col("s"))
        // cache ONLY when loss tracking adds a third consumer: the
        // cache is examples × two dim-vectors on MEMORY_AND_DISK, and
        // at soak scale it is the batch's biggest disk consumer (the
        // 200M-edge run ENOSPC'd on exactly this — 1.4B cached rows).
        // Without it the in-grad and out-grad checkpoint jobs each
        // recompute the scoring join once: 2× join compute, ZERO cache
        // disk — the right trade on a disk-bound box and a wash
        // elsewhere. Values identical either way (same plan, pure
        // recompute; the md5 hashing is deterministic by construction).
        val scoredP = if (p.trackLoss) scored.persist() else scored
        try {
          // mean NCE loss of the batch (bounded driver scalar; ε-clamped
          // logs — a saturated sigmoid would otherwise print -Inf)
          if (p.trackLoss) {
            val lossRow = scoredP.agg(avg(
              -when(col("label") === 1.0, log(greatest(col("s"), lit(1e-12))))
                .otherwise(log(greatest(lit(1.0) - col("s"), lit(1e-12))))).as("l"))
              .collect()(0)
            losses += lossRow.getDouble(0)
          }

          // per-node gradient sums, exploded to scalars for partial agg
          def gradSum(keyCol: String, vecCol: String): DataFrame =
            scoredP
              .select(col(keyCol).as("node"),
                posexplode(transform(col(vecCol), x => x * col("g"))).as(Seq("i", "gi")))
              .groupBy(col("node"), col("i"))
              // per-node MEAN gradient, not sum: the count-normalized
              // step is scale-free in corpus frequency (a node in 10^6
              // batch examples moves by ~lr, not 10^6·lr — summed
              // gradients measurably diverge: loss 0.69 → 19.6 on the
              // clique corpus) AND in vocab size (a global-batch mean
              // would shrink every step by 1/V and freeze learning at
              // a 1B-node vocab)
              .agg(avg(col("gi")).as("gi"))
              .groupBy(col("node"))
              .agg(transform(
                array_sort(collect_list(struct(col("i"), col("gi")))),
                x => x.getField("gi")).as("grad"))
          val dIn = gradSum("center", "ov")
          val dOut = gradSum("other", "cv")

          def applyGrad(model: DataFrame, grad: DataFrame): DataFrame =
            model.join(
              if (small) broadcast(grad) else grad.repartition(col("node")),
              Seq("node"), "left")
              .select(col("node"),
                when(col("grad").isNull, col("vec"))
                  .otherwise(zip_with(col("vec"), col("grad"),
                    (x, gr) => x - lit(p.lr) * gr)).as("vec"))
          // per-batch cuts: eager above the gate (each batch its own
          // job, prior batches' shuffle files reclaimable — the r8
          // disk-model rule), lazy below it (the whole loop executes
          // inside the final model checkpoints' jobs).
          // STATS-CARRY-FORWARD BUG, fixed structurally: a checkpoint
          // (eager OR lazy) cuts lineage but propagates the OPTIMIZER'S
          // size estimate of the pre-checkpoint plan
          // (LogicalRDD.originStats) — and this loop's model frame
          // feeds ~3 join branches per round, so the estimate's BITS
          // triple per round (doubly-exponential sizeInBytes). Long
          // runs sink Catalyst planning into megabit BigInteger
          // multiplications (jstack: RUNNABLE in multiplyToomCook3)
          // and die ~round 12 with "BigInteger would overflow
          // supported range" (the 100k-node 30-epoch soak's failure —
          // rank/LPA loops never hit this because their state feeds
          // ONE branch per round: linear bit growth).
          // resetCheckpointStats severs the carried estimate at every
          // per-round cut; every model join here is explicitly hinted
          // (broadcast / repartition), so the optimizer loses nothing.
          // The round gate keeps LONG loops on eager cuts regardless
          // of the size gate (per-round shuffle release + bounded RDD
          // lineage). Values are unchanged (a checkpoint is a
          // materialization barrier; stats are estimates, never data).
          val cutEager = eager || p.epochs * p.batches > lazyMaxRounds
          import org.apache.spark.sql.graftbridge.DatasetBridge.resetCheckpointStats
          vin = resetCheckpointStats(applyGrad(vin, dIn).localCheckpoint(cutEager))
          vout = resetCheckpointStats(applyGrad(vout, dOut).localCheckpoint(cutEager))
        } finally { if (p.trackLoss) { scoredP.unpersist(); () } }
      }
      // the returned model is ALWAYS an eager checkpoint — the
      // checkpoint-then-dump contract (OracleDump and the query must
      // read one materialization, never recompute float training).
      // In the lazy regime these two jobs are where the whole loop
      // actually executes.
      if (!eager) {
        vin = vin.localCheckpoint(true)
        vout = vout.localCheckpoint(true)
      }
      vin.createOrReplaceGlobalTempView(ov)
      val outVin = spark.table(s"global_temp.$ov")
      vout.createOrReplaceGlobalTempView(s"${ov}_o")
      val outVout = spark.table(s"global_temp.${ov}_o")
      spark.catalog.dropGlobalTempView(ov)
      spark.catalog.dropGlobalTempView(s"${ov}_o")
      SgnsModel(outVin, outVout, losses.toSeq)
    } finally {
      spark.catalog.dropGlobalTempView(pv)
      spark.catalog.dropGlobalTempView(vv)
      ()
    }
  }

  /** Trained-embedding KNN over the DeepWalk corpus — the closed
    * walks → pairs → vectors → retrieval loop as one oracle query.
    * The trained in-vectors are the engine-only value ([[OracleDump]]
    * convention: float training under distributed summation); they
    * are dumped EXPLODED as (node, i, v) and the DuckDB twin
    * re-derives the whole retrieval operator around them — norms,
    * dot products, rounded-cosine ranking with node tie-break, top-5
    * per query — from the same vectors. The dump reads from the
    * model's eager checkpoint, so the dumped values and the values
    * the Spark query ranks are the same materialization, never a
    * recompute. */
  /** The DeepWalk training corpus of the registered queries — walks
    * from the 100 smallest year-sliced co-order nodes, window-2 pairs —
    * derived ONCE per (session, sfDir) and shared by every query that
    * consumes exactly this corpus (`q_skipgram_pairs` measures/oracles
    * the operator itself; `q_sgns_knn` trains on its output): the
    * [[TrainedCache]] shared-artifact convention. Eager-checkpointed
    * before memoization so all consumers read one materialization
    * (walks are md5-exact deterministic, so even a recompute would
    * agree — the checkpoint is belt-and-braces plus the speed point).
    */
  def deepwalkPairs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    TrainedCache.getOrTrain("deepwalk_pairs_s5_w2", d) {
      val e = GraphOps.coOrderEdges(s, d, yearSlice = true)
      val seeds = e.select(col("src").as("node")).distinct().orderBy("node").limit(100)
      GraphOps.skipGramPairs(
        GraphOps.randomWalks(e, seeds, steps = 5), window = 2)
        .localCheckpoint(true)
    }

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q_sgns_knn",
      s"""WITH vec AS MATERIALIZED (
         |  SELECT node, i, v FROM read_parquet('${OracleDump.path("q_sgns_vecs")}')),
         |n AS MATERIALIZED (
         |  SELECT node, sqrt(sum(v * v)) AS nrm FROM vec GROUP BY node),
         |q AS (SELECT node FROM n ORDER BY node LIMIT 10),
         |d AS (
         |  SELECT a.node AS q_node, b.node AS node, sum(a.v * b.v) AS dp
         |  FROM vec a
         |  JOIN q ON q.node = a.node
         |  JOIN vec b ON b.i = a.i AND b.node <> a.node
         |  GROUP BY a.node, b.node),
         |c AS (
         |  SELECT d.q_node, d.node,
         |    round(d.dp / (na.nrm * nb.nrm), 6) AS cosine
         |  FROM d
         |  JOIN n na ON na.node = d.q_node
         |  JOIN n nb ON nb.node = d.node),
         |r AS (
         |  SELECT q_node, node, cosine,
         |    row_number() OVER (PARTITION BY q_node ORDER BY cosine DESC, node) AS rank
         |  FROM c)
         |SELECT q_node, node, cosine, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 5
         |ORDER BY q_node, rank""".stripMargin) { (s, d) =>
      val pairs = deepwalkPairs(s, d)
      // bench-SF shape: 2 epochs × 1 batch keeps the epoch-salted
      // hash streams (and the trainer mechanism the spec pins in
      // full generality) at half the loop round-trips; the corpus
      // itself is the shared session artifact above
      val model = train(pairs, SgnsParams(
        dim = 8, negatives = 3, lr = 0.05, epochs = 2, batches = 1,
        trackLoss = false))
      OracleDump.write(
        model.inVecs.select(col("node"), posexplode(col("vec")).as(Seq("i", "v"))),
        d, "q_sgns_vecs")
      val withN = model.inVecs
        .withColumn("nrm", sqrt(dot(col("vec"), col("vec"))))
      val q = withN.orderBy("node").limit(10)
        .select(col("node").as("q_node"), col("vec").as("q_vec"), col("nrm").as("q_nrm"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_node")).orderBy(col("cosine").desc, col("node"))
      withN
        .join(broadcast(q), col("node") =!= col("q_node"))
        .withColumn("cosine",
          round(dot(col("vec"), col("q_vec")) / (col("nrm") * col("q_nrm")), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_node"), col("node"), col("cosine"), col("rank"))
        .orderBy("q_node", "rank")
    })
}
