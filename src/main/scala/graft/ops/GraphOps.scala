package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Link-graph analytics beyond connected components: damped PageRank.
  *
  * Why in a training-data engine: link-graph centrality is a standard
  * document-quality signal for web corpora (seed-list expansion and
  * URL-level filtering both rank by it), and it is the canonical
  * "iterative shuffle" workload — k rounds of (join on src → groupBy
  * dst), each round one shuffle whose size is O(edges), no driver-side
  * state. The same loop discipline as the CC paths applies: a lazy
  * `localCheckpoint` per round truncates the growing plan/RDD lineage
  * so round k's analysis cost doesn't scale with k.
  *
  * Oracle scheme: iterations are FIXED (no convergence test — a
  * float-threshold test could converge at different round counts on
  * different engines), and the DuckDB twin is UNROLLED from the same
  * constants by [[pagerankSql]], so teleport/damping literals and the
  * operation order cannot drift between engines. Per-node contribution
  * sums are the only summation-order-dependent step; after 10 rounds
  * the drift is ~1e-14 relative against a 1e-6 rounding grid.
  */
object GraphOps {

  private val teleport = 0.15
  private val damping = 0.85
  private val defaultIters = 10

  /** Damped PageRank over a SYMMETRIC directed edge list (both
    * directions present, no self-loops, distinct). Symmetry guarantees
    * every node has out-degree ≥ 1 (no dangling-mass redistribution
    * needed) and in-degree ≥ 1 (inner joins lose no node).
    * Returns (node, pr).
    */
  /** Node-count bound under which the per-round rank frame is broadcast
    * instead of shuffled in the mass join. A rank row is ~24 bytes, so
    * 4M nodes ≈ 100 MB — the upper end of a sane executor broadcast.
    * Below it every iteration is MAP-ONLY over the pinned edge list
    * (partial agg → one small final exchange); above it the join falls
    * back to the pre-partitioned shuffle path, which is the 1B-node
    * scale shape. This is the same runtime size-based strategy pick AQE
    * makes, made explicit because the loop defeats AQE's per-stage
    * estimation (each round's ranks is a fresh derived plan whose size
    * Spark estimates from the full lineage, not the ~n rows it has).
    */
  /** Broadcast-vs-shuffle gate for the rank loops' per-round node
    * frames. Re-A/B'd r15 on sf0.1 (broadcast: pagerank/hits/ppr warm
    * 3.2/4.0/3.3 s; shuffle join forced by a zero gate: 3.7/5.2/4.1 s)
    * — broadcast stands, its per-round build jobs are cheaper than two
    * extra exchanges per round at every measured size below the gate. */
  private[graft] val broadcastRanksMaxNodes = 4000000L

  /** The shared fixed-iteration mass-push loop behind [[pagerank]] and
    * [[personalizedPagerank]]. `base0` carries (node, deg, …constants)
    * pinned by the caller; `init`/`update` are the rank expressions
    * over those columns (+ `mass` for update).
    *
    * The loop runs on an ISOLATED session clone (the
    * [[connectedComponentsStar]] discipline, `DedupOps.scala`): AQE
    * off — k rounds of tiny exchanges make its per-stage
    * materialize-and-replan pure driver latency (measured: the replans
    * and per-round codegen were ~half the query's wall time at sf0.1)
    * — and shuffle partitions sized to the measured edge count, so a
    * 2M-edge test graph doesn't pay 32-task stages per round while a
    * 100 TB graph keeps the session's full parallelism. Frames cross
    * sessions zero-copy via global temp views; the result is an eager
    * localCheckpoint re-bound to the caller's session.
    */
  /** Isolated session clone for iterative loops (the CC discipline +
    * the round-7 additions): AQE off — per-stage materialize-and-replan
    * is pure driver latency on a loop's tiny exchanges; shuffle
    * partitions sized to the measured working set (1 per 250k rows,
    * floor 1, capped at the caller's setting — at 100 TB the row term
    * saturates the cap and nothing changes); whole-stage codegen gated
    * on measured size (the [[DedupOps.connectedComponentsStar]]
    * DISCIPLINE, but the graph loops' own measured threshold): each
    * round is a distinct plan (fresh exprIds), so codegen compiles k
    * unique throwaway classes whose janino cost only amortizes once the
    * rounds move real volume. Measured crossover (BENCH r7/r8 +
    * SOAK_r8_graph_100M): at 2.4M edges codegen-off wins (q_pagerank
    * 5.7 s vs 7.4 s with codegen on), at 10M edges codegen-on wins
    * (23.6 s vs ~29 s extrapolated from the r7 codegen-off soak) — the
    * gate sits between the two measured points, NOT at the CC loop's
    * 250k (its per-round stages are 2-column min-aggs; the rank rounds
    * carry a join + agg + projection chain whose interpreted eval stays
    * cheap longer). At 100 TB edge volumes the off-branch never
    * triggers. Conf is session-local, so none of this leaks to the
    * caller's queries; plans cross sessions zero-copy via global temp
    * views.
    */
  private[ops] val loopCodegenMinRows = 4000000L
  /** The loop's shuffle-partition count for a working set of
    * `workingRows` — scale-adaptive (guide §2.2): ~250k rows per
    * partition, floored at 1, capped at the session default unless
    * `statePerPartRows` lifts the cap (pair-shaped agg state, LPA).
    * Shared by [[loopSession]] and the small-graph edge-pin coalesce
    * so both read the same geometry. */
  private[ops] def loopPartsFor(
      spark: org.apache.spark.sql.SparkSession, workingRows: Long,
      statePerPartRows: Long = 0L): Long = {
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val cap =
      if (statePerPartRows > 0L)
        math.max(sessionParts, workingRows / statePerPartRows)
      else sessionParts
    math.max(1L, math.min(cap, workingRows / 250000L))
  }

  /** The loop-session clone: AQE off, shuffle partitions from
    * [[loopPartsFor]], codegen gated at [[loopCodegenMinRows]].
    * The rank family resolves to the same settings for a given graph
    * size, so a Verify/Bench process running pagerank + hits + ppr +
    * lpa back-to-back reuses one cached clone ([[graft.GraftSession.derived]]).
    *
    * `statePerPartRows` > 0 lifts the session-partition cap when the
    * loop's PER-TASK aggregation state is pair-shaped rather than
    * node-shaped (LPA's (src,lbl) vote counting — §12j attribution):
    * partitions are then sized so each task's agg map holds at most
    * that many rows, even if that means MORE partitions than the
    * session default. Sum-shaped loops keep the cap: their state
    * collapses to node cardinality map-side and extra partitions are
    * pure scheduling overhead. */
  private[ops] def loopSession(
      spark: org.apache.spark.sql.SparkSession, workingRows: Long,
      statePerPartRows: Long = 0L) = {
    val loopParts = loopPartsFor(spark, workingRows, statePerPartRows)
    val codegenOff = workingRows < loopCodegenMinRows
    graft.GraftSession.derived(spark,
      Map("spark.sql.shuffle.partitions" -> loopParts.toString,
        "spark.sql.adaptive.enabled" -> "false") ++
        (if (codegenOff) Map("spark.sql.codegen.wholeStage" -> "false") else Map.empty))
  }

  private def rankLoop(
      e0: DataFrame, base0: DataFrame,
      init: org.apache.spark.sql.Column, update: org.apache.spark.sql.Column,
      iters: Int, knownCounts: Option[(Long, Long)] = None): DataFrame = {
    val spark = e0.sparkSession
    // (nNodes, nEdges): from the caller's shared pin when available
    // (r16 — the counting jobs then ran ONCE per session for the whole
    // rank family, and the lazy pins materialize inside round 1's job
    // instead of a dedicated pass); counted here otherwise.
    val (nNodes, nEdges) = knownCounts.getOrElse {
      (base0.count(), // materializes both pins; O(1) reads
        e0.count())
    }
    // broadcast the per-round rank/mass frames when the node set is
    // small: every iteration becomes map-only over the pinned edges +
    // one small agg exchange. Above the bound, fall back to the
    // pre-partitioned shuffle join — the 1B-node scale shape. The
    // explicit pick exists because the loop defeats AQE's estimation
    // even when AQE is on (each round's ranks is a fresh derived plan)
    val small = nNodes <= broadcastRanksMaxNodes
    val loop = loopSession(spark, nEdges)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (ev, bv, ov) = (s"graft_pr_e_$tag", s"graft_pr_b_$tag", s"graft_pr_o_$tag")
    try {
      e0.createOrReplaceGlobalTempView(ev)
      base0.createOrReplaceGlobalTempView(bv)
      // Small-graph edge pin: the caller pinned e at the SESSION
      // partition count (32 locally); the per-round e-pass then
      // schedules a full task wave per round for a few MB of cached
      // blocks — at 10 rounds that task-count overhead is most of the
      // loop's job wall (measured r15: ~30 jobs of 0.13–0.3 s,
      // jobWall ≈ wall). Coalesce the cached blocks to the loop's own
      // scale-adaptive geometry (narrow dependency — no shuffle, no
      // re-materialization; floor 4 keeps a compute wave for the
      // interpreted-eval rounds). Broadcast joins don't read the lost
      // hash-partitioning metadata; the big-graph shuffle path (which
      // does) keeps the caller's pre-partitioned pin untouched.
      val eParts = math.max(4L, loopPartsFor(spark, nEdges)).toInt
      val e = {
        val t = loop.table(s"global_temp.$ev")
        if (small) t.coalesce(eParts) else t
      }
      val base = loop.table(s"global_temp.$bv")
      var ranks = base.withColumn("pr", init)
      for (i <- 1 to iters) {
        val contrib = ranks
          .select(col("node").as("m_src"), (col("pr") / col("deg")).as("w"))
        val mass = e
          .join(if (small) broadcast(contrib) else contrib,
            col("src") === col("m_src"))
          .groupBy(col("dst"))
          .agg(sum(col("w")).as("mass"))
        // mass ⋈ base stays a SHUFFLE join on both paths (r15): on the
        // small path both sides are node-cardinality frames, and a
        // broadcast here costs a separate broadcast-build JOB per
        // round — the second of two, an r15 A/B measured the pair at
        // ~2/3 of the query's job wall — where the merge join is two
        // tiny in-job exchanges. The hint pins the strategy against
        // auto-broadcast so the loop's job count is deterministic.
        val massJ = if (small) mass.hint("merge") else mass
        val next = base
          .join(massJ, col("node") === col("dst"))
          .withColumn("pr", update)
          .drop("mass", "dst")
        // Lineage-cut policy gated on measured edge volume. Small
        // graphs: LAZY cut every 5 rounds — the whole loop runs as one
        // action at the end, and the block-store writes of extra cuts
        // cost more than the plan depth saves. Big graphs: EAGER cut
        // EVERY round. The distinction matters because a lazy cut
        // materializes nothing: with lazy cuts the single final action
        // executes all k rounds while every round's exchange files are
        // still plan-referenced (lineage only truncates as each
        // checkpoint completes inside that same action), so peak disk
        // is the SUM of all rounds' shuffle spill — measured ~15 GB ×
        // 10 rounds at 400M edges, ENOSPC on a 250 GB volume even with
        // per-round lazy cuts and aggressive periodic GC. An eager cut
        // runs each round as its own job, making prior rounds'
        // shuffles unreachable while the loop progresses (the k-core
        // loop gets this for free from its per-round isEmpty action) —
        // peak disk becomes ~2 rounds of spill. Threshold reuses the
        // 4M-edge gate: well below disk-significant spill, well above
        // the sf0.1 graphs where the lazy 5-cadence measured fastest.
        ranks =
          if (nEdges > loopCodegenMinRows) next.localCheckpoint(true)
          else if (i % 5 == 0 && i < iters) next.localCheckpoint(false)
          else next
      }
      ranks.select(col("node"), col("pr")).localCheckpoint(true)
        .createOrReplaceGlobalTempView(ov)
      // Dataset analysis is eager and inlines the view's plan (a scan
      // of the eager checkpoint), so the views can drop right after
      spark.table(s"global_temp.$ov")
    } finally {
      spark.catalog.dropGlobalTempView(ev)
      spark.catalog.dropGlobalTempView(bv)
      spark.catalog.dropGlobalTempView(ov)
      ()
    }
  }

  /** The rank family's shared loop-invariant inputs: the
    * src-partitioned+sorted edge pin, the degree table, and their
    * counts. q_pagerank and q_ppr_seed consume the SAME coOrderEdges
    * frame; before r16 each query re-paid the pin shuffle+sort, the
    * degree build, and two counting jobs — [[coOrderRankPin]] memoizes
    * all of it per (session, sfDir), the [[coOrderEdges]] convention
    * one level up. Pure sharing of identical deterministic frames:
    * each consumer's computation is unchanged. */
  private[ops] final case class RankPin(
      e: DataFrame, deg: DataFrame, nEdges: Long, nNodes: Long)

  private[ops] def rankPin(edges: DataFrame): RankPin = {
    // pin the loop-invariant frames: every round's job references the
    // edge list and the degree base — without the (lazy)
    // localCheckpoint each of the k materializations would re-derive
    // them from source (for a derived graph like the co-order edges
    // that is 3 shuffles × k rounds; measured 24 s → 6 s at sf0.1).
    // The pin is PRE-PARTITIONED on the round-join key: localCheckpoint
    // preserves the partitioning/ordering metadata, so the shuffle-path
    // mass joins never re-exchange or re-sort the edge list
    val e = edges.repartition(col("src")).sortWithinPartitions("src")
      .localCheckpoint(false)
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("double").as("deg"))
      .localCheckpoint(false)
    // one pass materializes both pins (deg derives from e, so its count
    // caches e en route); e's count is then an O(cached) read
    val nNodes = deg.count()
    val nEdges = e.count()
    RankPin(e, deg, nEdges, nNodes)
  }

  private[ops] def coOrderRankPin(
      s: org.apache.spark.sql.SparkSession, d: String): RankPin =
    TrainedCache.getOrTrain("co_order_rank_pin_full", d)(rankPin(coOrderEdges(s, d)))

  def pagerank(edges: DataFrame, iters: Int = defaultIters): DataFrame =
    pagerankPin(rankPin(edges), iters)

  private[ops] def pagerankPin(p: RankPin, iters: Int = defaultIters): DataFrame = {
    // node count as a broadcast 1-row cross join — no driver scalar in
    // the PLAN ([[rankLoop]] does read the pinned counts once for its
    // strategy picks, the CC small-graph-guard precedent)
    val nAgg = p.deg.agg(count(lit(1)).cast("double").as("n"))
    val base = p.deg.crossJoin(broadcast(nAgg)).localCheckpoint(false)
    rankLoop(p.e, base,
      init = lit(1.0) / col("n"),
      update = lit(teleport) / col("n") + lit(damping) * col("mass"),
      iters, knownCounts = Some((p.nNodes, p.nEdges)))
  }

  /** The identical computation as unrolled ANSI SQL over an `e(src,
    * dst)` CTE the caller supplies — one pr-block per iteration,
    * generated from the same constants as [[pagerank]].
    */
  def pagerankSql(edgeCte: String, iters: Int = defaultIters): String = {
    val blocks = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT d.node, d.deg, d.n, ($teleport / d.n + $damping * m.mass) AS pr
         |  FROM deg d JOIN (
         |    SELECT e.dst, sum(p.pr / p.deg) AS mass
         |    FROM e JOIN pr${i - 1} p ON e.src = p.node GROUP BY e.dst) m
         |  ON m.dst = d.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgeCte),
       |deg AS (
       |  SELECT src AS node, CAST(count(*) AS DOUBLE) AS deg,
       |    (SELECT CAST(count(DISTINCT src) AS DOUBLE) FROM e) AS n
       |  FROM e GROUP BY src),
       |pr0 AS (SELECT node, deg, n, 1.0 / n AS pr FROM deg),
       |$blocks
       |SELECT node, round(pr, 6) AS pr FROM pr$iters
       |ORDER BY pr DESC, node LIMIT 100""".stripMargin
  }

  /** Personalized PageRank (random walk with restart to a SEED set):
    * the seed-expansion primitive of web-corpus curation — rank every
    * node by proximity to a trusted seed list, then admit/weight
    * documents by that score. Same loop/pinning/fixed-iteration
    * scheme as [[pagerank]]; the teleport vector is s/|S| over the
    * seed indicator instead of 1/n. Nodes unreachable from the seeds
    * decay toward 0 but keep their rows (symmetric edges ⇒ the mass
    * join drops nothing).
    */
  def personalizedPagerank(
      edges: DataFrame, seeds: DataFrame, iters: Int = defaultIters): DataFrame =
    personalizedPagerankPin(rankPin(edges), seeds, iters)

  private[ops] def personalizedPagerankPin(
      p: RankPin, seeds: DataFrame, iters: Int = defaultIters): DataFrame = {
    val sd = p.deg
      .join(broadcast(seeds.select(col(seeds.columns.head).as("seed_node")).distinct()),
        col("node") === col("seed_node"), "left")
      .select(col("node"), col("deg"),
        when(col("seed_node").isNotNull, 1.0).otherwise(0.0).as("s"))
    val nsAgg = sd.agg(sum(col("s")).as("ns"))
    val base = sd.crossJoin(broadcast(nsAgg)).localCheckpoint(false)
    rankLoop(p.e, base,
      init = col("s") / col("ns"),
      update = lit(teleport) * col("s") / col("ns") + lit(damping) * col("mass"),
      iters, knownCounts = Some((p.nNodes, p.nEdges)))
  }

  /** [[personalizedPagerank]] as unrolled SQL; `seedCond` is a boolean
    * SQL expression over `node`. */
  def personalizedPagerankSql(
      edgeCte: String, seedCond: String, iters: Int = defaultIters): String = {
    val blocks = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT b.node, b.deg, b.s, b.ns,
         |    ($teleport * b.s / b.ns + $damping * m.mass) AS pr
         |  FROM bs b JOIN (
         |    SELECT e.dst, sum(q.pr / q.deg) AS mass
         |    FROM e JOIN pr${i - 1} q ON e.src = q.node GROUP BY e.dst) m
         |  ON m.dst = b.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgeCte),
       |deg AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
       |sd AS (SELECT node, deg, CASE WHEN $seedCond THEN 1.0 ELSE 0.0 END AS s FROM deg),
       |bs AS (SELECT node, deg, s, (SELECT sum(s) FROM sd) AS ns FROM sd),
       |pr0 AS (SELECT node, deg, s, ns, s / ns AS pr FROM bs),
       |$blocks
       |SELECT node, round(pr, 6) AS pr FROM pr$iters
       |ORDER BY pr DESC, node LIMIT 100""".stripMargin
  }

  /** Triangle counting over a SYMMETRIC edge list, per node. The
    * standard distributed algorithm (Suri & Vassilvitskii's MR
    * formulation): orient every edge from the lower (degree, node)
    * endpoint to the higher, so each triangle {a,b,c} survives as
    * exactly one oriented wedge + one closing edge. Orientation is the
    * whole scale story — it caps every node's out-degree at O(√E), so
    * the wedge join (the only superlinear step) generates
    * Σ outdeg(v)² = O(E^1.5) candidates worst-case instead of the
    * unbounded Σ deg(v)² a hub would produce; a web-graph hub with 10⁸
    * neighbors contributes NO wedges because all its edges point
    * inward. Three hash joins + one groupBy — no iteration, no state.
    * Returns (node, triangles) for every node in ≥1 triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    // orient: keep (u,v) iff (deg(u), u) < (deg(v), v) — a total order
    // on endpoints, so exactly one direction of each symmetric pair
    // survives
    val oriented = edges
      .join(deg.select(col("node").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("ddeg")), "dst")
      .filter(col("sdeg") < col("ddeg") ||
        (col("sdeg") === col("ddeg") && col("src") < col("dst")))
      .select("src", "dst")
    // wedges out of the low corner a: a→b, a→c with b<c (dedup the
    // unordered pair), then close with the oriented b↔c edge — the
    // closing edge's direction under the degree order is unknown, so
    // probe both
    val wedges = oriented.select(col("src").as("a"), col("dst").as("b"))
      .join(oriented.select(col("src").as("a"), col("dst").as("c")), "a")
      .filter(col("b") < col("c"))
    val closing = oriented.select(
      least(col("src"), col("dst")).as("b"), greatest(col("src"), col("dst")).as("c"))
    val tris = wedges.join(closing, Seq("b", "c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("triangles"))
  }

  /** [[triangleCounts]] as ANSI SQL over an `e(src, dst)` CTE. */
  def triangleCountsSql(edgeCte: String): String =
    s"""WITH e AS ($edgeCte),
       |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
       |o AS (
       |  SELECT e.src, e.dst FROM e
       |  JOIN deg ds ON ds.node = e.src JOIN deg dd ON dd.node = e.dst
       |  WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)),
       |tri AS (
       |  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
       |  FROM o w1 JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst
       |  JOIN (SELECT least(src, dst) AS b, greatest(src, dst) AS c FROM o) cl
       |  ON cl.b = w1.dst AND cl.c = w2.dst),
       |corners AS (
       |  SELECT a AS node FROM tri UNION ALL
       |  SELECT b FROM tri UNION ALL SELECT c FROM tri)
       |SELECT node, CAST(count(*) AS BIGINT) AS triangles
       |FROM corners GROUP BY node
       |ORDER BY triangles DESC, node LIMIT 100""".stripMargin

  /** k-core decomposition by fixed-round peeling over a SYMMETRIC edge
    * list: each round drops every node with degree < k and the edges
    * touching it; dropped nodes lower their neighbors' degrees, so the
    * peel cascades. `peels` is FIXED (the [[pagerank]] oracle scheme —
    * a convergence test could stop at different rounds on different
    * engines); at the query's k the cascade provably settles inside the
    * budget (verified 8-peel == 10-peel at every SF). Returns the
    * surviving (node, core_deg) — the canonical graph-shaped quality
    * gate (spam farms and boilerplate rings live in dense cores;
    * singletons and tendrils peel away).
    *
    * DELTA-PEELING (r8 — the 100M-edge soak exposed the old shape):
    * the previous implementation re-filtered AND re-checkpointed the
    * full shrinking edge set every round (two semi-joins, one
    * reshuffling all edges on dst), so 8 peels cost 8 × O(E) exchanges
    * — measured 17.4× wall at 10× edges once the per-round ~1.6 GB
    * exchanges crossed the local spill regime (SCALE.md §12c). The
    * rewrite communicates only REMOVALS: edges pin ONCE partitioned on
    * dst; per round, the removal set R = {alive, deg < k} (node-sized)
    * joins the pinned edges on dst to produce per-neighbor decrements,
    * and the node-sized degree frame updates. Every edge contributes to
    * exactly one removal event, so TOTAL join volume across ALL rounds
    * is ≤ O(E) — the per-round cost is proportional to the cascade
    * actually happening, not the graph. Survivor core_deg needs no
    * final edge pass: the maintained degree IS the within-survivors
    * degree (deg-0 survivors are dropped to match the edge-derived
    * output of the peel formulation exactly — the oracle's unrolled SQL
    * is unchanged and still hash-checks this row for row). R broadcasts
    * under the node-count guard; above it R shuffles to the pinned
    * edges' partitioning — per-round exchange bytes ∝ |R|, never ∝ E,
    * which is the 1B-node shape.
    *
    * `converge = true` is the LIBRARY mode: after the fixed budget it
    * keeps peeling until R is empty (the removal count is read off the
    * round's own driver-side bookkeeping), so the result is the true
    * k-core and every survivor's core_deg ≥ k is an invariant
    * (spec-enforced). The oracle query keeps the default fixed-round
    * mode because a convergence test is not expressible as a static
    * unrolled SQL twin.
    */
  def kCore(
      edges: DataFrame, k: Int, peels: Int = 8,
      converge: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    // pin edges ONCE, partitioned on dst — the side every round's
    // removal join probes; never re-materialized again
    val e0 = edges.repartition(col("dst")).localCheckpoint(false)
    val nEdges = e0.count()
    // guard on the NODE count (the removal set's size bound), not the
    // edge count: R ⊆ nodes, so a small node set broadcasts every
    // round's removals (~20 MB ceiling at 2.4M nodes) and the rounds
    // stay map-only over the pinned edges
    val nNodes = e0.select(col("src")).distinct().count()
    val small = nNodes <= broadcastRanksMaxNodes
    val loop = loopSession(spark, nEdges)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (ev, ov) = (s"graft_kc_e_$tag", s"graft_kc_o_$tag")
    try {
      e0.createOrReplaceGlobalTempView(ev)
      val e = loop.table(s"global_temp.$ev")
      // alive nodes with their CURRENT degree (within the alive set)
      var deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(false)
      var emptied = false // R empty ⇒ fixpoint: further peels are no-ops
      def peelOnce(): Unit = {
        if (!emptied) {
          val r = deg.filter(col("deg") < k).select(col("node").as("r_node"))
            .localCheckpoint(false) // referenced twice (join + count); node-sized
          if (r.isEmpty) { emptied = true }
          else {
            val dec = e.join(if (small) broadcast(r) else r, col("dst") === col("r_node"))
              .groupBy(col("src")).agg(count(lit(1)).as("kc_dec"))
            deg = deg.filter(col("deg") >= k)
              .join(dec, col("node") === col("src"), "left")
              .select(col("node"), (col("deg") - coalesce(col("kc_dec"), lit(0L))).as("deg"))
              .localCheckpoint(false) // node-sized lineage cut per round
          }
        }
      }
      for (_ <- 1 to peels) peelOnce()
      if (converge) while (!emptied) peelOnce()
      // deg-0 survivors have no edges in the peeled subgraph — the
      // edge-derived formulation (and the SQL twin) never emits them
      deg.filter(col("deg") > 0)
        .select(col("node"), col("deg").as("core_deg"))
        .localCheckpoint(true)
        .createOrReplaceGlobalTempView(ov)
      spark.table(s"global_temp.$ov")
    } finally {
      spark.catalog.dropGlobalTempView(ev)
      spark.catalog.dropGlobalTempView(ov)
      ()
    }
  }

  /** [[kCore]] as unrolled SQL over an `e(src, dst)` CTE. MATERIALIZED
    * is load-bearing: each peel references the previous edge set twice
    * (degree + filter), so an inlined CTE chain doubles work per level —
    * exponential in `peels`. */
  def kCoreSql(edgeCte: String, k: Int, peels: Int = 8): String = {
    val blocks = (1 to peels).map { i =>
      s"""keep$i AS MATERIALIZED (
         |  SELECT src AS node FROM e${i - 1} GROUP BY src HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN keep$i a ON e.src = a.node JOIN keep$i b ON e.dst = b.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED ($edgeCte),
       |$blocks
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM e$peels GROUP BY src
       |ORDER BY core_deg DESC, node""".stripMargin
  }

  /** Local clustering coefficient per node: cc(v) = 2·T(v) / (deg(v)
    * · (deg(v)−1)) — how close v's neighborhood is to a clique, the
    * per-node refinement of [[triangleCounts]]' cohesion signal. One
    * extra broadcast join over the triangle counts; nodes with deg < 2
    * are excluded (the coefficient is undefined). The division is a
    * single IEEE-correctly-rounded op on integer-valued doubles, so the
    * 6-dp rounding can never flip between engines (the q_tpch_q17
    * precedent).
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
    triangleCounts(edges)
      .join(deg, "node")
      .select(col("node"), col("triangles"), col("deg"),
        round(lit(2.0) * col("triangles") /
          (col("deg").cast("double") * (col("deg") - 1).cast("double")), 6)
          .as("cc"))
  }

  /** [[clusteringCoefficients]] as SQL over an `e(src, dst)` CTE. */
  def clusteringCoefficientsSql(edgeCte: String): String =
    s"""WITH e AS MATERIALIZED ($edgeCte),
       |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
       |o AS (
       |  SELECT e.src, e.dst FROM e
       |  JOIN deg ds ON ds.node = e.src JOIN deg dd ON dd.node = e.dst
       |  WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)),
       |tri AS (
       |  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
       |  FROM o w1 JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst
       |  JOIN (SELECT least(src, dst) AS b, greatest(src, dst) AS c FROM o) cl
       |  ON cl.b = w1.dst AND cl.c = w2.dst),
       |corners AS (
       |  SELECT a AS node FROM tri UNION ALL
       |  SELECT b FROM tri UNION ALL SELECT c FROM tri),
       |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
       |       FROM corners GROUP BY node)
       |SELECT tc.node, tc.triangles, CAST(d.deg AS BIGINT) AS deg,
       |  round(2.0 * tc.triangles / (d.deg * (d.deg - 1.0)), 6) AS cc
       |FROM tc JOIN deg d ON d.node = tc.node
       |WHERE d.deg >= 2
       |ORDER BY cc DESC, tc.node LIMIT 100""".stripMargin

  /** Co-order part graph from lineitem: parts appearing in the same
    * order are linked. The per-key self-join is bounded by order width
    * (≤ 7 lines in this schema; at 100 TB the same derivation bounds at
    * the basket-size cap, so the edge build is O(orders · width²), one
    * shuffle on orderkey).
    */
  /** HITS (Kleinberg '99) over a DIRECTED bipartite-style edge list
    * (hub → authority): auth = Σ hub-scores of pointers, hub = Σ
    * auth-scores pointed at, fixed iterations (the [[pagerank]] oracle
    * scheme — no convergence test). On the customer→part purchase
    * graph this is the classic buyer-breadth / item-authority
    * decomposition; HITS degenerates on a SYMMETRIC graph (E = Eᵀ
    * makes hubs ≡ authorities), which is why this operator takes the
    * directed order-derived edges rather than the co-order graph the
    * rest of the family uses.
    *
    * Normalization is DEFERRED to the end: every iterate is a scalar
    * multiple of the unnormalized power iterate (all scores positive,
    * normalization scales by a scalar), so one final mean-1 normalize
    * yields the identical ranking — and drops 2·iters scalar-sum
    * passes, each of which also re-executed its half-round's join+agg
    * for the total (the naive per-round shape measured 8.2 s at sf0.1;
    * this one 5.0 s in the same full-bench context). Magnitudes grow ~(d̄_hub·d̄_auth)^iters ≈ 1e16 at
    * sf0.1 — far inside double range, and positive-sum conditioning
    * keeps cross-engine drift at the usual ~1e-12 relative, absorbed
    * by the 6 dp rounding (scores surface ROUNDED and every rank is
    * taken on the rounded value with a node tie-break — the q_tpch_q15
    * rule).
    *
    * Scale shape: edges pinned once; each half-round is one edge-bound
    * join+agg whose node-sized score frame is broadcast under the
    * [[broadcastRanksMaxNodes]] guard (shuffle-join fallback above it,
    * the 1B-node shape) and lineage-cut per half-round.
    */
  def hits(edges: DataFrame, iters: Int = 5): DataFrame = {
    val spark = edges.sparkSession
    // sorted within the hub partitioning (r16): the merge-rounds path's
    // hub-side SMJ then needs no per-round sort of e; one 0.1 s-class
    // sort at pin time either way
    val e0 = edges.repartition(col("hub")).sortWithinPartitions("hub")
      .localCheckpoint(false)
    val nEdges = e0.count()
    // small-graph guard: the edge count upper-bounds both node counts
    // (edges are distinct (hub, auth) pairs), so when it already clears
    // the node bound the exact countDistinct pass — a 2× expand +
    // shuffle over the edge list — proves nothing and is skipped (r16).
    // Above the bound the exact counts decide, as before: a 100M-edge /
    // 1M-node graph must still take the broadcast path.
    val small = nEdges <= broadcastRanksMaxNodes || {
      val r = e0.agg(countDistinct(col("hub")), countDistinct(col("auth"))).collect()(0)
      math.max(r.getLong(0), r.getLong(1)) <= broadcastRanksMaxNodes
    }
    val loop = loopSession(spark, nEdges)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (ev, ov) = (s"graft_ht_e_$tag", s"graft_ht_o_$tag")
    try {
      e0.createOrReplaceGlobalTempView(ev)
      // Small-path round shape (r16): in-job MERGE joins over DUAL
      // edge pins instead of a broadcast build per half-round. The r15
      // shape paid one broadcast-exchange JOB per half-round (10 jobs
      // of 0.2-0.7 s each at sf0.1 — each also materializing the
      // previous round's lazy checkpoint); with both joins expressed as
      // SMJ over an edge pin partitioned+sorted on THAT join's key, the
      // whole loop runs as ONE final action whose per-round exchanges
      // carry only the node-sized score frames. The per-node float sums
      // stay inside the same cross-engine 6 dp tolerance the oracle
      // twin already absorbs (the summation order was never pinned —
      // DuckDB sums in its own order). Big path unchanged: the 1B-node
      // shape keeps the hub-pinned shuffle joins and eager cuts.
      val eH = loop.table(s"global_temp.$ev") // hub-partitioned + hub-sorted (the e0 layout)
      // the auth-side pin: one extra exchange+sort over the cached
      // blocks, materialized by the loop's first action
      val eA =
        if (small)
          eH.repartition(col("auth")).sortWithinPartitions("auth").localCheckpoint(false)
        else eH
      // eager per-half-round cuts above the size gate (the rankLoop
      // disk rationale: lazy cuts leave every round's shuffle live in
      // the one final action); lazy below it
      val eager = nEdges > loopCodegenMinRows
      var hub = eH.select(col("hub").as("node")).distinct()
        .withColumn("score", lit(1.0)).localCheckpoint(eager)
      var auth: DataFrame = null
      for (_ <- 1 to iters) {
        val h = hub.select(col("node").as("ht_h"), col("score"))
        auth = eH.join(if (small) h.hint("merge") else h, col("hub") === col("ht_h"))
          .groupBy(col("auth").as("node")).agg(sum(col("score")).as("score"))
          .localCheckpoint(eager)
        val a = auth.select(col("node").as("ht_a"), col("score"))
        hub = eA.join(if (small) a.hint("merge") else a, col("auth") === col("ht_a"))
          .groupBy(col("hub").as("node")).agg(sum(col("score")).as("score"))
          .localCheckpoint(eager)
      }
      // MEAN-1 normalization (score · n / Σscore), the pagerank
      // convention, NOT sum-1: surfaced scores are O(1) at ANY graph
      // size, so the 6 dp rounding the cross-engine hash needs stays
      // meaningful. Sum-1 scores shrink as 1/n — measured at the
      // 10M-node soak point, every score fell below 5e-7 and the
      // rounded output collapsed to zeros.
      def norm(df: DataFrame): DataFrame = {
        // frames are checkpointed: the total's pass reads the cut, not
        // the loop lineage
        val tot = df.agg(sum(col("score")).as("ht_tot"), count(lit(1)).as("ht_n"))
        df.crossJoin(broadcast(tot))
          .select(col("node"),
            (col("score") * col("ht_n") / col("ht_tot")).as("score"))
      }
      norm(hub).withColumn("kind", lit("hub"))
        .unionByName(norm(auth).withColumn("kind", lit("auth")))
        .select(col("kind"), col("node"), round(col("score"), 6).as("score"))
        .localCheckpoint(true)
        .createOrReplaceGlobalTempView(ov)
      spark.table(s"global_temp.$ov")
    } finally {
      spark.catalog.dropGlobalTempView(ev)
      spark.catalog.dropGlobalTempView(ov)
      ()
    }
  }

  /** [[hits]] as unrolled SQL over an `e(hub, auth)` CTE: raw power
    * iterates per half-round, one mean-1 normalize (score · n /
    * Σscore, matching the Scala multiply-then-divide order) + rounding
    * at the end (the deferred-normalization identity the Scala loop
    * documents). */
  def hitsSql(edgeCte: String, iters: Int = 5): String = {
    val rounds = (1 to iters).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT e.auth AS node, sum(h.score) AS score
         |  FROM e JOIN h${i - 1} h ON h.node = e.hub GROUP BY e.auth),
         |h$i AS MATERIALIZED (
         |  SELECT e.hub AS node, sum(a.score) AS score
         |  FROM e JOIN a$i a ON a.node = e.auth GROUP BY e.hub)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgeCte),
       |h0 AS (SELECT DISTINCT hub AS node, CAST(1.0 AS DOUBLE) AS score FROM e),
       |$rounds,
       |both_kinds AS (
       |  SELECT 'hub' AS kind, node,
       |    round(score * (SELECT count(*) FROM h$iters) / (SELECT sum(score) FROM h$iters), 6) AS score
       |  FROM h$iters
       |  UNION ALL
       |  SELECT 'auth' AS kind, node,
       |    round(score * (SELECT count(*) FROM a$iters) / (SELECT sum(score) FROM a$iters), 6) AS score
       |  FROM a$iters)
       |SELECT kind, node, score FROM (
       |  SELECT kind, node, score,
       |    row_number() OVER (PARTITION BY kind ORDER BY score DESC, node) AS rn
       |  FROM both_kinds)
       |WHERE rn <= 100 ORDER BY kind, score DESC, node""".stripMargin
  }

  /** Deterministic label propagation (synchronous min-mode LPA,
    * Raghavan et al. '07 made order-free): labels start as node ids;
    * each FIXED round every node adopts the most frequent label among
    * its neighbors, ties to the smallest label. The classic
    * asynchronous sweep is visit-order-dependent — useless under a
    * cross-engine hash oracle — while the synchronous min-mode variant
    * is a pure function of the graph, and its state is integer-only,
    * so the unrolled SQL twin is hash-EXACT (no float-ranking caveat).
    * Communities on a co-occurrence graph are the domain-clustering
    * signal a data-mixing pipeline feeds sampling weights from.
    *
    * Scale shape: edges pin ONCE partitioned on dst (the side every
    * round's vote join probes); per round one join edges⋈labels plus a
    * two-level aggregate — (src, label) partial counts map-side, then
    * an argmax per src via struct-max (partial-aggregable, no window
    * over the full vote set). All shuffle volume is edge-bound; the
    * node-sized label frame broadcasts under the same node-count guard
    * as the rank loops, and falls back to a shuffle join above it.
    *
    * ROUND-1 ALGEBRAIC COLLAPSE (`distinctEdges`, default on): initial
    * labels are node ids, so with a DISTINCT edge set every neighbor
    * casts exactly one vote for its own id — every count ties at 1 and
    * the min tie-break makes round 1's mode exactly `min(neighbor)`.
    * That turns the WORST round (all labels distinct — the one round
    * where map-side combine reduces nothing and the (src,lbl) state is
    * full pair cardinality, SCALE.md §12j/§14a) into a join-free
    * node-state `min` aggregate. Rounds ≥2 keep the general mode agg,
    * whose label diversity — and so pair state — shrinks as communities
    * collapse. Callers with MULTI-edge voting semantics must pass
    * `distinctEdges = false`; every caller in this repo (co-occurrence
    * edges, the specs' generated graphs, the SQL twin's set-derived CTE) is
    * set-shaped, matching the brute-force spec's Set[(src,dst)] model.
    *
    * The collapse additionally requires every dst to also appear as
    * src (true of all in-repo callers, whose graphs are undirected
    * pair sets materialized both ways): on a distinct but DIRECTED
    * graph, a src all of whose neighbors never appear as src gets NO
    * vote from the general join path (its dsts carry no label) and is
    * dropped from the label frame, while the collapse would hand it
    * lbl=min(dst) — distinctness alone does not buy the equivalence.
    * That precondition is CHECKED, not doc-trusted (r14): one
    * distinct-count over src ∪ dst proves dst-set ⊆ src-set
    * (|src ∪ dst| = |src|), and when it fails the loop silently takes
    * the general vote path for round 1 — correct for directed
    * callers, at the cost of one extra counting pass per call (cheap
    * next to one LPA round). Callers whose graphs are symmetric BY
    * CONSTRUCTION (an undirected pair set materialized both ways —
    * every in-repo caller) assert it with `symmetricEdges = true` and
    * skip the probe: at 400M edges the probe is a full extra
    * 2E-distinct shuffle pass per call that proves what the edge
    * builder already guarantees. The checked probe stays the DEFAULT —
    * an external caller who merely believes their graph is symmetric
    * gets the guard, not a wrong collapse. The multigraph/directed
    * boundaries are spec-pinned in GraphOpsSpec.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 5,
      distinctEdges: Boolean = true,
      symmetricEdges: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val e0 = edges.repartition(col("dst")).localCheckpoint(false)
    val nEdges = e0.count()
    val nNodes = e0.select(col("src")).distinct().count()
    val small = nNodes <= broadcastRanksMaxNodes
    // collapse precondition, checked (see Scaladoc): dst-set ⊆ src-set
    // iff |src ∪ dst| = |src| — when a directed caller leaves
    // distinctEdges at the default, the guard silently routes round 1
    // through the general (correct) vote path instead of a wrong
    // collapse. One distinct-count over 2E cached rows — skipped when
    // the caller ASSERTS symmetry (symmetricEdges): known-undirected
    // callers shouldn't pay a full extra shuffle pass to prove their
    // own edge builder's postcondition.
    val collapseOk = distinctEdges && (symmetricEdges || {
      val nUnion = e0.select(col("src"))
        .unionAll(e0.select(col("dst").as("src"))).distinct().count()
      nUnion == nNodes
    })
    // Pair-aware partitioning MEASURED OFF (SCALE.md §14a): §12j
    // attributed LPA's cost to (src,lbl) vote state at EDGE
    // cardinality, and the statePerPartRows knob sized tasks to ~1.5M
    // pairs (266 partitions at 400M edges vs the session 128) to pull
    // per-task agg state under the sort-fallback threshold. Quiet
    // A/B at 400M: 981.2 s with the knob vs 927.3 s without, on a box
    // its own 40M calibration stage measured 13% FASTER — the extra
    // tasks' fixed per-round cost (scheduling + exchange fan-out
    // across ~10 joins/round × 5 rounds) cancels the state relief on
    // this box. The state is irreducible by partition count; the knob
    // stays available in loopSession for disk-bound clusters where
    // spill, not scheduling, dominates.
    val loop = loopSession(spark, nEdges)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (ev, ov) = (s"graft_lp_e_$tag", s"graft_lp_o_$tag")
    try {
      e0.createOrReplaceGlobalTempView(ev)
      val e = loop.table(s"global_temp.$ev")
      var labels = e.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node"))
      for (i <- 1 to iters) {
        if (i == 1 && collapseOk) {
          // round 1 against identity labels: min(neighbor id), no join,
          // node-cardinality agg state (see the Scaladoc collapse note)
          labels = e.groupBy(col("src").as("node")).agg(min(col("dst")).as("lbl"))
          if (iters > 1) labels = labels.localCheckpoint(nEdges > loopCodegenMinRows)
        } else {
        val lb = (if (small) broadcast(labels) else labels)
          .select(col("node").as("lp_n"), col("lbl"))
        val votes = e.join(lb, col("dst") === col("lp_n"))
        // The vote-mode aggregation: groupBy(src,lbl) → groupBy(src)
        // lets each agg pick its own exchange — TWO exchanges per
        // round, and the (src,lbl) partial state is PAIR-cardinality
        // (labels start all-distinct, so map-side combine reduces
        // nothing early — the HITS comparison's missing 2×: sum aggs
        // collapse to NODE-cardinality state immediately). A one-
        // exchange shape (repartition(src) first) measured a wash at
        // soak scale and was removed (SCALE.md §12j).
        val counted = votes
          .groupBy(col("src"), col("lbl"))
          .agg(count(lit(1)).as("lp_c"))
          // argmax by (count, then SMALLEST label): max of (c, -lbl)
          // picks max count and, among ties, the max negated label =
          // the min label — one partial-aggregable pass, no window
          .groupBy(col("src").as("node"))
          .agg(max(struct(col("lp_c").as("c"), (-col("lbl")).as("nl"))).as("m"))
        val next = counted.select(col("node"), (-col("m.nl")).as("lbl"))
        // node-sized lineage cut per round (the CC discipline); eager
        // above the size gate so big-graph rounds release their
        // shuffle spill as the loop progresses (rankLoop rationale)
        labels =
          if (i < iters) next.localCheckpoint(nEdges > loopCodegenMinRows) else next
        }
      }
      labels.select(col("node"), col("lbl").as("community"))
        .localCheckpoint(true)
        .createOrReplaceGlobalTempView(ov)
      spark.table(s"global_temp.$ov")
    } finally {
      spark.catalog.dropGlobalTempView(ev)
      spark.catalog.dropGlobalTempView(ov)
      ()
    }
  }

  /** [[labelPropagation]] as unrolled SQL over an `e(src, dst)` CTE.
    * `e` is MATERIALIZED (referenced every round); each round's label
    * CTE is referenced once, so the chain stays linear. The SQL argmax
    * is the window formulation (count DESC, label ASC) — integer-only,
    * so it matches the Spark struct-max bit-for-bit.
    */
  def labelPropagationSql(edgeCte: String, iters: Int = 5): String = {
    val rounds = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT e.src AS node, l.lbl,
         |      row_number() OVER (PARTITION BY e.src ORDER BY count(*) DESC, l.lbl) AS rn
         |    FROM e JOIN l${i - 1} l ON l.node = e.dst
         |    GROUP BY e.src, l.lbl)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgeCte),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |$rounds
       |SELECT node, lbl AS community FROM l$iters ORDER BY node""".stripMargin
  }

  /** Deterministic random walks (the DeepWalk/node2vec corpus step —
    * graph-embedding trainers consume exactly this (seed, step, node)
    * table, and GraphSAGE-style neighbor sampling is the same
    * mechanic): from each seed, `steps` hops where hop t leaves node u
    * through its `1 + (H(seed,t,u) mod deg(u))`-th neighbor in
    * dst-sorted order. H is an md5-derived 32-bit uniform
    * (`md5("seed:t:node")` first 8 hex digits), so the walk is pure
    * integer/hash arithmetic — bit-identical on any engine, stable
    * under repartitioning, append-stable in the [[ProfileOps]]
    * md5-keying tradition (xxhash64 would be the production fast path,
    * the documented twin convention).
    *
    * Scale shape: the dst-sorted adjacency (nbr_rank, deg via one
    * window pass) is pinned ONCE partitioned on src; each hop is one
    * join of the walk frontier against it. At oracle seed counts the
    * frontier broadcasts (map-only over the pinned adjacency); at
    * production walk counts (one walk per node — the DeepWalk regime)
    * the frontier is repartitioned on the current node and the hop is
    * a co-partitioned shuffle join, frontier-sized exchange per hop,
    * never adjacency-sized. Frontier never grows: exactly one row per
    * (seed, step).
    */
  /** `epoch` salts the hop hashes (DeepWalk's `num_walks`: r
    * independent walks per seed = union over r epochs, each
    * deterministic and replayable on its own — the
    * [[ExportOps]] epoch-reshuffle convention applied to walks).
    * Epoch 0 is hash-compatible with the unsalted original. */
  def randomWalks(
      edges: DataFrame, seeds: DataFrame, steps: Int = 5,
      epoch: Int = 0): DataFrame =
    // epoch 0 keeps the unsalted input (hash-compatible with the
    // oracle twin); other epochs prepend the salt
    uniformWalkLoop(edges, seeds, steps, t =>
      conv(substring(md5(
        if (epoch == 0) concat_ws(":", col("seed"), lit(t), col("node"))
        else concat_ws(":", lit(epoch), col("seed"), lit(t), col("node"))),
        1, 8), 16, 10).cast("long"))

  /** xxhash64 production twin of [[randomWalks]] — the documented twin
    * convention (minhash/simhash precedent): identical hop-selection
    * body via [[uniformWalkLoop]], but the per-hop uniform comes from
    * `xxhash64(seed, t, node)` over NATIVE columns — no per-hop string
    * materialization, no md5 — so a 100 TB walk run pays one codegen'd
    * long hash per frontier row instead of a string build + md5 + hex
    * parse. Engine-only hash ⇒ oracle-covered via the [[OracleDump]]
    * hop-hash dump (the walk output determines exactly which
    * (seed, t, node) hashes the replay consumes — one per walk
    * position, unique by (seed, t)). Walk paths differ from the md5
    * variant by construction (different hash, different picks); the
    * CONTRACT (one row per (seed, step), every hop an edge, pick =
    * 1 + H mod deg) is the same and is what the oracle replays.
    */
  def randomWalksXx(
      edges: DataFrame, seeds: DataFrame, steps: Int = 5,
      epoch: Int = 0): DataFrame =
    uniformWalkLoop(edges, seeds, steps, t =>
      if (epoch == 0) xxhash64(col("seed"), lit(t), col("node"))
      else xxhash64(lit(epoch), col("seed"), lit(t), col("node")))

  /** Shared hop-selection body of [[randomWalks]]/[[randomWalksXx]]:
    * `hopHash(t)` is any deterministic long over (`seed`, `node`) —
    * the pick is `1 + pmod(hopHash, deg)` in dst-sorted order. */
  private def uniformWalkLoop(
      edges: DataFrame, seeds: DataFrame, steps: Int,
      hopHash: Int => Column): DataFrame = {
    val wOrd = Window.partitionBy(col("src")).orderBy(col("dst"))
    val wAll = Window.partitionBy(col("src"))
    val adj0 = edges.select(
        col("src"), col("dst"),
        row_number().over(wOrd).as("nbr_rank"),
        count(lit(1)).over(wAll).as("deg"))
      .repartition(col("src"))
      .localCheckpoint(false)
    // frontier-size gate, the rankLoop discipline: oracle-sized seed
    // sets broadcast into the hop join (map-only over the pinned
    // adjacency); the DeepWalk regime (one walk per node) exceeds any
    // sane broadcast, so big frontiers take the co-partitioned shuffle
    // join — frontier-sized exchange per hop, never adjacency-sized.
    // Eager per-hop cuts above the edge gate for the same disk reason
    // as the rank loops.
    val nSeeds = seeds.count()
    val small = nSeeds <= broadcastRanksMaxNodes
    val nAdj = adj0.count()
    val eager = nAdj > loopCodegenMinRows
    // small-frontier adjacency coalesce, the rankLoop edge-pin
    // rationale (r15): each of the `steps` hop passes schedules a full
    // session-width task wave over a few MB of cached blocks; the
    // broadcast hop join never reads the lost hash-partitioning. The
    // big-frontier co-partitioned path keeps the src-partitioned pin.
    val adj =
      if (small)
        adj0.coalesce(math.max(4L, loopPartsFor(edges.sparkSession, nAdj)).toInt)
      else adj0
    var frontier = seeds.select(col("node").as("seed"), col("node"))
    var acc = List(frontier.withColumn("step", lit(0)))
    for (t <- 1 to steps) {
      val pick = pmod(hopHash(t), col("deg")) + lit(1L)
      val f = if (small) broadcast(frontier) else frontier.repartition(col("node"))
      frontier = adj.join(f, col("node") === col("src"))
        .filter(col("nbr_rank") === pick)
        .select(col("seed"), col("dst").as("node"))
        .localCheckpoint(eager)
      acc ::= frontier.withColumn("step", lit(t))
    }
    acc.reverse.reduce(_ unionByName _)
      .select(col("seed"), col("step"), col("node")).orderBy("seed", "step")
  }

  /** node2vec biased walks (Grover & Leskovec '16): hop t from node u
    * (arrived from `prev`) weights each candidate neighbor x by 1/p if
    * x = prev (return), 1 if x is adjacent to prev (BFS-ish), else 1/q
    * (DFS-ish); the first hop is uniform. The pick is inverse-CDF over
    * the dst-ordered cumulative weights at an md5-derived dyadic
    * uniform u = H/2^32 — with 1/p and 1/q DYADIC (p, q powers of
    * two), every weight, prefix sum, and u·total product is an EXACT
    * double, so the selection compares exact values and the walk is
    * engine-exact like [[randomWalks]] (non-dyadic p/q would put
    * selection one ulp from flipping; the oracle query uses p=2, q=4).
    *
    * Scale shape: per hop, candidates = frontier ⋈ adjacency (one row
    * per neighbor of each walk head — O(walks · d̄), the inherent
    * node2vec cost), the prev-adjacency mark is one more edge-keyed
    * join, and the pick is a per-seed window over the candidate set —
    * everything keyed, nothing quadratic, frontier never grows.
    */
  def node2vecWalks(
      edges: DataFrame, seeds: DataFrame, steps: Int = 5,
      p: Double = 2.0, q: Double = 4.0): DataFrame =
    node2vecWalkLoop(edges, seeds, steps, p, q, t =>
      conv(substring(md5(concat_ws(":",
        col("seed"), lit(t), col("node"))), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0))

  /** xxhash64 production twin of [[node2vecWalks]] (same convention as
    * [[randomWalksXx]]): identical biased-pick body via
    * [[node2vecWalkLoop]], per-hop uniform u = (xxhash64(seed, t,
    * node) mod 2^32) / 2^32 over native columns — 32 low-entropy-free
    * bits, so u is an exact dyadic double like the md5 variant and the
    * inverse-CDF comparison stays engine-exact. Oracle-covered via the
    * [[OracleDump]] hop-hash dump of the 32-bit values the replay
    * consumes. */
  def node2vecWalksXx(
      edges: DataFrame, seeds: DataFrame, steps: Int = 5,
      p: Double = 2.0, q: Double = 4.0): DataFrame =
    node2vecWalkLoop(edges, seeds, steps, p, q, t =>
      pmod(xxhash64(col("seed"), lit(t), col("node")), lit(4294967296L))
        .cast("double") / lit(4294967296.0))

  /** Degree-capped node2vec — the scale-safe production twin of
    * [[node2vecWalks]] (GraphSAGE-style bounded fan-out): at each hop,
    * every CURRENT node's neighbor list is first sampled down to the
    * `cap` neighbors with the smallest md5 rank (`md5("cap:t:node:
    * cand")`, ties by cand), and the biased inverse-CDF pick then runs
    * over ≤cap candidates. The sample stream is keyed by (t, node,
    * cand) — seed-INDEPENDENT — which is both the GraphSAGE semantics
    * (one sampled fan-out per node per layer, shared by every walker
    * on it) and the scale fix: the exact variant's per-seed window
    * sorts the full neighbor list of the current node once PER WALKER
    * per hop, so a 100M-degree hub with 10k walkers on it sorts 10^12
    * rows; here the hub's list is rank-REDUCED once per hop through
    * [[graft.functions.TopKAgg]]'s capacity-bounded partial buffers
    * (map-side combine to K per partition, no whole-list sort, no
    * single-task frame), and the per-hop cost is Σ deg(distinct
    * current nodes) ≤ E streamed through a bounded aggregation.
    *
    * Exactness contract: a node with deg ≤ cap keeps its FULL neighbor
    * list (rank filter passes everything), so on a graph with max
    * degree ≤ cap the capped walk is row-identical to
    * [[node2vecWalks]] — the spec pins this equivalence, and the
    * planted-hub soak pins the bounded-cost claim. */
  def node2vecWalksCapped(
      edges: DataFrame, seeds: DataFrame, steps: Int = 5,
      p: Double = 2.0, q: Double = 4.0, cap: Int = 16): DataFrame =
    node2vecWalkLoop(edges, seeds, steps, p, q, t =>
      conv(substring(md5(concat_ws(":",
        col("seed"), lit(t), col("node"))), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0), cap = cap)

  /** Shared biased-pick body of [[node2vecWalks]]/[[node2vecWalksXx]]/
    * [[node2vecWalksCapped]]: `hopU(t)` is any deterministic
    * exact-dyadic uniform in [0, 1) over (`seed`, `node`); `cap` > 0
    * bounds each hop's candidate fan-out per current node. */
  private def node2vecWalkLoop(
      edges: DataFrame, seeds: DataFrame, steps: Int,
      p: Double, q: Double, hopU: Int => Column, cap: Int = 0): DataFrame = {
    val adj0 = edges.repartition(col("src")).localCheckpoint(false)
    val nSeeds = seeds.count()
    val small = nSeeds <= broadcastRanksMaxNodes
    val nAdj = adj0.count()
    val eager = nAdj > loopCodegenMinRows
    // small-frontier adjacency coalesce (r15) — see uniformWalkLoop;
    // the candidate fan-out and the prev-mark join both re-pass the
    // pinned adjacency every hop
    val adj =
      if (small)
        adj0.coalesce(math.max(4L, loopPartsFor(edges.sparkSession, nAdj)).toInt)
      else adj0
    var frontier = seeds.select(
      col("node").as("seed"), col("node"), lit(null).cast("long").as("prev"))
    var acc = List(frontier.select(col("seed"), lit(0).as("step"), col("node")))
    val wSum = Window.partitionBy(col("seed"))
    val wCum = Window.partitionBy(col("seed")).orderBy(col("cand"))
    for (t <- 1 to steps) {
      val f = if (small) broadcast(frontier) else frontier.repartition(col("node"))
      // hop adjacency: full fan-out, or the cap-K hash-rank sample per
      // current node (built from only the CURRENT nodes' lists — a
      // semi-join first, so the per-hop aggregation streams
      // Σ deg(distinct current nodes), processed once per NODE even
      // when thousands of walkers sit on it)
      val hopAdj =
        if (cap <= 0) adj
        else {
          import edges.sparkSession.implicits._
          val cur = frontier.select(col("node")).distinct()
          val curAdj = adj.join(
            if (small) broadcast(cur) else cur, col("src") === col("node"), "leftsemi")
          val topk = new graft.functions.TopKAgg(cap)
          curAdj
            .select(
              col("src"),
              // negated 32-bit rank: TopKAgg keeps k LARGEST by
              // (value desc, id asc) = k smallest hashes, ties by dst
              negate(conv(substring(md5(concat_ws(":",
                lit("cap"), lit(t), col("src"), col("dst"))), 1, 8), 16, 10)
                .cast("long").cast("double")).as("v"),
              col("dst"))
            .as[(Long, Double, Long)]
            .groupByKey(_._1)
            .mapValues(r => (r._2, r._3))
            .agg(topk.toColumn)
            .toDF("src", "topk")
            .select(col("src"), explode(col("topk.items")).as("e"))
            .select(col("src"), col("e.id").as("dst"))
        }
      val cands = hopAdj.join(f, col("node") === col("src"))
        .select(col("seed"), col("node"), col("prev"), col("dst").as("cand"))
      val marked = cands.join(
        adj.select(col("src").as("m_s"), col("dst").as("m_d")),
        col("cand") === col("m_s") && col("prev") === col("m_d"), "left")
      val wt = when(col("prev").isNull, lit(1.0))
        .when(col("cand") === col("prev"), lit(1.0 / p))
        .when(col("m_s").isNotNull, lit(1.0))
        .otherwise(lit(1.0 / q))
      val u = hopU(t)
      frontier = marked
        .withColumn("wt", wt)
        .withColumn("cumw", sum(col("wt")).over(wCum))
        .withColumn("wsum", sum(col("wt")).over(wSum))
        .filter(col("cumw") >= u * col("wsum"))
        .withColumn("rn", row_number().over(wCum))
        .filter(col("rn") === 1)
        .select(col("seed"), col("cand").as("node"), col("node").as("prev"))
        .localCheckpoint(eager)
      acc ::= frontier.withColumn("step", lit(t)).select("seed", "step", "node")
    }
    acc.reverse.reduce(_ unionByName _).orderBy("seed", "step")
  }

  /** [[node2vecWalks]] as unrolled SQL (p=2, q=4 dyadic weights —
    * 0.5 / 1.0 / 0.25 exact). */
  def node2vecWalksSql(
      edgeCte: String, steps: Int = 5, p: Double = 2.0, q: Double = 4.0): String = {
    val (rp, rq) = (1.0 / p, 1.0 / q)
    val hops = (1 to steps).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT w.seed, w.node, w.prev, a.dst AS cand,
         |    CASE WHEN w.prev IS NULL THEN CAST(1.0 AS DOUBLE)
         |         WHEN a.dst = w.prev THEN CAST($rp AS DOUBLE)
         |         WHEN m.src IS NOT NULL THEN CAST(1.0 AS DOUBLE)
         |         ELSE CAST($rq AS DOUBLE) END AS wt,
         |    CAST(CAST(('0x' || substr(md5(w.seed || ':' || $t || ':' || w.node), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
         |  FROM w${t - 1} w
         |  JOIN e a ON a.src = w.node
         |  LEFT JOIN e m ON m.src = a.dst AND m.dst = w.prev),
         |w$t AS MATERIALIZED (
         |  SELECT seed, cand AS node, node AS prev FROM (
         |    SELECT seed, node, cand,
         |      row_number() OVER (PARTITION BY seed ORDER BY cand) AS rn
         |    FROM (
         |      SELECT seed, node, cand, u,
         |        sum(wt) OVER (PARTITION BY seed ORDER BY cand) AS cumw,
         |        sum(wt) OVER (PARTITION BY seed) AS wsum
         |      FROM c$t)
         |    WHERE cumw >= u * wsum)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 to steps)
      .map(t => s"SELECT seed, $t AS step, node FROM w$t")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH e AS MATERIALIZED ($edgeCte),
       |seeds AS (SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 100),
       |w0 AS (SELECT node AS seed, node, CAST(NULL AS BIGINT) AS prev FROM seeds),
       |$hops
       |SELECT seed, step, node FROM (
       |  $union)
       |ORDER BY seed, step""".stripMargin
  }

  /** Skip-gram training pairs from [[randomWalks]] output — the
    * DeepWalk corpus: every ordered (center, context) node pair within
    * `window` hops of each other on the SAME walk. One self-join per
    * walk keyed on seed with a bounded step-distance residual; output
    * ∝ walks · steps · window, never quadratic in the graph.
    */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame =
    walks.select(col("seed"), col("step").as("c_step"), col("node").as("center"))
      .join(
        walks.select(col("seed"), col("step").as("x_step"), col("node").as("context")),
        Seq("seed"))
      .filter(col("c_step") =!= col("x_step") &&
        abs(col("c_step") - col("x_step")) <= window)
      .select(col("seed"), col("c_step"), col("center"), col("x_step"), col("context"))

  /** [[randomWalks]] as unrolled SQL over an `e(src, dst)` CTE:
    * identical dst-sorted ranking, md5 choice, and hop joins; seeds
    * are the 100 smallest node ids of the edge set. */
  def randomWalksSql(
      edgeCte: String, steps: Int = 5, ordered: Boolean = true): String = {
    val hops = (1 to steps).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT w.seed, a.dst AS node
         |  FROM w${t - 1} w JOIN adj a ON a.src = w.node
         |   AND a.nbr_rank = 1 + (CAST(('0x' || substr(md5(w.seed || ':' || $t || ':' || w.node), 1, 8)) AS BIGINT) % a.deg))""".stripMargin
    }.mkString(",\n")
    val union = (0 to steps)
      .map(t => s"SELECT seed, $t AS step, node FROM w$t")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH e AS MATERIALIZED ($edgeCte),
       |adj AS MATERIALIZED (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) AS nbr_rank,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM e),
       |seeds AS (SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 100),
       |w0 AS (SELECT node AS seed, node FROM seeds),
       |$hops
       |SELECT seed, step, node FROM (
       |  $union)${if (ordered) "\nORDER BY seed, step" else ""}""".stripMargin
  }

  /** [[randomWalksXx]]'s DuckDB twin: the same unrolled hop CTEs as
    * [[randomWalksSql]], but the per-hop hash comes from the
    * [[OracleDump]] hop-hash dump `(seed, t, node, h)` — the SIGNED
    * xxhash64 longs the Spark run consumed, one per walk position
    * (unique by (seed, t)). The replay re-derives everything AROUND
    * the engine-only hash: dst-sorted adjacency ranking, the
    * sign-safe pmod pick `1 + ((h % deg) + deg) % deg`, the hop
    * joins, union, and ordering — a wrong pick or a dropped hop row
    * breaks the inner join and the row-count/hash compare. */
  def randomWalksXxSql(edgeCte: String, steps: Int = 5): String = {
    val hops = (1 to steps).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT w.seed, a.dst AS node
         |  FROM w${t - 1} w
         |  JOIN hd h ON h.seed = w.seed AND h.t = $t AND h.node = w.node
         |  JOIN adj a ON a.src = w.node
         |   AND a.nbr_rank = 1 + ((h.h % a.deg) + a.deg) % a.deg)""".stripMargin
    }.mkString(",\n")
    val union = (0 to steps)
      .map(t => s"SELECT seed, $t AS step, node FROM w$t")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH e AS MATERIALIZED ($edgeCte),
       |adj AS MATERIALIZED (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) AS nbr_rank,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM e),
       |hd AS MATERIALIZED (
       |  SELECT seed, t, node, h FROM read_parquet('${OracleDump.path("q_random_walks_xx")}')),
       |seeds AS (SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 100),
       |w0 AS (SELECT node AS seed, node FROM seeds),
       |$hops
       |SELECT seed, step, node FROM (
       |  $union)
       |ORDER BY seed, step""".stripMargin
  }

  /** [[node2vecWalksXx]]'s DuckDB twin: [[node2vecWalksSql]]'s biased
    * inverse-CDF pick with u = h / 2^32 over the [[OracleDump]]
    * hop-hash dump of 32-bit values (exact dyadic doubles on both
    * engines). */
  def node2vecWalksXxSql(
      edgeCte: String, steps: Int = 5, p: Double = 2.0, q: Double = 4.0): String = {
    val (rp, rq) = (1.0 / p, 1.0 / q)
    val hops = (1 to steps).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT w.seed, w.node, w.prev, a.dst AS cand,
         |    CASE WHEN w.prev IS NULL THEN CAST(1.0 AS DOUBLE)
         |         WHEN a.dst = w.prev THEN CAST($rp AS DOUBLE)
         |         WHEN m.src IS NOT NULL THEN CAST(1.0 AS DOUBLE)
         |         ELSE CAST($rq AS DOUBLE) END AS wt,
         |    CAST(h.h AS DOUBLE) / 4294967296.0 AS u
         |  FROM w${t - 1} w
         |  JOIN hd h ON h.seed = w.seed AND h.t = $t AND h.node = w.node
         |  JOIN e a ON a.src = w.node
         |  LEFT JOIN e m ON m.src = a.dst AND m.dst = w.prev),
         |w$t AS MATERIALIZED (
         |  SELECT seed, cand AS node, node AS prev FROM (
         |    SELECT seed, node, cand,
         |      row_number() OVER (PARTITION BY seed ORDER BY cand) AS rn
         |    FROM (
         |      SELECT seed, node, cand, u,
         |        sum(wt) OVER (PARTITION BY seed ORDER BY cand) AS cumw,
         |        sum(wt) OVER (PARTITION BY seed) AS wsum
         |      FROM c$t)
         |    WHERE cumw >= u * wsum)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 to steps)
      .map(t => s"SELECT seed, $t AS step, node FROM w$t")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH e AS MATERIALIZED ($edgeCte),
       |hd AS MATERIALIZED (
       |  SELECT seed, t, node, h FROM read_parquet('${OracleDump.path("q_node2vec_walks_xx")}')),
       |seeds AS (SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 100),
       |w0 AS (SELECT node AS seed, node, CAST(NULL AS BIGINT) AS prev FROM seeds),
       |$hops
       |SELECT seed, step, node FROM (
       |  $union)
       |ORDER BY seed, step""".stripMargin
  }

  /** [[node2vecWalksCapped]]'s DuckDB twin: per hop, a capped
    * adjacency CTE ranks each current node's neighbors by the same
    * seed-independent md5 ("cap:t:node:cand", ties by cand) and keeps
    * `cap`, then the [[node2vecWalksSql]] biased pick runs over it.
    * (The oracle formulates the rank as a window — fine at oracle SF;
    * the engine side is the bounded [[graft.functions.TopKAgg]]
    * aggregation, which the spec proves rank-equivalent.) */
  def node2vecWalksCappedSql(
      edgeCte: String, steps: Int = 5, p: Double = 2.0, q: Double = 4.0,
      cap: Int = 16): String = {
    val (rp, rq) = (1.0 / p, 1.0 / q)
    val hops = (1 to steps).map { t =>
      s"""ca$t AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT a.src, a.dst,
         |      row_number() OVER (PARTITION BY a.src ORDER BY
         |        CAST(('0x' || substr(md5('cap:' || $t || ':' || a.src || ':' || a.dst), 1, 8)) AS BIGINT), a.dst) AS srk
         |    FROM e a JOIN (SELECT DISTINCT node FROM w${t - 1}) f ON f.node = a.src)
         |  WHERE srk <= $cap),
         |c$t AS MATERIALIZED (
         |  SELECT w.seed, w.node, w.prev, a.dst AS cand,
         |    CASE WHEN w.prev IS NULL THEN CAST(1.0 AS DOUBLE)
         |         WHEN a.dst = w.prev THEN CAST($rp AS DOUBLE)
         |         WHEN m.src IS NOT NULL THEN CAST(1.0 AS DOUBLE)
         |         ELSE CAST($rq AS DOUBLE) END AS wt,
         |    CAST(CAST(('0x' || substr(md5(w.seed || ':' || $t || ':' || w.node), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
         |  FROM w${t - 1} w
         |  JOIN ca$t a ON a.src = w.node
         |  LEFT JOIN e m ON m.src = a.dst AND m.dst = w.prev),
         |w$t AS MATERIALIZED (
         |  SELECT seed, cand AS node, node AS prev FROM (
         |    SELECT seed, node, cand,
         |      row_number() OVER (PARTITION BY seed ORDER BY cand) AS rn
         |    FROM (
         |      SELECT seed, node, cand, u,
         |        sum(wt) OVER (PARTITION BY seed ORDER BY cand) AS cumw,
         |        sum(wt) OVER (PARTITION BY seed) AS wsum
         |      FROM c$t)
         |    WHERE cumw >= u * wsum)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 to steps)
      .map(t => s"SELECT seed, $t AS step, node FROM w$t")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH e AS MATERIALIZED ($edgeCte),
       |seeds AS (SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 100),
       |w0 AS (SELECT node AS seed, node, CAST(NULL AS BIGINT) AS prev FROM seeds),
       |$hops
       |SELECT seed, step, node FROM (
       |  $union)
       |ORDER BY seed, step""".stripMargin
  }

  /** [[skipGramPairs]] over [[randomWalksSql]] as one nested query —
    * the same self-join on seed with the bounded step-distance
    * residual. */
  def skipGramPairsSql(edgeCte: String, steps: Int = 5, window: Int = 2): String =
    s"""WITH walks AS (
       |${randomWalksSql(edgeCte, steps, ordered = false)})
       |SELECT c.seed, c.step AS c_step, c.node AS center,
       |       x.step AS x_step, x.node AS context
       |FROM walks c JOIN walks x ON c.seed = x.seed
       | AND c.step <> x.step AND abs(c.step - x.step) <= $window
       |ORDER BY c.seed, c_step, x_step""".stripMargin

  /** Memoized per (session, sfDir, slice) as an eager localCheckpoint
    * (the [[TrainedCache]] convention): a dozen registered graph
    * queries derive exactly this edge set, and each previously re-ran
    * the scan + set-collapse + distinct per query. The derivation is
    * deterministic, and the checkpoint blocks live on the shared
    * SparkContext, so the per-query isolated loop sessions read them
    * through global temp views unchanged. */
  private[ops] def coOrderEdges(
      s: org.apache.spark.sql.SparkSession, d: String,
      yearSlice: Boolean = false): DataFrame =
    TrainedCache.getOrTrain(
      if (yearSlice) "co_order_edges_y1995" else "co_order_edges_full", d) {
      coOrderEdgesUncached(s, d, yearSlice).localCheckpoint(true)
    }

  private def coOrderEdgesUncached(
      s: org.apache.spark.sql.SparkSession, d: String,
      yearSlice: Boolean = false) = {
    // no pre-distinct on the (orderkey, partkey) projection: the final
    // edge-level distinct yields the identical edge SET (what the
    // oracle's derivation produces), one shuffle cheaper
    val base = Tables.lineitem(s, d)
    val sliced = if (yearSlice)
      base.filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
    else base
    // pair generation via collect_set per order, not a self-join: the
    // order width is bounded (≤7 lines), so the per-group set is tiny
    // and the double explode is pure map work — one exchange on
    // orderkey replaces the self-join's two. The final distinct then
    // rides the explicit src exchange: HashPartitioning(src) satisfies
    // the (src, dst) clustered-distribution requirement (subset rule),
    // so Catalyst plans the Aggregate WITHOUT another exchange — 2
    // total exchanges where the join formulation paid 4. Same edge SET
    // as the oracle's self-join derivation.
    sliced.groupBy("l_orderkey")
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .repartition(col("src"))
      .distinct()
  }

  private val edgeCteSql =
    """SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
      |FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
      |JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
      |ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey""".stripMargin

  // the 1995 slice bounds the triangle query's graph: the wedge join is
  // the one superlinear step in the suite (O(E^1.5) candidates), and on
  // the FULL sf0.1 co-order graph (2.4M edges / 1.9M triangles) it costs
  // ~18 s on either engine — a bench-budget outlier that measures graph
  // density, not the operator. The slice keeps the algorithm end-to-end
  // (orientation, wedge, closure, corner explode) on a real subgraph;
  // at 100 TB the same pattern runs windowed (cohesion per epoch), not
  // on the all-time graph
  private[ops] val edgeCteYearSql =
    """SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
      |FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |      WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01') x
      |JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |      WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01') y
      |ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_pagerank", pagerankSql(edgeCteSql)) { (s, d) =>
      pagerankPin(coOrderRankPin(s, d))
        .select(col("node"), round(col("pr"), 6).as("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(100)
    },

    // random walk with restart to the "trusted catalog" seed parts
    // (partkey < 50): rank-by-proximity — the seed-expansion shape
    QueryDef("q_ppr_seed", personalizedPagerankSql(edgeCteSql, "node < 50")) { (s, d) =>
      val seeds = Tables.part(s, d)
        .filter(col("p_partkey") < 50).select(col("p_partkey"))
      personalizedPagerankPin(coOrderRankPin(s, d), seeds)
        .select(col("node"), round(col("pr"), 6).as("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(100)
    },

    // per-node triangle participation on the co-order graph — the
    // clustering/cohesion signal (a part in many triangles co-occurs
    // with tightly-knit baskets)
    QueryDef("q_triangle_count", triangleCountsSql(edgeCteYearSql)) { (s, d) =>
      triangleCounts(coOrderEdges(s, d, yearSlice = true))
        .orderBy(col("triangles").desc, col("node"))
        .limit(100)
    },

    // 4-core of the 1995 co-order graph: the dense-subgraph quality
    // gate. The float-free output (node, integer core degree) makes
    // the fixed-8-peel result exactly hash-comparable
    QueryDef("q_kcore", kCoreSql(edgeCteYearSql, k = 4)) { (s, d) =>
      kCore(coOrderEdges(s, d, yearSlice = true), k = 4)
        .orderBy(col("core_deg").desc, col("node"))
    },

    // local clustering coefficient on the same slice — ranked by the
    // ROUNDED coefficient (float-ranking rule, q_tpch_q15 precedent)
    QueryDef("q_clustering_coeff", clusteringCoefficientsSql(edgeCteYearSql)) { (s, d) =>
      clusteringCoefficients(coOrderEdges(s, d, yearSlice = true))
        .orderBy(col("cc").desc, col("node"))
        .limit(100)
    },

    // synchronous min-mode label propagation on the 1995 co-order
    // slice: co-purchase communities, per-node assignment hash-exact
    // (integer-only state — see labelPropagation)
    QueryDef("q_label_prop", labelPropagationSql(edgeCteYearSql, iters = 5)) { (s, d) =>
      // symmetricEdges: coOrderEdges double-explodes the per-order set
      // with src =!= dst, so every pair materializes both ways — the
      // symmetry probe would re-prove that with an extra 2E-distinct pass
      labelPropagation(coOrderEdges(s, d, yearSlice = true), iters = 5,
          symmetricEdges = true)
        .orderBy("node")
    },

    // deterministic 5-hop random walks from the 100 smallest nodes of
    // the year-sliced co-order graph (DeepWalk corpus rows; md5-choice
    // so the hop sequence is engine-exact)
    QueryDef("q_random_walks", randomWalksSql(edgeCteYearSql, steps = 5)) { (s, d) =>
      val e = coOrderEdges(s, d, yearSlice = true)
      val seeds = e.select(col("src").as("node")).distinct().orderBy("node").limit(100)
      randomWalks(e, seeds, steps = 5)
    },

    // node2vec biased walks (p=2 return-averse, q=4 DFS-averse —
    // dyadic so the inverse-CDF selection is engine-exact)
    QueryDef(
      "q_node2vec_walks",
      node2vecWalksSql(edgeCteYearSql, steps = 5)) { (s, d) =>
      val e = coOrderEdges(s, d, yearSlice = true)
      val seeds = e.select(col("src").as("node")).distinct().orderBy("node").limit(100)
      node2vecWalks(e, seeds, steps = 5)
    },

    // degree-capped node2vec (cap=3 so the sample bites at this SF:
    // co-order degrees routinely exceed 3) — the GraphSAGE-style
    // bounded-fan-out production twin; sample keyed (t, node, cand),
    // biased pick unchanged over the ≤3 survivors
    QueryDef(
      "q_node2vec_capped",
      node2vecWalksCappedSql(edgeCteYearSql, steps = 5, cap = 3)) { (s, d) =>
      val e = coOrderEdges(s, d, yearSlice = true)
      val seeds = e.select(col("src").as("node")).distinct().orderBy("node").limit(100)
      node2vecWalksCapped(e, seeds, steps = 5, cap = 3)
    },

    // xxhash64 production twin of q_random_walks: native-column long
    // hash per hop (no string build / md5 / hex parse on the hot
    // path); the hop hashes the run consumed are dumped for the
    // DuckDB replay (OracleDump — one row per walk position)
    QueryDef(
      "q_random_walks_xx", randomWalksXxSql(edgeCteYearSql, steps = 5)) { (s, d) =>
      val e = coOrderEdges(s, d, yearSlice = true)
      val seeds = e.select(col("src").as("node")).distinct().orderBy("node").limit(100)
      val w = randomWalksXx(e, seeds, steps = 5)
      OracleDump.write(
        w.filter(col("step") < 5).select(
          col("seed"), (col("step") + lit(1)).as("t"), col("node"),
          xxhash64(col("seed"), col("step") + lit(1), col("node")).as("h")),
        d, "q_random_walks_xx")
      w
    },

    // xxhash64 production twin of q_node2vec_walks (same dump scheme;
    // u = 32 low bits / 2^32, exact dyadic on both engines)
    QueryDef(
      "q_node2vec_walks_xx",
      node2vecWalksXxSql(edgeCteYearSql, steps = 5)) { (s, d) =>
      val e = coOrderEdges(s, d, yearSlice = true)
      val seeds = e.select(col("src").as("node")).distinct().orderBy("node").limit(100)
      val w = node2vecWalksXx(e, seeds, steps = 5)
      OracleDump.write(
        w.filter(col("step") < 5).select(
          col("seed"), (col("step") + lit(1)).as("t"), col("node"),
          pmod(xxhash64(col("seed"), col("step") + lit(1), col("node")),
            lit(4294967296L)).as("h")),
        d, "q_node2vec_walks_xx")
      w
    },

    // the DeepWalk training corpus: ordered (center, context) pairs
    // within 2 hops on the same walk — composed walks -> self-join
    QueryDef(
      "q_skipgram_pairs",
      skipGramPairsSql(edgeCteYearSql, steps = 5, window = 2)) { (s, d) =>
      // one derivation per session, shared with q_sgns_knn's training
      // input (SgnsOps.deepwalkPairs — the TrainedCache convention)
      SgnsOps.deepwalkPairs(s, d)
        .orderBy("seed", "c_step", "x_step")
    },

    // HITS on the DIRECTED customer→part purchase graph: top-100 hubs
    // (broad buyers) and authorities (widely-bought parts), ranked on
    // the rounded score (float-ranking rule)
    QueryDef(
      "q_hits",
      hitsSql(
        """SELECT DISTINCT o.o_custkey AS hub, l.l_partkey AS auth
          |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey""".stripMargin,
        iters = 5)) { (s, d) =>
      val e = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("hub"), col("l_partkey").as("auth"))
        .distinct()
      val w = Window.partitionBy(col("kind")).orderBy(col("score").desc, col("node"))
      hits(e, iters = 5)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 100)
        .select("kind", "node", "score")
        .orderBy(col("kind"), col("score").desc, col("node"))
    })
}
