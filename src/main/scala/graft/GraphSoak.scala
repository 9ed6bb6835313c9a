package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.GraphOps

/** Scale soak for the graph family: runs PageRank, personalized
  * PageRank, k-core, and triangle counting on SYNTHETIC
  * bounded-degree graphs at 1× and 10× the sf0.1 co-order edge count
  * (2.4M → 24M edges), printing per-op wall time. The generator is a
  * seeded ring-plus-random-chords construction: node i links to
  * i±1..±2 (ring chords guarantee connectivity and a degree floor)
  * plus `extra` xxhash64-
  * derived chords (bounded expected degree — the triangle wedge join
  * stays O(E·d̄) like a real co-occurrence graph with a basket cap,
  * not a power-law hub blow-up).
  *
  * What the 10× point must show (recorded in SCALE.md §12):
  *  - rank-loop wall grows ~linearly in E (the per-round mass join is
  *    one pass over the pinned edges; at 24M edges `loopSession`'s
  *    partition formula saturates the session cap — the 100 TB
  *    configuration — and the 4M-node broadcast guard flips OFF at
  *    still-larger node counts, which this probe keeps below bound to
  *    exercise the broadcast path at its ceiling);
  *  - k-core peel wall is dominated by the first rounds (the edge set
  *    shrinks monotonically), so fixed-peel cost ≈ O(peels · E);
  *  - triangle counting grows with the wedge count, not E² — the
  *    degree-ordered orientation's promise.
  *
  * Run: `sbt "runMain graft.GraphSoak [edges]"` (default 24M).
  * Driver testdata untouched; everything is generated in-session.
  */
object GraphSoak {

  /** Symmetric, distinct, self-loop-free edge list with n nodes and
    * ~n·(2 + extra) undirected edges, deterministic in (n, extra). */
  def syntheticEdges(spark: SparkSession, n: Long, extra: Int): DataFrame = {
    val ids = spark.range(0, n).toDF("i")
    // ring chords i→i+1, i→i+2 (mod n): connectivity + degree floor 4
    val ring = ids.select(col("i").as("src"), ((col("i") + 1) % n).as("dst"))
      .unionAll(ids.select(col("i").as("src"), ((col("i") + 2) % n).as("dst")))
    // seeded random chords: endpoint from xxhash64 — bounded E[degree]
    val chords = (1 to extra).foldLeft(Seq.empty[DataFrame]) { (acc, c) =>
      acc :+ ids.select(col("i").as("src"),
        pmod(xxhash64(col("i"), lit(c)), lit(n)).as("dst"))
    }.reduce(_ unionAll _)
    val oneWay = ring.unionAll(chords).filter(col("src") =!= col("dst"))
    oneWay.select(col("src"), col("dst"))
      .unionAll(oneWay.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  def main(args: Array[String]): Unit = {
    val targetEdges = if (args.nonEmpty) args(0).toLong else 24000000L
    // optional op subset (arg 2, comma-separated) so a follow-up run
    // can soak just the newest operators without re-paying the rest:
    // pagerank,ppr,kcore,triangles,cc,lpa,hits,walks,walksxx,n2v,n2vxx,n2vcap,sgns
    val ops: Set[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).toSet
      else Set("pagerank", "ppr", "kcore", "triangles", "cc")
    // 400M-regime knobs (SCALE.md §12f): more shuffle partitions shrink
    // per-task aggregation state (the r8 400M OOM was 32-way hash aggs
    // over ~12M rows/task), and Tungsten off-heap moves shuffle/agg
    // buffers out of the GC'd heap — heap + offheap must stay under the
    // box (e.g. SPARK_DRIVER_MEM=80g + offheap 32g on 128 GiB)
    val parts = sys.env.getOrElse("SPARK_GRAFT_SOAK_PARTS", "32")
    val offheap = sys.env.get("SPARK_GRAFT_SOAK_OFFHEAP") // e.g. "32g"
    val b = GraftSession.builder(32)
      .config("spark.sql.shuffle.partitions", parts)
      // long iterative loops dereference a round's shuffle files
      // immediately but the ContextCleaner only reclaims them after a
      // driver GC — at 400M edges the default 30min periodicGC let ~10
      // rounds of dead shuffle spill accumulate past the volume's free
      // space (measured: ENOSPC mid-PPR). One minute keeps steady-state
      // disk at ~2 rounds of live shuffle.
      .config("spark.cleaner.periodicGC.interval", "60s")
    val spark = offheap.fold(b) { sz =>
      b.config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", sz)
    }.getOrCreate()
    println(s"[gsoak] shuffle.partitions=$parts offheap=${offheap.getOrElse("off")}")
    spark.sparkContext.setLogLevel("WARN")

    def t[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[gsoak] $name%-34s wall=${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    // extra=3 chords + 2 ring links ≈ 5 undirected edges/node ≈ 10
    // directed; node count sized so the DIRECTED edge count hits target
    for (scale <- Seq(targetEdges / 10, targetEdges)) {
      val n = scale / 10
      val edges = syntheticEdges(spark, n, extra = 3)
        .localCheckpoint(false)
      val e = t(s"generate (n=$n)") { edges.count() }
      println(f"[gsoak] directed edges: $e (${e / n.toDouble}%.1f per node)")
      val guard = GraphOps.broadcastRanksMaxNodes
      println(s"[gsoak] rank-loop path: " + (
        if (n > guard) s"SHUFFLE FALLBACK (n=$n > broadcast guard $guard) — the 1B-node shape"
        else s"broadcast (n=$n <= guard $guard)"))

      if (ops("pagerank")) t(s"pagerank 10 rounds @$e") {
        GraphOps.pagerank(edges).agg(sum("pr")).collect()
      }
      if (ops("ppr")) t(s"ppr 10 rounds @$e") {
        GraphOps.personalizedPagerank(
          edges, spark.range(0, 100).toDF("node")).agg(sum("pr")).collect()
      }
      if (ops("lpa")) {
        val comms = t(s"label-prop 5 rounds @$e") {
          GraphOps.labelPropagation(edges, iters = 5, symmetricEdges = true)
            .agg(countDistinct(col("community"))).collect()(0).getLong(0)
        }
        println(s"[gsoak] label-prop communities: $comms")
      }
      if (ops("hits")) {
        // HITS wants a DIRECTED graph: take the one-way orientation of
        // the symmetric edge set (src < dst) as hub → authority
        val score = t(s"hits 5 iters @$e") {
          GraphOps.hits(
            edges.filter(col("src") < col("dst"))
              .select(col("src").as("hub"), col("dst").as("auth")),
            iters = 5)
            .agg(avg(col("score"))).collect()(0).getDouble(0)
        }
        // mean-1 normalization is the scale-invariant contract: the
        // rounded mean must hold at ANY node count (the sum-1 variant
        // measurably collapsed to zeros at 10M nodes under 6 dp)
        println(f"[gsoak] hits mean score (must be ~1): $score%.4f")
      }
      // k=8 sits at the cascade knee of the ~10-mean-degree graph (k=7
      // keeps ~everyone, k=9 peels to empty fast), so the fixed budget
      // does real cascading work every round — the cost shape under
      // test. The survivor count is the 8-peel REMNANT, not the
      // converged core (GraphOpsSpec covers converge mode)
      if (ops("kcore")) {
        val core = t(s"kcore k=8 8 peels @$e") {
          GraphOps.kCore(edges, k = 8).count()
        }
        println(s"[gsoak] k=8 8-peel survivors: $core")
      }
      if (ops("triangles")) {
        val tri = t(s"triangles @$e") {
          GraphOps.triangleCounts(edges).agg(sum("triangles")).collect()(0).getLong(0)
        }
        println(s"[gsoak] triangle corner-count: $tri")
      }
      if (ops("walks")) {
        // the DeepWalk regime: ONE walk per node — the frontier is
        // node-sized, so past the 4M guard every hop takes the
        // co-partitioned shuffle join (the production shape)
        val rows = t(s"walks 5 hops/node @$e") {
          GraphOps.randomWalks(
            edges, edges.select(col("src").as("node")).distinct(), steps = 5)
            .count()
        }
        println(s"[gsoak] walk rows (must be 6x nodes = ${6 * n}): $rows")
      }
      if (ops("walksxx")) {
        // the xxhash64 production twin at the same scale: the delta vs
        // ops("walks") is pure per-row hash cost (string build + md5 +
        // hex parse vs one codegen'd long hash) — invisible at oracle
        // seed counts, measurable in the one-walk-per-node regime
        val rows = t(s"walks-xx 5 hops/node @$e") {
          GraphOps.randomWalksXx(
            edges, edges.select(col("src").as("node")).distinct(), steps = 5)
            .count()
        }
        println(s"[gsoak] walk-xx rows (must be 6x nodes = ${6 * n}): $rows")
      }
      if (ops("n2vxx")) {
        val rows = t(s"node2vec-xx 5 hops/node @$e") {
          GraphOps.node2vecWalksXx(
            edges, edges.select(col("src").as("node")).distinct(), steps = 5)
            .count()
        }
        println(s"[gsoak] n2v-xx walk rows (must be 6x nodes = ${6 * n}): $rows")
      }
      if (ops("n2v")) {
        // node2vec at one walk per node: per-hop work is O(walks · d̄)
        // candidate rows + the prev-adjacency mark join — the inherent
        // biased-walk cost, ~10× the uniform walk's frontier-sized hops
        val rows = t(s"node2vec 5 hops/node @$e") {
          GraphOps.node2vecWalks(
            edges, edges.select(col("src").as("node")).distinct(), steps = 5)
            .count()
        }
        println(s"[gsoak] n2v walk rows (must be 6x nodes = ${6 * n}): $rows")
      }
      // log-rounds CC over the same graph (the r8 ask: CC measured at
      // the ≥100M-edge point, not only in the corpus soak). The ring
      // chords make the graph connected BY CONSTRUCTION, so the
      // component count doubles as a correctness invariant: anything
      // but 1 is a propagation bug, printed for the log to certify.
      if (ops("n2vcap")) {
        // degree-capped node2vec with a PLANTED 1M-degree hub: node n
        // (outside the ring ids) links to the first min(n, 1M) nodes.
        // The exact variant is infeasible on this shape — every walker
        // sitting on the hub would window-sort the full 1M-neighbor
        // list per hop — while the capped variant hash-rank-reduces
        // the hub's list ONCE per hop through TopKAgg's bounded
        // partial buffers, so wall time must stay in the n2v range.
        val hubDeg = math.min(n, 1000000L)
        val hubOne = spark.range(0, hubDeg)
          .select(lit(n).as("src"), col("id").as("dst"))
        val hubbed = edges
          .unionAll(hubOne)
          .unionAll(hubOne.select(col("dst").as("src"), col("src").as("dst")))
          .localCheckpoint(false)
        val rows = t(s"n2v-capped16 5 hops/node, 1 hub deg=$hubDeg @${e + 2 * hubDeg}") {
          GraphOps.node2vecWalksCapped(
            hubbed, hubbed.select(col("src").as("node")).distinct(),
            steps = 5, cap = 16)
            .count()
        }
        println(s"[gsoak] n2v-capped walk rows (must be 6x(nodes+1) = ${6 * (n + 1)}): $rows")
      }
      if (ops("sgns")) {
        // the full DeepWalk production line at soak scale: xx walks
        // (one per node) → skip-gram pairs → SGNS. Node-sized vocab
        // puts V·dim far past the broadcast guard, so the model joins
        // run the co-partitioned SHUFFLE path — the 1B-node
        // embedding-table shape the oracle-scale query never touches.
        // One epoch × two batches keeps the soak bounded while every
        // stage (vocab prefix-sum, negative draws, example scoring,
        // exploded gradient aggregation, model rebuild + eager cuts)
        // runs at full width twice.
        // SPARK_GRAFT_SOAK_SGNS_BATCHES: the batch count is the
        // trainer's documented working-set knob — per-batch disk is
        // examples/batches through the scoring joins, so a 10× corpus
        // on the same box runs at a higher batch count (same total
        // work, fresher steps). The 200M-edge / 360M-pair point needs
        // ~6 on this 252 GB-disk host; 2 (the r9 setting) ENOSPC'd.
        val nBatches = sys.env.getOrElse("SPARK_GRAFT_SOAK_SGNS_BATCHES", "2").toInt
        // SPARK_GRAFT_SGNS_FLOATX=1: float32 model vectors through the
        // scoring joins — halves the per-batch exchange bytes (the
        // §12i disk bound), the knob the 200M-pair attempt needs
        val floatX = sys.env.get("SPARK_GRAFT_SGNS_FLOATX").contains("1")
        val walks = GraphOps.randomWalksXx(
          edges, edges.select(col("src").as("node")).distinct(), steps = 5)
        val pairs = GraphOps.skipGramPairs(walks, window = 2)
        val model = t(s"sgns 1x$nBatches batches dim=16 floatX=$floatX @$e") {
          graft.ops.SgnsOps.train(pairs, graft.ops.SgnsOps.SgnsParams(
            dim = 16, negatives = 3, lr = 0.05, epochs = 1, batches = nBatches,
            trackLoss = false, floatExchange = floatX))
        }
        val stats = model.inVecs
          .select(graft.ops.SgnsOps.normCol(col("vec")).as("nrm"))
          .agg(count(lit(1)), avg(col("nrm")), min(col("nrm"))).collect()(0)
        // invariants: one vector per vocab node; training moved mass
        // (zero-init out-vectors make untouched in-vectors keep their
        // tiny init norm, so a mean norm ABOVE init scale certifies
        // updates landed; min > 0 certifies none degenerated)
        println(s"[gsoak] sgns vectors=${stats.getLong(0)} " +
          f"meanNorm=${stats.getDouble(1)}%.5f minNorm=${stats.getDouble(2)}%.6f")
      }
      if (ops("cc")) {
        val cc = t(s"cc star @$e") {
          graft.ops.DedupOps.connectedComponentsStar(
            edges.filter(col("src") < col("dst"))
              .select(col("src").as("doc_a"), col("dst").as("doc_b")))
            .agg(countDistinct("component")).collect()(0).getLong(0)
        }
        println(s"[gsoak] cc components (must be 1): $cc")
      }
      // drop THIS scale's block-store residue (the edge localCheckpoint
      // plus any loop checkpoints not yet GC'd) before the next scale
      // generates, so the 10× measurement starts with clean memory
      // headroom instead of the 1× graph still resident
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
