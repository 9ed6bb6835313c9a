package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[GraphOps.pagerank]] against closed forms: a symmetric pair is a
  * fixpoint at uniform rank; a star concentrates rank on the hub with
  * the exact 2-periodic closed form; probability mass is conserved.
  */
class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sym(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("two-node symmetric graph: uniform rank is the exact fixpoint") {
    val pr = GraphOps.pagerank(sym((1L, 2L))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(1L) - 0.5) < 1e-12)
    assert(math.abs(pr(2L) - 0.5) < 1e-12)
  }

  test("star graph: hub rank matches the closed form and mass is conserved") {
    val k = 4 // hub 0, leaves 1..4
    val pr = GraphOps.pagerank(sym((1L to k.toLong).map(i => (0L, i)): _*))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // closed form: leaves are interchangeable; at the (even-round)
    // fixpoint hub = α/n + d·k·leaf_out where each leaf sends its whole
    // rank to the hub and the hub splits evenly. Iterate the 2-cycle
    // analytically for the same 10 rounds instead of assuming
    // convergence:
    var hub = 1.0 / 5; var leaf = 1.0 / 5
    for (_ <- 1 to 10) {
      val h2 = 0.15 / 5 + 0.85 * (4 * leaf) // each leaf's only edge → hub
      val l2 = 0.15 / 5 + 0.85 * (hub / 4) // hub splits over 4 leaves
      hub = h2; leaf = l2
    }
    assert(math.abs(pr(0L) - hub) < 1e-9, s"hub ${pr(0L)} vs closed form $hub")
    (1L to 4L).foreach(i => assert(math.abs(pr(i) - leaf) < 1e-9))
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, "PageRank mass must be conserved")
    assert(pr(0L) > pr(1L), "hub must outrank leaves")
  }

  test("personalized pagerank: mass conserved, seed-proximate nodes outrank distant ones") {
    // path 1-2-3-4-5-6, seed {1}: rank must decay with distance
    val pr = GraphOps.personalizedPagerank(
      sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)),
      Seq(1L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, "PPR mass must be conserved")
    assert(pr(1L) > pr(2L) && pr(2L) > pr(3L) && pr(3L) > pr(4L),
      s"rank must decay with seed distance: $pr")
    // every teleport returns to node 1, so it holds most of the mass
    assert(pr(1L) > 0.3)
  }

  test("ppr spark loop and unrolled SQL twin agree on a shared graph") {
    sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .createOrReplaceTempView("g_edges_ppr")
    val viaSql = spark.sql(
      GraphOps.personalizedPagerankSql("SELECT src, dst FROM g_edges_ppr", "node <= 2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaLoop = GraphOps.personalizedPagerank(
      sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)), Seq(1L, 2L).toDF("node"))
      .select(col("node"), round(col("pr"), 6).as("pr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql === viaLoop)
  }

  test("triangle counts: 4-clique puts every node in exactly 3 triangles") {
    val pairs = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val tc = GraphOps.triangleCounts(sym(pairs: _*)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangle counts: path graph has none; a pendant edge adds none") {
    assert(GraphOps.triangleCounts(sym((1L, 2L), (2L, 3L), (3L, 4L))).count() === 0)
    // triangle 1-2-3 plus pendant 3-4: the pendant node stays absent
    val tc = GraphOps.triangleCounts(sym((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangle counts: hub-heavy graph agrees with the SQL twin (skewed degrees)") {
    // hub 0 linked to 1..8, plus ring edges among 1..8 — mixed degrees
    // exercise both orientation branches (deg inequality and id tiebreak)
    val ring = (1L to 8L).map(i => (i, if (i == 8) 1L else i + 1))
    val hub = (1L to 8L).map(i => (0L, i))
    sym((ring ++ hub): _*).createOrReplaceTempView("g_tri")
    val viaSql = spark.sql(GraphOps.triangleCountsSql("SELECT src, dst FROM g_tri"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaOp = GraphOps.triangleCounts(sym((ring ++ hub): _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaOp === viaSql)
    // closed form: each ring edge forms exactly one triangle with the hub
    assert(viaOp(0L) === 8L)
  }

  test("k-core: peel cascades down an attached chain but the ring survives") {
    // ring 1..5 (all deg 2) with a chain 5-6-7 hanging off: k=2 must
    // peel 7 (deg 1), then 6 (deg drops to 1) — the cascade — and keep
    // the ring intact
    val ring = (1L to 5L).map(i => (i, if (i == 5) 1L else i + 1))
    val g = sym((ring ++ Seq((5L, 6L), (6L, 7L))): _*)
    val core = GraphOps.kCore(g, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === (1L to 5L).map(_ -> 2L).toMap)
    // k=3 peels everything: the ring is only a 2-core
    assert(GraphOps.kCore(g, k = 3).count() === 0)
  }

  test("k-core spark loop agrees with the unrolled SQL twin") {
    // 4-clique + pendant: 3-core = exactly the clique at core_deg 3
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    sym((clique :+ (4L, 5L)): _*).createOrReplaceTempView("g_kcore")
    // MATERIALIZED is DuckDB-only syntax (where it is load-bearing —
    // see kCoreSql); Spark inlines the stripped CTEs, which is
    // exponential in peels but fine at 3 rounds on an 11-edge graph
    val viaSql = spark.sql(
      GraphOps.kCoreSql("SELECT src, dst FROM g_kcore", k = 3, peels = 3)
        .replace(" MATERIALIZED", ""))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaOp = GraphOps.kCore(sym((clique :+ (4L, 5L)): _*), k = 3, peels = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaOp === viaSql)
    assert(viaOp === (1L to 4L).map(_ -> 3L).toMap)
  }

  test("k-core invariant: every survivor's core degree is >= k, on a generated graph") {
    // the TestData generator's graph (well-formedness is its own test
    // below): whatever survives a k-core MUST have >= k surviving
    // neighbors — the defining invariant, checked on a non-trivial
    // random structure rather than a closed form
    val edges = graft.TestData.syntheticEdges(spark, 2000L, extra = 3)
    // fixed 8 peels do NOT converge on this graph at k=8 (this spec
    // originally caught exactly that: sub-k survivors remained, and the
    // TRUE 8-core is empty — mean degree 10 sits below the 8-core
    // emergence threshold), which is why the invariant is only promised
    // in converge mode, checked here at k=6 where a real core exists
    val core = GraphOps.kCore(edges, k = 6, converge = true).collect()
    assert(core.nonEmpty, "a 6-core must exist at mean degree 10")
    assert(core.forall(_.getLong(1) >= 6L),
      "a k-core survivor with < k surviving neighbors violates the definition")
    // and the fixed-budget mode on the SAME graph at k=8 returns the
    // 8-peel remnant, which converge mode correctly peels to nothing
    assert(GraphOps.kCore(edges, k = 8, converge = true).count() === 0)
  }

  test("k-core delta-peeling equals a brute-force simultaneous peel on random graphs") {
    // the r8 rewrite communicates decrements instead of re-filtering
    // the edge set — equivalence with the textbook formulation must
    // hold on arbitrary structure, not just closed forms. Ten seeded
    // random graphs, random k, BOTH fixed-budget and converge modes,
    // against an in-memory simultaneous peel.
    def brute(edges: Set[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
      var cur = edges
      var done = false
      var i = 0
      while (!done && (rounds < 0 || i < rounds)) {
        val deg = cur.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
        val keep = deg.filter(_._2 >= k).keySet
        val next = cur.filter(e => keep(e._1) && keep(e._2))
        done = next == cur
        cur = next
        i += 1
      }
      cur.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    }
    (1 to 10).foreach { seed =>
      val rnd = new scala.util.Random(seed * 7919)
      val n = 8 + rnd.nextInt(18)
      val oneWay = (0 until (n * 2)).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
        // canonicalize before distinct: sym() emits both directions of
        // every input pair verbatim, so (a,b) AND (b,a) surviving here
        // would duplicate edges and skew degrees
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val pairs = oneWay.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      val es = pairs.toSet
      val g = sym(oneWay: _*)
      val k = 2 + rnd.nextInt(3)
      val fixed = GraphOps.kCore(g, k = k, peels = 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fixed === brute(es, k, rounds = 3), s"fixed mode, seed=$seed k=$k n=$n")
      val conv = GraphOps.kCore(g, k = k, converge = true).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(conv === brute(es, k, rounds = -1), s"converge mode, seed=$seed k=$k n=$n")
    }
  }

  test("HITS: mutual reinforcement ranks the shared authority and the broad hub first; L1 normalized") {
    // hubs {1,2}, authorities {10,11,12}: hub 1 points at everything,
    // hub 2 only at 10 — so 10 is the strongest authority (both hubs)
    // and 1 the strongest hub (more, stronger authorities)
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)).toDF("hub", "auth")
    val out = GraphOps.hits(e, iters = 5).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out(("auth", 10L)) > out(("auth", 11L)), s"shared authority must lead: $out")
    assert(out(("auth", 11L)) === out(("auth", 12L)), "symmetric authorities tie")
    assert(out(("hub", 1L)) > out(("hub", 2L)), "the broad hub must lead")
    // mean-1 normalization survives to the (rounded) output — the
    // scale-invariant convention (sum-1 scores shrink as 1/n and die
    // under the 6 dp rounding at big node counts)
    Seq("hub", "auth").foreach { k =>
      val vs = out.collect { case ((`k`, _), v) => v }
      val mean = vs.sum / vs.size
      assert(math.abs(mean - 1.0) < 1e-4, s"$k scores must have mean ~1: $mean")
    }
    // spark loop equals the unrolled SQL twin on the same graph
    e.createOrReplaceTempView("g_hits")
    val viaSql = spark.sql(
      GraphOps.hitsSql("SELECT hub, auth FROM g_hits", iters = 5)
        .replace(" MATERIALIZED", ""))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaSql === out)
  }

  test("random walks: every hop follows an edge, one node per (seed, step), deterministic, SQL-twin-exact") {
    // symmetric 5-cycle + a chord: nontrivial degrees (2 and 3)
    val oneWay = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L), (1L, 3L))
    val e = (oneWay ++ oneWay.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 4L).toDF("node")
    val out = GraphOps.randomWalks(e, seeds, steps = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // shape: exactly one node per (seed, step), steps 0..4, walk starts at the seed
    assert(out.length === 2 * 5)
    assert(out.map(x => (x._1, x._2)).distinct.length === out.length)
    Seq(1L, 4L).foreach(sd => assert(out.contains((sd, 0, sd))))
    // every consecutive pair is a real edge
    val edgeSet = (oneWay ++ oneWay.map(_.swap)).toSet
    out.groupBy(_._1).values.foreach { walk =>
      walk.sortBy(_._2).map(_._3).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(edgeSet.contains((a, b)), s"hop $a->$b is not an edge")
        case _         => ()
      }
    }
    // deterministic: a second run is value-identical
    assert(GraphOps.randomWalks(e, seeds, steps = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq === out.toSeq)
    // the unrolled SQL twin walks the identical paths (its seeds are
    // the 100 smallest nodes = all 5 here, so compare on seeds 1 and 4)
    e.createOrReplaceTempView("g_rw")
    // dialect swap to run the twin through Spark: DuckDB's hex cast
    // ('0x…'::BIGINT) is Spark's conv(h, 16, 10) — the documented
    // hex-idiom pair; everything else is shared SQL
    val viaSql = spark.sql(
      GraphOps.randomWalksSql("SELECT src, dst FROM g_rw", steps = 4)
        .replace(" MATERIALIZED", "")
        .replace("CAST(('0x' || substr(", "CAST(conv(substr(")
        .replace(", 1, 8)) AS BIGINT)", ", 1, 8), 16, 10) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .filter(x => x._1 == 1L || x._1 == 4L)
    assert(viaSql.sorted.toSeq === out.sorted.toSeq)
  }

  test("node2vec walks: bias semantics (return-averse, triangle-closing), edge-valid, deterministic, SQL-twin-exact") {
    // triangle 1-2-3 plus pendant 4 on 3
    val oneWay = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val e = (oneWay ++ oneWay.map(_.swap)).toDF("src", "dst")
    val edgeSet = (oneWay ++ oneWay.map(_.swap)).toSet
    // extreme biases make the choice closed-form: p huge -> never
    // return when an alternative exists; q huge -> prefer the
    // prev-adjacent (triangle-closing) candidate
    val out = GraphOps.node2vecWalks(
      e, Seq(2L).toDF("node"), steps = 3, p = math.pow(2, 30), q = math.pow(2, 30))
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(out(0) === 2L)
    val first = out(1) // uniform hop: 1 or 3
    assert(Set(1L, 3L).contains(first))
    // hop 2 from `first` with prev=2: the non-return, prev-adjacent
    // candidate is the OTHER triangle corner — must be chosen over
    // both returning (1/p ~ 0) and the non-adjacent pendant (1/q ~ 0)
    val other = if (first == 1L) 3L else 1L
    assert(out(2) === other, s"triangle closure must win: $out")
    // every hop is an edge
    (0 to 2).foreach(t => assert(edgeSet.contains((out(t), out(t + 1)))))
    // deterministic re-run
    assert(GraphOps.node2vecWalks(
      e, Seq(2L).toDF("node"), steps = 3, p = math.pow(2, 30), q = math.pow(2, 30))
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap === out)
    // dyadic default (p=2, q=4) equals the unrolled SQL twin
    e.createOrReplaceTempView("g_n2v")
    val viaScala = GraphOps.node2vecWalks(e, Seq(1L, 2L, 3L, 4L).toDF("node"), steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val viaSql = spark.sql(
      GraphOps.node2vecWalksSql("SELECT src, dst FROM g_n2v", steps = 4)
        .replace(" MATERIALIZED", "")
        .replace("CAST(CAST(('0x' || substr(", "CAST(CAST(conv(substr(")
        .replace(", 1, 8)) AS BIGINT) AS DOUBLE)", ", 1, 8), 16, 10) AS BIGINT) AS DOUBLE)"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(viaSql === viaScala)
  }

  test("xxhash64 walk twins: same contract as the md5 variants, picks match the xxhash64 formula, hash streams diverge") {
    val oneWay = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L), (1L, 3L))
    val e = (oneWay ++ oneWay.map(_.swap)).toDF("src", "dst")
    val edgeSet = (oneWay ++ oneWay.map(_.swap)).toSet
    val seeds = Seq(1L, 4L).toDF("node")
    val out = GraphOps.randomWalksXx(e, seeds, steps = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // identical CONTRACT to randomWalks: one node per (seed, step),
    // starts at the seed, every hop a real edge, deterministic replay
    assert(out.length === 2 * 5)
    assert(out.map(x => (x._1, x._2)).distinct.length === out.length)
    Seq(1L, 4L).foreach(sd => assert(out.contains((sd, 0, sd))))
    out.groupBy(_._1).values.foreach { walk =>
      walk.sortBy(_._2).map(_._3).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(edgeSet.contains((a, b)), s"hop $a->$b is not an edge")
        case _         => ()
      }
    }
    assert(GraphOps.randomWalksXx(e, seeds, steps = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq === out.toSeq)
    // every hop is EXACTLY the xxhash64 pick: re-derive each transition
    // independently from the adjacency (dst-sorted rank, deg) and the
    // documented formula 1 + pmod(xxhash64(seed, t, node), deg)
    val adj = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).sorted }
    val hops = out.groupBy(_._1).values.flatMap { walk =>
      walk.sortBy(_._2).sliding(2).collect {
        case Array((sd, t0, from), (_, t1, to)) => (sd, t1, from, to)
      }
    }.toSeq
    val hashed = hops.toDF("seed", "t", "from", "to")
      .withColumn("h", xxhash64(col("seed"), col("t").cast("int"), col("from")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    hashed.foreach { case (sd, t, from, to, h) =>
      val nbrs = adj(from)
      val pick = (((h % nbrs.length) + nbrs.length) % nbrs.length).toInt
      assert(nbrs(pick) === to, s"hop ($sd, $t) from $from must take xxhash64 pick ${nbrs(pick)}, got $to")
    }
    // the md5 and xxhash64 streams are independent: paths diverge on
    // this graph (pinned — a shared stream would be a twin-wiring bug)
    val md5Out = GraphOps.randomWalks(e, seeds, steps = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(md5Out !== out.toSeq, "xx twin must consume a different hash stream")

    // node2vec xx twin: the bias semantics are hash-independent —
    // extreme p/q force the same closed-form triangle closure as the
    // md5 variant — and the walk is edge-valid and deterministic
    val triWay = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val te = (triWay ++ triWay.map(_.swap)).toDF("src", "dst")
    val tEdges = (triWay ++ triWay.map(_.swap)).toSet
    val n2v = GraphOps.node2vecWalksXx(
      te, Seq(2L).toDF("node"), steps = 3, p = math.pow(2, 30), q = math.pow(2, 30))
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(n2v(0) === 2L)
    assert(Set(1L, 3L).contains(n2v(1)))
    assert(n2v(2) === (if (n2v(1) == 1L) 3L else 1L), s"triangle closure must win: $n2v")
    (0 to 2).foreach(t => assert(tEdges.contains((n2v(t), n2v(t + 1)))))
    assert(GraphOps.node2vecWalksXx(
      te, Seq(2L).toDF("node"), steps = 3, p = math.pow(2, 30), q = math.pow(2, 30))
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap === n2v)
  }

  test("degree-capped node2vec: row-identical to exact when deg <= cap, hops confined to the hash-sampled fan-out, SQL-twin-exact") {
    // 5-cycle + chord: max degree 3, so cap=3 keeps every list whole
    // and the capped walk must equal the exact variant row-for-row
    val oneWay = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L), (1L, 3L))
    val e = (oneWay ++ oneWay.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(rows(GraphOps.node2vecWalksCapped(e, seeds, steps = 4, cap = 3)) ===
      rows(GraphOps.node2vecWalks(e, seeds, steps = 4)),
      "cap >= max degree must reproduce the exact variant")

    // hub graph: node 0 has degree 8, every other node degree <= 3 —
    // with cap=3, any hop leaving the hub must land in the hub's
    // 3-element hash sample for that hop (seed-INDEPENDENT: the same
    // sampled fan-out for every walker on the hub at that step)
    val hubWay = (1L to 8L).map(i => (0L, i)) ++ Seq((1L, 2L), (3L, 4L), (5L, 6L))
    val he = (hubWay ++ hubWay.map(_.swap)).toDF("src", "dst")
    val hubSeeds = (0L to 8L).toDF("node")
    val walks = GraphOps.node2vecWalksCapped(he, hubSeeds, steps = 4, cap = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // expected per-hop hub sample: 3 smallest md5("cap:t:0:cand") among 1..8
    val sampleByStep = (1 to 4).map { t =>
      val ranked = (1L to 8L).toDF("cand")
        .withColumn("h", conv(substring(md5(concat_ws(":",
          lit("cap"), lit(t), lit(0L), col("cand"))), 1, 8), 16, 10).cast("long"))
        .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.take(3).map(_._2).toSet
      t -> ranked
    }.toMap
    val hubHops = walks.groupBy(_._1).values.flatMap { w =>
      w.sortBy(_._2).sliding(2).collect {
        case Array((_, _, 0L), (_, t1, to)) => (t1, to)
      }
    }.toSeq
    assert(hubHops.nonEmpty, "some walk must pass through the hub")
    hubHops.foreach { case (t, to) =>
      assert(sampleByStep(t).contains(to),
        s"hop $t left the hub to $to, outside the sampled fan-out ${sampleByStep(t)}")
    }
    // walk shape invariants hold under capping
    assert(walks.length === 9 * 5)
    assert(walks.map(x => (x._1, x._2)).distinct.length === walks.length)
    // deterministic replay
    assert(rows(GraphOps.node2vecWalksCapped(he, hubSeeds, steps = 4, cap = 3)) ===
      walks.sorted.toSeq)
    // the TopKAgg sampling equals the SQL twin's window-rank
    // formulation (hex-idiom swap to run DuckDB dialect through Spark)
    he.createOrReplaceTempView("g_n2v_cap")
    val viaSql = spark.sql(
      GraphOps.node2vecWalksCappedSql("SELECT src, dst FROM g_n2v_cap", steps = 4, cap = 3)
        .replace(" MATERIALIZED", "")
        .replace("CAST(CAST(('0x' || substr(", "CAST(CAST(conv(substr(")
        .replace(", 1, 8)) AS BIGINT) AS DOUBLE)", ", 1, 8), 16, 10) AS BIGINT) AS DOUBLE)")
        .replace("CAST(('0x' || substr(", "CAST(conv(substr(")
        .replace(", 1, 8)) AS BIGINT)", ", 1, 8), 16, 10) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(viaSql === walks.sorted.toSeq)
  }

  test("multi-epoch walks: distinct per-epoch paths, identical shape invariants, epoch 0 unsalted") {
    // a denser graph so epochs actually diverge (cycle + chords)
    val oneWay = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L),
      (1L, 3L), (2L, 5L), (4L, 6L))
    val e = (oneWay ++ oneWay.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("node")
    def run(ep: Int) = GraphOps.randomWalks(e, seeds, steps = 5, epoch = ep)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val byEpoch = (0 to 2).map(run)
    // DeepWalk num_walks: every epoch is a full, well-formed walk set...
    byEpoch.foreach(w => assert(w.length === 6 * 6))
    // ...but the paths differ across epochs (independent hash streams)
    assert(byEpoch.distinct.length === 3, "epochs must yield distinct walks")
    // epoch 0 is exactly the unsalted default (oracle compatibility)
    assert(run(0) === GraphOps.randomWalks(e, seeds, steps = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq)
    // replay determinism per epoch
    assert(run(2) === run(2))
  }

  test("skip-gram pairs: exactly the within-window ordered pairs of each walk") {
    // a hand-built 3-step walk for one seed: pair count and membership
    // are closed-form (window 2, steps 0..3: ordered pairs with
    // |i-j| in {1,2} -> 2*(3+2) = 10)
    val walk = Seq((7L, 0, 10L), (7L, 1, 11L), (7L, 2, 12L), (7L, 3, 13L))
      .toDF("seed", "step", "node")
    val pairs = GraphOps.skipGramPairs(walk, window = 2).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    assert(pairs.length === 10)
    assert(pairs.forall { case (cs, _, xs, _) => cs != xs && math.abs(cs - xs) <= 2 })
    assert(pairs.contains((0, 10L, 2, 12L)) && pairs.contains((3, 13L, 1, 11L)))
    assert(!pairs.exists { case (cs, _, xs, _) => math.abs(cs - xs) > 2 },
      "no pair may span more than the window")
    // two walks never pair across seeds
    val two = walk.unionByName(
      Seq((8L, 0, 10L), (8L, 1, 12L)).toDF("seed", "step", "node"))
    assert(GraphOps.skipGramPairs(two, window = 2)
      .filter(col("seed") === 8L).count() === 2)
  }

  test("label propagation: bridged cliques resolve to per-clique communities") {
    // two 4-cliques bridged by one edge: min-mode LPA must settle each
    // clique on its own minimum id, bridge notwithstanding (3 in-clique
    // votes beat 1 bridge vote)
    val cliqueA = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val cliqueB = for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)
    val g = sym((cliqueA ++ cliqueB :+ (4L, 10L)): _*)
    val comm = GraphOps.labelPropagation(g, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).forall(comm(_) == 1L), s"clique A must settle on 1: $comm")
    assert((10L to 13L).forall(comm(_) == 10L), s"clique B must settle on 10: $comm")
  }

  test("label propagation round-1 collapse: distinctEdges contract on a multigraph") {
    import spark.implicits._
    // node 1's neighbor 3 appears TWICE: per-edge-row voting gives 3
    // two round-1 votes (mode = 3), while the distinct-set collapse
    // would give min(neighbor) = 2 — the boundary the parameter pins
    val dup = Seq((1L, 2L), (1L, 3L), (1L, 3L), (2L, 1L), (3L, 1L), (3L, 1L))
      .toDF("src", "dst")
    val multi = GraphOps.labelPropagation(dup, iters = 1, distinctEdges = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi(1L) == 3L, s"multigraph voting must count edge rows: $multi")
    val asSet = GraphOps.labelPropagation(dup, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asSet(1L) == 2L, s"distinct-set collapse takes min neighbor: $asSet")
    // on an actually-distinct edge set the two paths are identical
    val clean = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val a = GraphOps.labelPropagation(clean, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphOps.labelPropagation(clean, iters = 1, distinctEdges = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("label propagation round-1 collapse: directed guard routes to the general path (r14)") {
    import spark.implicits._
    // DISTINCT but DIRECTED: dst 9 never appears as src, so the
    // general round-1 vote path drops node 2 (its only neighbor 9
    // carries no label) and labels node 1 from its labeled neighbor 2
    // — while an unguarded collapse would hand 2 the label min(9)=9.
    // The checked precondition (dst-set ⊆ src-set) must detect this
    // and make the DEFAULT call equal the general path exactly.
    val directed = Seq((1L, 2L), (2L, 9L)).toDF("src", "dst")
    val guarded = GraphOps.labelPropagation(directed, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val general = GraphOps.labelPropagation(directed, iters = 1, distinctEdges = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(guarded == general,
      s"directed graph must take the general path: $guarded vs $general")
    assert(guarded == Map(1L -> 2L), s"node 2 has no labeled neighbor: $guarded")
  }

  test("label propagation symmetricEdges assertion skips the probe; contract pinned (r15)") {
    import spark.implicits._
    // on a genuinely symmetric graph the assertion is a pure shortcut:
    // identical communities, one fewer counting pass
    val cliqueA = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val g = sym((cliqueA :+ (4L, 10L)) :+ (10L, 11L): _*)
    val probed = GraphOps.labelPropagation(g, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val asserted = GraphOps.labelPropagation(g, iters = 3, symmetricEdges = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(probed == asserted,
      s"symmetricEdges on a symmetric graph must be a pure shortcut: $probed vs $asserted")
    // the flag is an ASSERTION, not a hint: a false assertion on a
    // directed graph takes the collapse and diverges from the general
    // path — pinned so the contract ("caller owns symmetry") is
    // load-bearing, not decorative
    val directed = Seq((1L, 2L), (2L, 9L)).toDF("src", "dst")
    val lied = GraphOps.labelPropagation(directed, iters = 1, symmetricEdges = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lied == Map(1L -> 2L, 2L -> 9L),
      s"a false symmetry assertion takes the (wrong-for-directed) collapse: $lied")
  }

  test("label propagation spark loop equals brute synchronous min-mode on random graphs; SQL twin agrees") {
    def brute(edges: Set[(Long, Long)], iters: Int): Map[Long, Long] = {
      val nodes = edges.map(_._1)
      var lbl = nodes.map(n => n -> n).toMap
      (1 to iters).foreach { _ =>
        lbl = nodes.map { n =>
          val votes = edges.filter(_._1 == n).toSeq
            .groupBy(e => lbl(e._2)).map { case (l, es) => l -> es.size }
          // max count, ties to smallest label
          n -> votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        }.toMap
      }
      lbl
    }
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed * 104729)
      val n = 8 + rnd.nextInt(14)
      val oneWay = (0 until (n * 2)).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val es = oneWay.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
      val got = GraphOps.labelPropagation(sym(oneWay: _*), iters = 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === brute(es, 3), s"seed=$seed n=$n")
    }
    // SQL twin (MATERIALIZED stripped for Spark's parser) on one graph
    val oneWay = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (5L, 6L))
    sym(oneWay: _*).createOrReplaceTempView("g_lpa")
    val viaSql = spark.sql(
      GraphOps.labelPropagationSql("SELECT src, dst FROM g_lpa", iters = 3)
        .replace(" MATERIALIZED", ""))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaOp = GraphOps.labelPropagation(sym(oneWay: _*), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaOp === viaSql)
  }

  test("soak generator: symmetric, distinct, self-loop-free, degree-bounded") {
    val e = graft.TestData.syntheticEdges(spark, 1000L, extra = 3)
    assert(e.filter(col("src") === col("dst")).count() === 0)
    assert(e.count() === e.distinct().count())
    // symmetry: reversing the edge list yields the same set
    assert(e.select(col("dst").as("src"), col("src").as("dst"))
      .except(e).count() === 0)
    // bounded max degree: ring floor 4 + 3 out-chords + random in-chords,
    // no hub
    val maxDeg = e.groupBy("src").count().agg(max("count")).head().getLong(0)
    assert(maxDeg < 40, s"unexpected hub: max degree $maxDeg")
  }

  test("clustering coefficient: clique nodes are 1.0, a pendant dilutes its anchor") {
    // 4-clique, node 4 also linked to pendant 5: nodes 1-3 have cc=1
    // (deg 3, T=3), node 4 has deg 4, T=3 → 2·3/(4·3) = 0.5; pendant
    // (deg 1) and hub-less nodes are excluded
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val cc = GraphOps.clusteringCoefficients(sym((clique :+ (4L, 5L)): _*))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(cc === Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 0.5))
  }

  test("spark loop and unrolled SQL twin agree on a shared graph") {
    sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .createOrReplaceTempView("g_edges")
    val viaSql = spark.sql(GraphOps.pagerankSql("SELECT src, dst FROM g_edges"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaLoop = GraphOps.pagerank(sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)))
      .select(col("node"), round(col("pr"), 6).as("pr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql === viaLoop)
  }

  test("loop-shape golden output: pagerank, hits and walks pinned bit-for-bit") {
    // values taken from the shipped loop shapes (coalesced small-graph
    // edge pin, merge-joined mass and hits rounds); any change to a
    // loop's layout must leave rank values and walk paths identical
    val edges = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (4L, 5L))
    val seeds = Seq(1L, 3L).toDF("node")
    assert(GraphOps.pagerank(edges).collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq ===
      Seq((1L, 0.24043049325035665), (2L, 0.16573742081904946), (3L, 0.24043049325035665),
        (4L, 0.2516061043087632), (5L, 0.10179548837147408)))
    assert(GraphOps.hits(edges.toDF("hub", "auth")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq ===
      Seq(("auth", 1L, 1.256925), ("auth", 2L, 0.953082), ("auth", 3L, 1.256925),
        ("auth", 4L, 1.112806), ("auth", 5L, 0.420261), ("hub", 1L, 1.258032),
        ("hub", 2L, 0.951755), ("hub", 3L, 1.258032), ("hub", 4L, 1.110868), ("hub", 5L, 0.421313)))
    assert(GraphOps.randomWalksXx(edges, seeds, steps = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq ===
      Seq((1L, 0, 1L), (1L, 1, 3L), (1L, 2, 4L), (1L, 3, 1L),
        (3L, 0, 3L), (3L, 1, 1L), (3L, 2, 4L), (3L, 3, 1L)))
    assert(GraphOps.node2vecWalks(edges, seeds, steps = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq ===
      Seq((1L, 0, 1L), (1L, 1, 4L), (1L, 2, 5L), (1L, 3, 4L),
        (3L, 0, 3L), (3L, 1, 1L), (3L, 2, 3L), (3L, 3, 4L)))
  }
}
