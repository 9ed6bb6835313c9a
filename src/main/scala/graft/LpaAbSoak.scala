package graft

import org.apache.spark.sql.functions._

import graft.ops.GraphOps

/** Same-JVM A/B for the LPA round-1 collapse at the 400M-edge point —
  * the r13 carry: cross-round absolute walls at 400M are box-day
  * lottery (r10 1140.3 s, r11 927.3 s, r12-quiet ~1108 s, r13 1141/1158
  * s on matching calibration stages), so the only admissible evidence
  * for "the collapse wins at 400M" is collapse-ON vs collapse-OFF in
  * ONE process on ONE generated graph, with calibration stages between
  * the arms to attribute any mid-run ambient drift.
  *
  * Layout (all on the same 40M-node / 400M-directed-edge graph as the
  * r10–r13 soaks — communities must reproduce 1,193,037 in both arms):
  *   cal0: LPA 5 rounds @40M edges (the in-log ambient yardstick)
  *   arm OFF: labelPropagation(distinctEdges = false) — general vote
  *            path all 5 rounds
  *   cal1: LPA @40M again
  *   arm ON:  labelPropagation(distinctEdges = true) — round 1 is the
  *            join-free min(neighbor) collapse, rounds 2–5 general
  *   cal2: LPA @40M again
  *
  * Plus the r12 instrumentation row the pair-cardinality hypothesis
  * needs: at round 2 (the first general round after the collapse), the
  * vote relation's rows-in (= E) vs distinct (src,lbl) pairs — the
  * exact reduction a two-level pre-aggregation could bank in rounds
  * 2–5. If pairs ≈ E, map-side combine has nothing to combine and the
  * r12 two-level idea is dead for the early rounds too; if pairs << E,
  * it's alive. Measured at BOTH 40M (cheap cross-check) and 400M.
  *
  * Run: scripts/run_soak.sh graft.LpaAbSoak 80g <log> with
  * SPARK_GRAFT_SOAK_PARTS=128 SPARK_GRAFT_SOAK_OFFHEAP=32g — the §12f
  * 400M-regime memory shape.
  */
object LpaAbSoak {
  def main(args: Array[String]): Unit = {
    val parts = sys.env.getOrElse("SPARK_GRAFT_SOAK_PARTS", "128")
    val offheap = sys.env.get("SPARK_GRAFT_SOAK_OFFHEAP")
    val b = GraftSession.builder(32)
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.cleaner.periodicGC.interval", "60s")
    val spark = offheap.fold(b) { sz =>
      b.config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", sz)
    }.getOrCreate()
    println(s"[lpab] shuffle.partitions=$parts offheap=${offheap.getOrElse("off")}")
    spark.sparkContext.setLogLevel("WARN")

    def tw[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      val w = (System.nanoTime() - t0) / 1e9
      println(f"[lpab] $name%-40s wall=$w%8.2f s")
      (r, w)
    }
    def t[T](name: String)(body: => T): T = tw(name)(body)._1
    def lpa(edges: org.apache.spark.sql.DataFrame, collapse: Boolean): Long =
      // symmetricEdges: the soak generator materializes each pair both
      // ways, so the symmetry probe would only re-prove the generator's
      // postcondition with an extra 2E-distinct pass inside the timed arm
      GraphOps.labelPropagation(edges, iters = 5, distinctEdges = collapse,
          symmetricEdges = true)
        .agg(countDistinct(col("community"))).collect()(0).getLong(0)

    // round-2 vote-state instrumentation: after the round-1 collapse
    // labels (min neighbor), how much would the first-level (src,lbl)
    // combine actually reduce? rows-in = E by construction; rows-out =
    // distinct (src,lbl) pairs of the round-2 vote relation.
    def round2Pairs(edges: org.apache.spark.sql.DataFrame, e: Long): Unit = {
      val l1 = edges.groupBy(col("src").as("node")).agg(min(col("dst")).as("lbl"))
        .localCheckpoint(false)
      val votes = edges.join(
        l1.select(col("node").as("lp_n"), col("lbl")), col("dst") === col("lp_n"))
      val pairs = t(s"round-2 distinct (src,lbl) pairs @$e") {
        votes.select(col("src"), col("lbl")).distinct().count()
      }
      println(f"[lpab] round-2 agg rows-in=$e rows-out=$pairs " +
        f"reduction=${e.toDouble / pairs}%.3fx " +
        f"(pairs/E=${pairs.toDouble / e}%.3f — pre-agg banks the gap to 1.0)")
    }

    val calEdges = GraphSoak.syntheticEdges(spark, 4000000L, extra = 3)
      .localCheckpoint(false)
    val ce = calEdges.count()
    println(s"[lpab] calibration graph: $ce directed edges")
    round2Pairs(calEdges, ce)

    val edges = GraphSoak.syntheticEdges(spark, 40000000L, extra = 3)
      .localCheckpoint(false)
    val e = t("generate 40M-node graph") { edges.count() }
    println(s"[lpab] directed edges: $e")

    val (_, cal0) = tw(s"cal0 lpa@$ce") { lpa(calEdges, collapse = true) }
    val (offComms, offW) = tw(s"arm OFF (general all 5 rounds) @$e") { lpa(edges, collapse = false) }
    println(s"[lpab] OFF communities: $offComms")
    val (_, cal1) = tw(s"cal1 lpa@$ce") { lpa(calEdges, collapse = true) }
    val (onComms, onW) = tw(s"arm ON (round-1 collapse) @$e") { lpa(edges, collapse = true) }
    println(s"[lpab] ON communities: $onComms")
    val (_, cal2) = tw(s"cal2 lpa@$ce") { lpa(calEdges, collapse = true) }
    println(s"[lpab] communities identical: ${offComms == onComms} " +
      s"(must be true; 1193037 expected on this generator)")
    println(f"[lpab] A/B: OFF=$offW%.1f s ON=$onW%.1f s speedup=${offW / onW}%.3fx " +
      f"| calibration walls cal0=$cal0%.1f cal1=$cal1%.1f cal2=$cal2%.1f s " +
      f"(flat cals certify the A/B window was ambient-stable)")
    // the A/B is evidence only if both arms computed the same thing —
    // fail LOUDLY (nonzero exit) rather than print a speedup over an
    // invalid comparison a log grep could adopt
    require(offComms == onComms,
      s"A/B INVALID: arms disagree on communities ($offComms vs $onComms)")
    round2Pairs(edges, e)
    spark.stop()
  }
}
