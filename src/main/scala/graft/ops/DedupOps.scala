package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact (hash-groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard
  * verification — the standard near-dup stack (MinHash banding per
  * Broder '97; SimHash per Charikar '02), built entirely from
  * shuffle-conscious Spark primitives:
  *
  *   - shingling/hashing are per-row column expressions (codegen'd HOFs);
  *   - candidate generation is a self-join on (band_id, band_hash) — i.e.
  *     one shuffle keyed on the LSH bucket, never an all-pairs product;
  *   - at 100 TB the bucket join is the only super-linear step and its key
  *     cardinality grows with the corpus, so buckets stay small and the
  *     join stays hash-partitionable; skewed giant buckets (boilerplate
  *     docs) are capped with a per-bucket limit before pairing.
  *
  * Hash function: xxhash64 with per-permutation seeds (Spark-native,
  * codegen'd). Not oracle-expressible — DuckDB has no xxhash64 — so
  * MinHash/SimHash correctness is ScalaTest-verified (known near-dup pairs
  * + Jaccard ground truth), while exact dedup and the Jaccard verifier are
  * DuckDB-checked.
  */
object DedupOps {

  /** Word n-gram shingles as an array column (native expression — the
    * HOF chain was the profiled hot spot, see
    * [[graft.functions.NgramShinglesExpr]]).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.HashFunctions.ngram_shingles(text, n)

  /** MinHash signature: for each of `k` permutations, min over shingle
    * hashes of XXH64(shingle, seed=permutation). One pass, no shuffle —
    * native Catalyst expression ([[graft.functions.MinHashSigExpr]]): the
    * k-×-HOF column formulation was ~100× slower (interpreted lambdas).
    */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.functions.HashFunctions.minhash_sig(shingleCol, k)

  /** LSH banding: split the k-length signature into bands of `rowsPerBand`
    * and hash each band; docs sharing any (band_id, band_hash) are
    * candidates.
    */
  def bands(sig: Column, k: Int, rowsPerBand: Int): Column =
    array((0 until k / rowsPerBand).map { b =>
      struct(
        lit(b).as("band_id"),
        xxhash64(concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand).cast("array<string>")))
          .as("band_hash"))
    }: _*)

  /** 64-bit SimHash over word shingles: per-bit majority vote of shingle
    * hashes (native expression [[graft.functions.SimHash64Expr]] — one
    * pass, 64 counters in a JVM loop).
    */
  def simhash64(shingleCol: Column): Column =
    graft.functions.HashFunctions.simhash64(shingleCol)

  /** MinHash-LSH near-duplicate candidate pairs with Jaccard verification.
    * Returns (doc_a, doc_b, jaccard) for candidates above `threshold`.
    */
  def minhashNearDups(
      docs: DataFrame,
      n: Int = 3,
      k: Int = 32,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 64): DataFrame = {
    // NO compute spread here (r16, measured): the xxhash64 native
    // kernels are fast enough that the extra exchange + task wave cost
    // MORE than the single-task compute at sf scale — both same-window
    // bench pairs read q_minhash_lsh/q_dedup_groups 1.2-1.5× slower
    // with the spread. The md5 twin (minhashNearDupsMd5), whose
    // per-shingle md5 ×k kernel is ~10× heavier, keeps it.
    val sh = docs
      .select(col("doc_id"), shingles(col("text"), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val sig = sh.withColumn("sig", minhashSignature(col("sh"), k))
    // Band rows carry ONLY (doc_id, band_id, band_hash): the wide shingle
    // arrays must not ride through the explode + bucket shuffle (×bands
    // duplication of payload is what kills this join at scale).
    val banded = sig
      .select(col("doc_id"), explode(bands(col("sig"), k, rowsPerBand)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
    // Candidate pairs via ONE shuffle: group by bucket, emit in-bucket id
    // pairs. (A bucket self-join would shuffle + recompute the signature
    // subtree twice.) Buckets are capped at maxBucket ids so pathological
    // boilerplate buckets stay bounded at any scale. The cap order is a
    // per-(bucket, doc) HASH, not raw id order: sorting ids directly
    // would systematically exclude high-id docs from every oversized
    // bucket (a recall bias invisible per-bucket but global over the
    // corpus); hashing with the bucket key in the seed also varies WHICH
    // docs are dropped across buckets, so no doc is unlucky everywhere.
    // Still fully deterministic (pure function of the rows).
    val pairs = banded
      .groupBy(col("band_id"), col("band_hash"))
      .agg(slice(
        sort_array(collect_set(struct(
          xxhash64(col("band_hash"), col("doc_id")).as("h"),
          col("doc_id").as("id")))),
        1, maxBucket).as("capped"))
      .withColumn("ids", transform(col("capped"), c => c.getField("id")))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), y =>
          struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      // ids within a bucket are in HASH order, so the same pair can
      // surface as (a,b) in one bucket and (b,a) in another —
      // canonicalize to (min,max) before the distinct
      .select(
        least(col("p.doc_a"), col("p.doc_b")).as("doc_a"),
        greatest(col("p.doc_a"), col("p.doc_b")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // Verification stage: fetch shingles per side by id (two narrow joins
    // against the id→shingles table instead of shipping arrays ×bands).
    val shA = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    pairs
      .join(shA, "doc_a")
      .join(shB, "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .select(col("doc_a"), col("doc_b"), round(col("inter") / col("uni"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Oracle-checkable MinHash LSH: identical pipeline to
    * [[minhashNearDups]] but hashed with md5 (hex-prefix min —
    * lexicographic min of fixed-width hex ≡ unsigned numeric min), which
    * DuckDB computes identically. Slower than the xxhash64 native-
    * expression path (md5 per shingle × k) — this variant exists so the
    * WHOLE candidate-generation + verification pipeline is hash-checked
    * by the oracle, not just ScalaTest.
    */
  def minhashNearDupsMd5(
      docs: DataFrame,
      k: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.2): DataFrame = {
    // compute spread, the minhashNearDups rationale (md5-per-shingle ×k
    // is the heaviest kernel in the family)
    val sh = Tables.spreadCompute(docs, col("doc_id"))
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), array_distinct(shingles(col("text"), 3)).as("grams"))
    // native kernel (Md5MinHashSigExpr) — byte-identical to the SQL md5
    // formulation, so the full corpus stays oracle-coverable at kernel
    // speed (the HOF form needed a 1/3 subset to stay in budget)
    val sig = sh.withColumn("sig",
      graft.functions.HashFunctions.md5_minhash_sig(col("grams"), k))
    val nBands = k / rowsPerBand
    val banded = sig.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(nBands - 1)), b =>
        md5(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
        .as(Seq("band_id", "band_hash")))
    val pairs = banded
      .groupBy(col("band_id"), col("band_hash"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), y =>
          struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val shA = sh.select(col("doc_id").as("doc_a"), col("grams").as("ga"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
    pairs.join(shA, "doc_a").join(shB, "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        round(
          size(array_intersect(col("ga"), col("gb"))).cast(DoubleType) /
            size(array_union(col("ga"), col("gb"))).cast(DoubleType), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over near-dup pairs — the step that turns
    * pairwise similarity into dedup GROUPS. Iterative min-label
    * propagation (large-star/small-star style): each node repeatedly
    * adopts the minimum label in its neighborhood until fixpoint. Each
    * iteration is one join + one aggregation, both keyed on node id, so
    * the cost is O(E) per round and rounds ≈ graph diameter (near-dup
    * graphs are shallow — duplicates of the same source document).
    *
    * Returns (doc_id, component) where component = min doc_id reachable.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIters: Int = 20,
      smallGraphMaxEdges: Long = 1000000L): DataFrame = {
    // materialize the edge list ONCE: every propagation round joins it,
    // and without the cache each round would recompute the (expensive)
    // upstream pair-generation pipeline
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    // Small-graph fast path: LSH + Jaccard-verify shrinks the pair set
    // by orders of magnitude vs the corpus, so the edge list usually
    // fits the driver with room to spare — union-find there costs one
    // collect instead of (diameter × 3) Spark jobs. Same min-label
    // semantics, machine-checked against the iterative path in OpsSpec.
    // The iterative propagation below remains THE scale path (a 100 TB
    // corpus with a pathological dup rate can exceed any driver bound).
    if (edges.count() <= smallGraphMaxEdges) {
      // collect from the CACHED edges (collecting `pairs` would re-run
      // the whole LSH pipeline a second time); both directions are
      // present, which union-find absorbs for free
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = parent.getOrElseUpdate(x, x)
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-label union
      }
      val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return rows.toDF("doc_id", "component")
    }
    val spark = pairs.sparkSession
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
    var converged = false
    var i = 0
    val iterMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val iterDepth = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (!converged && i < maxIters) {
      val t0 = System.nanoTime()
      // each node's candidate label: min of its own and its neighbors'
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("component"))
      // LINEAGE CUT, not just a cache: localCheckpoint materializes the
      // round AND truncates the RDD DAG (parents dropped). A bare
      // persist + re-root on `updated.rdd` only cuts the LOGICAL plan —
      // the physical RDD graph still nests every prior round, so one
      // evicted cache block under memory pressure recomputes the whole
      // nested chain recursively (observed as a flaky task-side
      // StackOverflowError when other suites fill the block manager).
      // Checkpointed blocks spill to disk instead of recomputing.
      // Cluster note: local (non-reliable) checkpoint trades executor-
      // loss recovery for speed; a 1000-executor run would reliable-
      // checkpoint every ~5 rounds to the cluster FS instead. Old
      // rounds' blocks are reclaimed by the ContextCleaner once the
      // loop's references drop.
      val updated = labels.unionByName(neighborLabels)
        .groupBy("id").agg(min("component").as("component"))
        .localCheckpoint(false) // lazy: the changed-count below is the round's one materializing job
      val changed = updated.join(labels.withColumnRenamed("component", "old"), "id")
        .filter(col("component") =!= col("old")).count()
      labels = updated
      converged = changed == 0
      i += 1
      iterMs += (System.nanoTime() - t0) / 1000000
      // the count job above materialized (and truncated) the checkpoint,
      // so this measures the depth the NEXT round actually builds on
      iterDepth += rddLineageDepth(updated.rdd)
    }
    lastIterationMillis = iterMs.toSeq
    lastIterationLineageDepth = iterDepth.toSeq
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters iterations — " +
          "component labels would be wrong (duplicates would survive dedup); " +
          "raise maxIters for graphs with diameter > maxIters")
    // final projection gets its own checkpoint so the last round's
    // blocks (and the edge cache) become unreferenced and reclaimable
    val out = labels.select(col("id").as("doc_id"), col("component"))
      .localCheckpoint(true)
    out
  }

  /** Per-round wall times (ms) of the most recent [[connectedComponents]]
    * iterative run — instrumentation for the adversarial-diameter scale
    * demo (CcScaleSpec asserts the rounds stay flat; SCALE.md records
    * the measurement). Driver-side only, overwritten per call.
    */
  @volatile private[graft] var lastIterationMillis: Seq[Long] = Seq.empty

  /** Per-round RDD lineage depth of the iterative loop's labels frame,
    * measured AFTER each round's materializing job. The load-INSENSITIVE
    * twin of [[lastIterationMillis]]: with the per-round localCheckpoint
    * cut the depth is a small constant from round 2 on; remove the cut
    * and every round's physical DAG nests its predecessor, so the depth
    * climbs monotonically — CcScaleSpec asserts on this instead of
    * wall-clock, which co-tenant load can inflate without a regression.
    */
  @volatile private[graft] var lastIterationLineageDepth: Seq[Int] = Seq.empty

  private def rddLineageDepth(r: org.apache.spark.rdd.RDD[_]): Int = {
    // memoized by RDD id: the dependency graph is a DAG, not a tree —
    // in exactly the regression mode this probe exists to catch
    // (un-truncated per-round join/union nests), path count grows
    // exponentially in round count, so a naive traversal would hang or
    // blow the stack instead of returning the depth the spec asserts on
    val memo = scala.collection.mutable.Map.empty[Int, Int]
    def go(x: org.apache.spark.rdd.RDD[_]): Int =
      memo.getOrElseUpdate(x.id,
        1 + x.dependencies.foldLeft(0)((m, d) => math.max(m, go(d.rdd))))
    go(r)
  }

  /** Large-star/small-star connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond"): alternate
    *  - large-star: every node links its STRICTLY LARGER neighbors to
    *    the minimum of its closed neighborhood, and
    *  - small-star: every node links its smaller neighbors (and itself)
    *    to the minimum of that set,
    * until the edge set reaches its fixpoint — a forest of stars rooted
    * at each component's minimum id. Converges in **O(log n) rounds
    * regardless of component DIAMETER**, vs the min-label loop's
    * O(diameter): on the adversarial dup CHAIN (CcScaleSpec's worst
    * case) a 64-node component needs ~8 rounds here vs 64 there. Each
    * round costs two groupBy+join pairs (both keyed on node id) instead
    * of min-label's one — the tradeoff only pays when deep components
    * are possible, which is exactly the regime a 100 TB dedup graph
    * can't rule out. Same contract as [[connectedComponents]]:
    * (doc_id, component = min reachable id), every endpoint labeled.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    def nbrs(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    // ONE exchange per star, shared by the min-agg and the join: the
    // neighbor set is repartition(u)'d explicitly, so the groupBy needs
    // no further exchange and the join finds both sides co-partitioned
    // — without this, the agg side (partial-agged) and the join side
    // (raw) shuffle the SAME rows through two incompatible exchanges
    // that ReusedExchange cannot dedup. Strictly less shuffle volume
    // too: the raw neighborhood must reach the join's partition anyway,
    // so the old agg-side shuffle was pure extra. Hub skew is unchanged
    // — a star root's neighborhood always lands on one partition
    // because the JOIN requires it; the min-agg rides along. The
    // large-star output skips its own distinct (small-star ends in one;
    // duplicate edges are min-neutral in between).
    def largeStar(e: DataFrame): DataFrame = {
      val n = nbrs(e).repartition(col("u"))
      val m = n.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      n.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val small = nbrs(e).filter(col("v") < col("u")).repartition(col("u"))
      val m = small.groupBy("u").agg(min(col("v")).as("m"))
      small.join(m, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionByName(m.select(col("u").as("a"), col("m").as("b")))
        .distinct()
    }
    // (count, order-free fingerprint) in ONE job — the cheap precheck.
    // Convergence stays EXACT: the set-difference probe runs only when
    // the precheck matches, i.e. once per call, so a colliding
    // fingerprint can never declare convergence by itself.
    def sig(e: DataFrame): (Long, Long) = {
      // bit_xor: order-free and overflow-free under ANSI (sum of raw
      // xxhash64 values overflows long); XOR-cancellation needs
      // duplicate rows, which a distinct set cannot have
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // localCheckpoint per round, not persist + logical re-root: it
    // materializes AND truncates the RDD DAG, so a block evicted under
    // memory pressure re-reads from disk instead of recursively
    // recomputing every prior round (the flaky StackOverflowError mode
    // the min-label loop documents above). Same cluster caveat: a
    // reliable checkpoint every ~5 rounds replaces this at fleet scale.
    val e0 = pairs
      .select(
        greatest(col("doc_a"), col("doc_b")).as("a"),
        least(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(false)
    var eSig = sig(e0) // materializes the lazy checkpoint in the same job
    var converged = false
    var rounds = 0
    // Each round chains ~6 sequential exchanges; their task count is
    // pure overhead when the (LSH-shrunken) edge set is small. Size the
    // loop's shuffle partitions to the MEASURED edge count — ~1M edges
    // per partition, floor 4, never above the session setting — and
    // restore the session value after. At 100 TB the formula keeps
    // full parallelism; at test SFs it stops paying 32-task stages to
    // move a few hundred rows. (Scoped conf set: the loop materializes
    // every action it owns before returning.)
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    // floor 1, not 4: below ~250k edges (a few MB) a single shuffle
    // partition is strictly cheaper — every exchange in the ~6-stage
    // round chain becomes one task. One partition per ~250k edges from
    // there up to the session cap; at 100 TB the edge term saturates
    // the cap and nothing changes
    val loopParts =
      math.max(1L, math.min(sessionParts.toLong, eSig._1 / 250000L))
    // Conf ISOLATION: spark.conf is session-global, so setting the
    // loop's sizing on the caller's session would silently apply to any
    // query running concurrently on it (and overlapping star runs would
    // race the restore). Run the loop on a CLONED session instead —
    // shared SparkContext (so the localCheckpoint blocks are shared),
    // private conf, nothing to restore. Plans cross sessions zero-copy
    // through a uniquely-named global temp view; the checkpointed
    // result is re-bound to the caller's session the same way.
    //
    // With partitions already sized to the data, AQE's per-exchange
    // materialize-and-replan is pure scheduling overhead on the ~6
    // tiny sequential exchanges each round chains — turn it off for
    // the loop's jobs only. (At 100 TB loopParts is large and static
    // sizing is exactly what the formula above provides; skew in a
    // star graph is absorbed map-side by the partial min aggregation,
    // so AQE's skew-join rescue has nothing to do here either.)
    //
    // Whole-stage codegen gated on the SAME size evidence as loopParts
    // (the GraphOps.rankLoop finding, SCALE.md §12): every star round
    // is a distinct plan (fresh exprIds), so codegen compiles unique
    // throwaway classes per round — pure driver latency when the edge
    // set is small enough that a round's stages move a few MB. Above
    // the threshold the rounds do real per-row work and codegen pays
    // for itself, so it stays ON — at 100 TB edge volumes this branch
    // never triggers.
    val loopSession = graft.GraftSession.derived(spark,
      Map("spark.sql.shuffle.partitions" -> loopParts.toString,
        "spark.sql.adaptive.enabled" -> "false") ++
        (if (eSig._1 < 250000L) Map("spark.sql.codegen.wholeStage" -> "false") else Map.empty))
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (inView, outView) = (s"graft_cc_in_$tag", s"graft_cc_out_$tag")
    val out =
      try {
        e0.createOrReplaceGlobalTempView(inView)
        var e = loopSession.table(s"global_temp.$inView")
        while (!converged && rounds < maxIters) {
          // checkpoint the large-star output too: smallStar consumes it
          // through two differently-shaped exchanges (partial-agg vs
          // raw shuffle on u), which ReusedExchange cannot dedup — an
          // un-cut intermediate would recompute the large-star chain
          // 2-3x inside every round's one materializing job
          val next = smallStar(largeStar(e).localCheckpoint(false)).localCheckpoint(false)
          val nextSig = sig(next) // one job: computes, checkpoints, and signs the round
          converged = eSig == nextSig && next.except(e).limit(1).count() == 0
          eSig = nextSig
          e = next
          rounds += 1
        }
        lastStarRounds = rounds
        if (!converged)
          throw new IllegalStateException(
            s"connectedComponentsStar did not converge in $maxIters rounds — " +
              "component labels would be wrong; the two-phase algorithm needs " +
              "O(log n) rounds, so this indicates a bug, not a deep graph")
        e.select(col("a").as("doc_id"), col("b").as("component"))
          .unionByName(e.select(col("b").as("doc_id"), col("b").as("component")))
          .distinct()
          .localCheckpoint(true)
          .createOrReplaceGlobalTempView(outView)
        // Dataset analysis is eager and inlines the view's plan (a scan
        // of the eager checkpoint), so the views can drop right after.
        spark.table(s"global_temp.$outView")
      } finally {
        spark.catalog.dropGlobalTempView(inView)
        spark.catalog.dropGlobalTempView(outView)
        ()
      }
    out
  }

  /** Round count of the most recent [[connectedComponentsStar]] run. */
  @volatile private[graft] var lastStarRounds: Int = 0

  /** The md5 MinHash-LSH + recursive-CTE connected-components CTE chain
    * (everything between `WITH RECURSIVE` and the final select),
    * parameterized by the source relation — the SINGLE source of truth
    * for the oracle-side dedup parameters (3-gram shingles, k=16 sig,
    * 4 bands, jaccard >= 0.2), shared by q_dedup_groups_md5 and the
    * composed q_curate_corpus so the two can never drift apart.
    * Produces CTEs `d`, `sig`, `bands`, `cand`, `pairs`, `edges`,
    * `walk`, `comps` (comps: id -> component = min reachable id).
    */
  private[ops] def md5CcCtesSql(src: String): String =
    s"""d AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, greatest(len(toks) - 2, 0) + 1)]) AS grams
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $src)
       |  WHERE len(toks) >= 3),
       |sig AS (
       |  SELECT doc_id, grams,
       |    list_transform(range(0, 16), j ->
       |      list_min(list_transform(grams, g -> substr(md5(CAST(j AS VARCHAR) || ':' || g), 1, 16)))) AS sig
       |  FROM d),
       |bands AS (
       |  SELECT doc_id, b AS band_id,
       |    md5(array_to_string(sig[b * 4 + 1 : b * 4 + 4], ',')) AS band_hash
       |  FROM sig, (SELECT unnest(range(0, 4)) AS b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band_id = y.band_id AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM cand
       |  JOIN d a ON a.doc_id = doc_a
       |  JOIN d b ON b.doc_id = doc_b
       |  WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.grams, b.grams))), 6) >= 0.2),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |walk(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
       |comps AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)""".stripMargin

  /** End-to-end dedup: exact + near-dup groups with a canonical survivor
    * (min doc_id) per group. Returns (doc_id, canonical_id, is_canonical).
    */
  def dedupGroups(docs: DataFrame, threshold: Double = 0.3): DataFrame =
    dedupGroupsFrom(docs, minhashNearDups(docs, threshold = threshold))

  /** Oracle twin of [[dedupGroups]]: identical CC + canonical-survivor
    * logic over the md5 LSH pair set, which DuckDB reproduces exactly
    * (its side runs min-label propagation as a recursive CTE).
    */
  def dedupGroupsMd5(docs: DataFrame): DataFrame =
    dedupGroupsFrom(docs, minhashNearDupsMd5(docs))

  private def dedupGroupsFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .withColumn("canonical_id", coalesce(col("component"), col("doc_id")))
      .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
      .select("doc_id", "canonical_id", "is_canonical")
  }

  /** Oracle twin of [[simhash64]]: SimHash with md5-derived bit votes
    * (top 16 hex chars = 64 bits), emitted as a 16-char hex string so
    * both engines sidestep int64 sign issues. Same algorithm as the
    * native xxhash64 kernel — per-bit majority over shingle hashes,
    * duplicates weighted — with a hash DuckDB computes identically, so
    * the WHOLE sketch (shingling included) is under the hash oracle.
    * Native kernel ([[graft.functions.HashKernels.md5SimhashHex]]):
    * byte-identical to the SQL nibble formulation at ~6x the speed of
    * the |shingles|×64 explode it replaces.
    */
  // no spread (r16, measured): md5SimhashHex is a fast native kernel
  // (~0.45 s single-task at sf0.1) — both same-window pairs read the
  // spread version ~2× slower (exchange + wave > compute saved)
  def simhashMd5(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.functions.HashFunctions.md5_simhash_hex(shingles(col("text"), 2)).as("simhash_hex"))

  /** The xxhash64 banded frame + per-(bucket, doc) cap hash, exactly as
    * [[minhashNearDups]] derives them internally — dumped at the oracle
    * SF ([[OracleDump]]) so DuckDB can re-derive EVERYTHING downstream
    * of the hash kernel: bucket grouping, the 64-cap admission order,
    * pair generation, canonicalization, and the Jaccard verification
    * (whose grams DuckDB re-shingles from the raw corpus text itself).
    */
  private def minhashBandCapFrame(
      docs: DataFrame, n: Int = 3, k: Int = 32, rowsPerBand: Int = 4): DataFrame =
    docs // xxhash64 kernel: no spread, the minhashNearDups rationale
      .select(col("doc_id"), shingles(col("text"), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), k))
      .select(col("doc_id"), explode(bands(col("sig"), k, rowsPerBand)).as("band"))
      .select(col("doc_id"), col("band.band_id").as("band_id"),
        col("band.band_hash").as("band_hash"))
      .withColumn("cap_h", xxhash64(col("band_hash"), col("doc_id")))

  private val bandDumpName = "minhash_banded"

  /** DuckDB CTE chain from the banded dump to the verified pair set —
    * the shared front half of the q_minhash_lsh and q_dedup_groups
    * oracles. Mirrors [[minhashNearDups]] step for step: per-bucket cap
    * of 64 in (cap_h, doc_id) order (signed BIGINT order = the Long
    * order `sort_array(struct(h, id))` uses), all unordered in-bucket
    * pairs among the capped members, distinct over buckets, then exact
    * n=3-gram Jaccard from the corpus text (the kernel emits the whole
    * text as one shingle when tokens ≤ n — mirrored by the CASE) with
    * intersect/union deduped exactly as array_intersect/array_union do.
    */
  private def bandedPairCtesSql(threshold: Double): String =
    s"""banded AS (
       |  SELECT doc_id, band_id, band_hash, cap_h
       |  FROM read_parquet('${OracleDump.path(bandDumpName)}')),
       |capped AS (
       |  SELECT doc_id, band_id, band_hash FROM (
       |    SELECT doc_id, band_id, band_hash,
       |      row_number() OVER (PARTITION BY band_id, band_hash ORDER BY cap_h, doc_id) AS rn
       |    FROM banded)
       |  WHERE rn <= 64),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM capped x JOIN capped y
       |    ON x.band_id = y.band_id AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
       |gr AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
       |         ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
       |    END AS grams
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
       |vpairs AS (
       |  SELECT doc_a, doc_b,
       |    round(CAST(len(list_intersect(list_distinct(a.grams), list_distinct(b.grams))) AS DOUBLE)
       |          / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
       |  FROM cand JOIN gr a ON a.doc_id = doc_a JOIN gr b ON b.doc_id = doc_b),
       |pairs AS (SELECT doc_a, doc_b, jaccard FROM vpairs WHERE jaccard >= $threshold)""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // Exact dedup: hash-groupBy on content — one shuffle on the text hash,
    // min-id winner (first-writer-wins, A5 semantics).
    QueryDef(
      "q_dedup_exact",
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
        |  md5(text) AS text_md5,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY text
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("n_copies"))
        .orderBy("doc_id")
    },

    // n-gram Jaccard similarity, exact, for a deterministic candidate set
    // (adjacent doc pairs from the same source) — the verification kernel
    // MinHash candidates are fed through.
    QueryDef(
      "q_ngram_jaccard",
      """WITH sh AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
        |    list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, greatest(len(toks) - 2, 0) + 1)]) AS grams
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.grams AS ga, b.grams AS gb
        |  FROM sh a JOIN sh b ON a.source = b.source AND b.rn = a.rn + 1)
        |SELECT doc_a, doc_b,
        |  round(CAST(len(list_intersect(ga, gb)) AS DOUBLE)
        |        / len(list_distinct(list_concat(ga, gb))), 6) AS jaccard
        |FROM pairs ORDER BY doc_a""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val sh = docs
        .filter(size(split(col("text"), " ")) >= 3)
        .select(
          col("doc_id"), col("source"),
          row_number().over(wSrc).as("rn"),
          // shingle the text directly — the kernel tokenizes on the same
          // single space, so a split/concat_ws round-trip is an identity
          array_distinct(shingles(col("text"), 3)).as("grams"))
      val a = sh.select(col("doc_id").as("doc_a"), col("source"), col("rn"), col("grams").as("ga"))
      val b = sh.select(
        col("doc_id").as("doc_b"), col("source").as("source_b"),
        col("rn").as("rn_b"), col("grams").as("gb"))
      a.join(b, col("source") === col("source_b") && col("rn_b") === col("rn") + 1)
        .select(
          col("doc_a"), col("doc_b"),
          round(
            size(array_intersect(col("ga"), col("gb"))).cast(DoubleType) /
              size(array_distinct(array_union(col("ga"), col("gb")))).cast(DoubleType),
            6).as("jaccard"))
        .orderBy("doc_a")
    },

    // MinHash+LSH near-dup pairs, xxhash64 kernel. ORACLED since r8 via
    // the banded-frame dump ([[OracleDump]]): the signatures/band
    // hashes are the input, and bucket pairing, the 64-cap, and the
    // full Jaccard verification (grams re-derived from raw text by
    // DuckDB independently) are what the oracle hash-checks.
    QueryDef(
      "q_minhash_lsh",
      s"""WITH ${bandedPairCtesSql(0.3)}
        |SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      OracleDump.write(minhashBandCapFrame(docs), d, bandDumpName)
      minhashNearDups(docs, threshold = 0.3)
        .orderBy("doc_a", "doc_b")
    },

    // The same LSH pipeline with md5 hashing — fully oracle-checked:
    // signatures, banding, candidate pairs, and jaccard verification all
    // reproduce in DuckDB SQL (nested lambdas).
    QueryDef(
      "q_minhash_lsh_md5",
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, greatest(len(toks) - 2, 0) + 1)]) AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3),
        |sig AS (
        |  SELECT doc_id, grams,
        |    list_transform(range(0, 16), j ->
        |      list_min(list_transform(grams, g -> substr(md5(CAST(j AS VARCHAR) || ':' || g), 1, 16)))) AS sig
        |  FROM d),
        |bands AS (
        |  SELECT doc_id, b AS band_id,
        |    md5(array_to_string(sig[b * 4 + 1 : b * 4 + 4], ',')) AS band_hash
        |  FROM sig, (SELECT unnest(range(0, 4)) AS b)),
        |pairs AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band_id = y.band_id AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b,
        |  round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
        |FROM pairs
        |JOIN d a ON a.doc_id = doc_a
        |JOIN d b ON b.doc_id = doc_b
        |WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.grams, b.grams))), 6) >= 0.2
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      minhashNearDupsMd5(Tables.documents(s, d)).orderBy("doc_a", "doc_b")
    },

    // Full dedup pipeline: minhash near-dups -> connected components ->
    // canonical survivor per group. ORACLED since r8: the same banded
    // dump as q_minhash_lsh feeds a DuckDB recursive-CTE min-label walk
    // (the q_dedup_groups_md5 scheme), so pairs -> components ->
    // canonical-survivor is hash-checked end to end over the xxhash64
    // pair set too — the iterative Spark CC must agree with the
    // recursive SQL walk row for row.
    QueryDef(
      "q_dedup_groups",
      s"""WITH RECURSIVE ${bandedPairCtesSql(0.3)},
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |walk(id, comp) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
        |comps AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)
        |SELECT d2.doc_id,
        |  coalesce(c.component, d2.doc_id) AS canonical_id,
        |  d2.doc_id = coalesce(c.component, d2.doc_id) AS is_canonical
        |FROM documents d2 LEFT JOIN comps c ON c.id = d2.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      OracleDump.write(minhashBandCapFrame(docs), d, bandDumpName)
      dedupGroups(docs).orderBy("doc_id")
    },

    // Oracle twin of q_dedup_groups: the SAME iterative Spark CC runs
    // over the md5 LSH pair set, and DuckDB recomputes the components
    // with a recursive-CTE min-label walk — the full
    // pairs -> components -> canonical-survivor pipeline is hash-checked.
    QueryDef(
      "q_dedup_groups_md5",
      s"""WITH RECURSIVE ${md5CcCtesSql("documents")}
        |SELECT d2.doc_id,
        |  coalesce(c.component, d2.doc_id) AS canonical_id,
        |  d2.doc_id = coalesce(c.component, d2.doc_id) AS is_canonical
        |FROM documents d2 LEFT JOIN comps c ON c.id = d2.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      dedupGroupsMd5(Tables.documents(s, d)).orderBy("doc_id")
    },

    // The star algorithm under the hash ORACLE: synthetic block chains
    // (doc i — i+1 within blocks of 8, doc_ids are contiguous 0..N−1
    // in the driver tables) give EVERY component diameter 8 — deeper
    // than any real LSH dup group in this corpus, so more propagation
    // rounds are exercised than the md5 pair set would force — while
    // the correct labels have a CLOSED FORM (the block base), letting
    // DuckDB certify the distributed algorithm without re-walking the
    // graph. Cheap by construction: the input is a projection of
    // doc_id, no LSH pipeline in front of the loop — and SUBSAMPLED to
    // one block in eight (doc_id % 64 < 8 keeps whole contiguous
    // blocks, so the diameter and the closed-form labels are
    // unchanged): the loop's cost is rounds × fixed exchange overhead,
    // not rows, so the demo buys the same round count with an eighth
    // of the data (r4 bench: this one query was 4% of the total).
    QueryDef(
      "q_cc_star_chain",
      """SELECT doc_id, CAST(doc_id - (doc_id % 8) AS BIGINT) AS component
        |FROM documents WHERE doc_id % 64 < 8 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") % 64 < 8)
      val pairs = docs.filter(col("doc_id") % 8 =!= 7)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
        // a table ending mid-block would leave a dangling edge to a
        // nonexistent id; keep only edges whose endpoint exists
        .join(docs.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      val comps = connectedComponentsStar(pairs)
      docs.select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        // an isolated single-node block (N ≡ 1 mod 8) has no edges: its
        // label is itself, which IS its block base
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
        .orderBy("doc_id")
    },

    // MinHash-as-estimator, calibrated: signature-position agreement
    // estimates Jaccard (E[est] = J, Broder '97) — emitted NEXT TO the
    // exact Jaccard on the same deterministic pair set, so the oracle
    // hash-checks the estimator math and the dump quantifies estimator
    // error. md5 sigs (kernel) keep both engines bit-identical.
    QueryDef(
      "q_minhash_jaccard_est",
      """WITH sh AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
        |    list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, greatest(len(toks) - 2, 0) + 1)]) AS grams
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3),
        |sig AS (
        |  SELECT doc_id, source, rn, grams,
        |    list_transform(range(0, 16), j ->
        |      list_min(list_transform(grams, g -> substr(md5(CAST(j AS VARCHAR) || ':' || g), 1, 16)))) AS sig
        |  FROM sh)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_filter(range(1, 17), j -> a.sig[j] = b.sig[j])) AS DOUBLE) / 16, 6) AS jaccard_est,
        |  round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard_exact
        |FROM sig a JOIN sig b ON a.source = b.source AND b.rn = a.rn + 1
        |ORDER BY doc_a""".stripMargin) { (s, d) =>
      // neighbor pairing via lead() over the SAME window that numbers
      // the rows — the earlier self-join on (source, rn+1) re-evaluated
      // the md5×16 signature pipeline on BOTH sides (sigs are the whole
      // cost of this query; measured ~2× the runtime)
      val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      Tables.documents(s, d)
        // null-source rows must NOT pair: the oracle's equijoin on
        // source drops them, but a window PARTITION BY groups all nulls
        // together and lead() would pair them
        .filter(col("source").isNotNull)
        .filter(size(split(col("text"), " ")) >= 3)
        .select(
          col("doc_id"), col("source"),
          array_distinct(shingles(col("text"), 3)).as("grams"))
        .withColumn("sig", graft.functions.HashFunctions.md5_minhash_sig(col("grams"), 16))
        .select(
          col("doc_id").as("doc_a"),
          lead(col("doc_id"), 1).over(wSrc).as("doc_b"),
          col("grams").as("ga"), lead(col("grams"), 1).over(wSrc).as("gb"),
          col("sig").as("sa"), lead(col("sig"), 1).over(wSrc).as("sb"))
        .filter(col("doc_b").isNotNull)
        .select(
          col("doc_a"), col("doc_b"),
          round(size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), p => p))
            .cast(DoubleType) / 16, 6).as("jaccard_est"),
          round(size(array_intersect(col("ga"), col("gb"))).cast(DoubleType) /
            size(array_union(col("ga"), col("gb"))), 6).as("jaccard_exact"))
        .orderBy("doc_a")
    },

    // SimHash 64-bit fingerprints, native xxhash64 kernel. ORACLED
    // since r8 via the signature-dump scheme ([[OracleDump]]): the
    // per-shingle xxhash64 values (the one step DuckDB cannot compute)
    // are dumped WITH MULTIPLICITY — the kernel weights duplicate
    // shingles — and DuckDB re-derives the whole per-bit majority vote
    // and the signed int64 assembly from them, so the sketch
    // AGGREGATION is hash-checked (the xxhash64 kernel itself stays
    // ScalaTest-verified, and Spark's `xxhash64()` column function is
    // byte-identical to the kernel's seed-42 hash by construction —
    // both are XXH64.hashUnsafeBytes(bytes, 42)).
    QueryDef(
      "q_simhash",
      s"""WITH h AS (
        |  SELECT doc_id, h FROM read_parquet('${OracleDump.path("simhash_shingle_hashes")}')),
        |b AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS sv
        |  FROM h, (SELECT unnest(range(0, 64)) AS j) jj GROUP BY doc_id, j)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN sv > 0 THEN
        |    CASE WHEN j = 63 THEN -9223372036854775807 - 1 ELSE (1::BIGINT << CAST(j AS INT)) END
        |  ELSE 0 END) AS BIGINT) AS simhash
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      OracleDump.write(
        docs.select(col("doc_id"), explode(shingles(col("text"), 2)).as("gram"))
          .select(col("doc_id"), xxhash64(col("gram")).as("h")),
        d, "simhash_shingle_hashes")
      docs.select(col("doc_id"), simhash64(shingles(col("text"), 2)).as("simhash"))
        .orderBy("doc_id")
    },

    // Oracle twin of q_simhash: same per-bit-majority sketch with md5
    // bit votes, emitted as hex (see simhashMd5).
    QueryDef(
      "q_simhash_md5",
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
        |         ELSE [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]
        |    END AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |g AS (SELECT doc_id, unnest(grams) AS gr FROM d),
        |h AS (SELECT doc_id, md5(gr) AS h FROM g),
        |b AS (
        |  SELECT doc_id, j,
        |    CASE WHEN (strpos('0123456789abcdef', substr(h, 1 + j // 4, 1)) - 1)
        |              & (1 << (3 - (j % 4))) != 0 THEN 1 ELSE -1 END AS v
        |  FROM h, (SELECT unnest(range(0, 64)) AS j) jj),
        |s AS (SELECT doc_id, j, sum(v) AS sv FROM b GROUP BY doc_id, j),
        |nib AS (
        |  SELECT doc_id, j // 4 AS n,
        |    sum(CASE WHEN sv > 0 THEN (1 << (3 - (j % 4))) ELSE 0 END) AS nv
        |  FROM s GROUP BY doc_id, j // 4)
        |SELECT doc_id,
        |  string_agg(substr('0123456789abcdef', CAST(nv AS INT) + 1, 1), '' ORDER BY n) AS simhash_hex
        |FROM nib GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      simhashMd5(Tables.documents(s, d)).orderBy("doc_id")
    })
}
