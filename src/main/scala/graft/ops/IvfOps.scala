package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF-style ANN (inverted-file index): assign every vector to its
  * nearest centroid (nlist centroids, broadcast), search probes only the
  * query's `nprobe` nearest cells. The standard scale path for
  * embedding search: assignment is one broadcast pass over the corpus,
  * search shuffles once on cell id.
  *
  * Two centroid sources, same downstream plan:
  *   - `q_ivf_assign` / `q_ivf_ann` / `q_embed_near_dup`: deterministic
  *     first-`nlist` stand-in centroids, which DuckDB reproduces exactly —
  *     these keep the WHOLE cell-probe pipeline under the hash oracle.
  *   - `q_ivf_assign_trained` / `q_ivf_ann_trained`: real [[KMeans]]
  *     (farthest-first init + Lloyd) — the production path. Float k-means
  *     is inherently summation-order-dependent (Spark's partial aggs vs
  *     DuckDB's serial avg can diverge in the last ulp and flip an argmin),
  *     so these are verified by recall/inertia ScalaTests instead of the
  *     hash oracle.
  */
object IvfOps {
  import SimilarityOps.{dot, l2norm}

  private[graft] def withNorm(df: org.apache.spark.sql.DataFrame) = df.select(
    col("vec_id"),
    transform(col("embedding"), _.cast(DoubleType)).as("emb"))
    .withColumn("norm", l2norm(col("emb")))

  /** Unit-normalized copy (column name kept as `embedding` for
    * [[KMeans.fit]]) — spherical k-means input. Zero-norm vectors are
    * EXCLUDED: they have no direction, so they are unassignable under a
    * cosine metric (and division by the zero norm yields nulls that
    * would NPE the driver-side training collect).
    */
  private[graft] def unitEmb(df: org.apache.spark.sql.DataFrame) =
    withNorm(df)
      .filter(col("norm") > 0)
      .select(
        col("vec_id"),
        transform(col("emb"), e => e / col("norm")).as("embedding"))

  /** cell assignment: argmax cosine over broadcast centroids. */
  private[ops] def assign(s: org.apache.spark.sql.SparkSession, d: String, nlist: Int) = {
    val base = withNorm(Tables.embeddings(s, d))
    val cents = base.filter(col("vec_id") < nlist).select(
      col("vec_id").as("cid"), col("emb").as("cemb"), col("norm").as("cnorm"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid"))
    base.crossJoin(broadcast(cents))
      .withColumn("cos", round(dot(col("emb"), col("cemb")) / (col("norm") * col("cnorm")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cluster"), col("emb"), col("norm"))
  }

  private[ops] val assignSql =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS emb,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings),
      |c AS (SELECT vec_id AS cid, emb AS cemb, norm AS cnorm FROM e WHERE vec_id < 16),
      |p AS (
      |  SELECT e.vec_id, c.cid, e.emb, e.norm,
      |    round(list_dot_product(e.emb, c.cemb) / (e.norm * c.cnorm), 6) AS cos
      |  FROM e, c),
      |assign AS (
      |  SELECT vec_id, cid AS cluster, emb, norm FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM p)
      |  WHERE rn = 1)""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // Embedding-cosine near-duplicate pairs: candidates restricted to the
    // same IVF cell (one shuffle on cluster id — never the all-pairs
    // product), exact cosine threshold inside. The embedding-space analog
    // of MinHash-LSH text dedup.
    QueryDef(
      "q_embed_near_dup",
      s"""$assignSql
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) AS cosine
         |FROM assign a JOIN assign b
         |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      val assigned = assign(s, d, 16)
      val a = assigned.select(
        col("cluster"), col("vec_id").as("vec_a"), col("emb").as("ea"), col("norm").as("na"))
      val b = assigned.select(
        col("cluster").as("cluster_b"), col("vec_id").as("vec_b"),
        col("emb").as("eb"), col("norm").as("nb"))
      a.join(b, col("cluster") === col("cluster_b") && col("vec_a") < col("vec_b"))
        .withColumn("cosine", round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
        .filter(col("cosine") >= 0.4)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    },

    QueryDef(
      "q_ivf_assign",
      s"""$assignSql
         |SELECT vec_id, cluster FROM assign ORDER BY vec_id""".stripMargin) { (s, d) =>
      assign(s, d, 16).select("vec_id", "cluster").orderBy("vec_id")
    },

    // IVF search: probe the query's 2 nearest cells, exact re-rank inside.
    QueryDef(
      "q_ivf_ann",
      s"""$assignSql,
         |qp AS (
         |  SELECT vec_id AS q_id, cid, emb AS q_emb, norm AS q_norm FROM (
         |    SELECT e.vec_id, c.cid, e.emb, e.norm,
         |      round(list_dot_product(e.emb, c.cemb) / (e.norm * c.cnorm), 6) AS cos,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        round(list_dot_product(e.emb, c.cemb) / (e.norm * c.cnorm), 6) DESC, c.cid) AS rn
         |    FROM e, c WHERE e.vec_id < 10)
         |  WHERE rn <= 2),
         |cand AS (
         |  SELECT qp.q_id, qp.q_emb, qp.q_norm, a.vec_id, a.emb, a.norm
         |  FROM qp JOIN assign a ON a.cluster = qp.cid AND a.vec_id <> qp.q_id),
         |scored AS (
         |  SELECT q_id, vec_id,
         |    round(list_dot_product(emb, q_emb) / (norm * q_norm), 6) AS cosine
         |  FROM cand)
         |SELECT q_id, vec_id, cosine, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
         |  FROM scored)
         |WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin) { (s, d) =>
      val assigned = assign(s, d, 16)
      val base = withNorm(Tables.embeddings(s, d))
      val cents = base.filter(col("vec_id") < 16).select(
        col("vec_id").as("cid"), col("emb").as("cemb"), col("norm").as("cnorm"))
      val wq = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cid"))
      val probes = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("norm").as("q_norm"))
        .crossJoin(broadcast(cents))
        .withColumn("cos", round(dot(col("q_emb"), col("cemb")) / (col("q_norm") * col("cnorm")), 6))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= 2)
        .select("q_id", "q_emb", "q_norm", "cid")
      val wr = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      assigned
        .join(broadcast(probes), col("cluster") === col("cid") && col("vec_id") =!= col("q_id"))
        .withColumn("cosine", round(dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm")), 6))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("vec_id"), col("cosine"), col("rn").cast(LongType).as("rank"))
        .orderBy("q_id", "rank")
    },

    // Trained IVF assignment — the production path: SPHERICAL k-means
    // (Lloyd over unit-normalized vectors, deterministic farthest-first
    // init) instead of the first-N stand-in. The serving metric is
    // cosine, so cells must partition by direction: on the unit sphere
    // L2 ordering ≡ cosine ordering, while plain L2 on raw vectors
    // partitions by magnitude too — which is orthogonal to cosine and
    // guts recall. Training never shuffles the corpus (broadcast
    // centroids both ways); serving is identical to q_ivf_assign.
    //
    // ORACLED since r5: training is driver-side and bit-deterministic
    // (fitSample — proven cross-parallelism identical), so the query
    // dumps the fitted centroids to a tiny sf-keyed parquet and DuckDB
    // re-derives the distributed argmin assignment from them — the
    // model is an input (like the md5 codebooks), the OPERATOR is what
    // the oracle checks. Only a run at the SQL's own SF (sf0.01) writes
    // the dump, atomically — see [[dumpCentroids]].
    QueryDef("q_ivf_assign_trained", trainedAssignSql) { (s, d) =>
      val unit = unitEmb(Tables.embeddings(s, d))
      val model = KMeans.fitSample(unit, k = 16, iters = 5, spherical = true)
      dumpCentroids(s, d, model.centroids)
      KMeans.assignClusters(unit, model.centroids)
        .select(col("vec_id"), col("cluster").cast(LongType).as("cluster"))
        .orderBy("vec_id")
    },

    // Trained IVF search: probe the 2 nearest trained cells (L2 on unit
    // vectors ≡ cosine), exact cosine re-rank inside — same plan shape
    // as q_ivf_ann, real centroids. IvfTrainedSpec keeps the honest
    // recall bars; the hash oracle (same centroid-dump scheme as
    // q_ivf_assign_trained) checks probe + candidate-join + re-rank
    // row-for-row.
    QueryDef("q_ivf_ann_trained", trainedAnnSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val model = KMeans.fitSample(unitEmb(emb), k = 16, iters = 5, spherical = true)
      dumpCentroids(s, d, model.centroids)
      annWithModel(emb, col("vec_id") < 10, k = 3, nprobe = 2, model)
    })

  /** Fitted-centroid dump for the trained-IVF oracles: nlist×dim
    * doubles to a fixed /tmp path keyed by the sf-dir basename. Only
    * the SF the oracle SQL hardcodes (sf0.01, the driver's compare SF)
    * ever writes — a bench/sweep run at another SF trains and serves
    * normally but skips the dump, so it can neither clobber the compare
    * input nor leave a misleading dump at a path nothing reads. The
    * write is PUBLISHED ATOMICALLY: parquet lands in a unique temp dir,
    * then one rename swaps it in — a concurrent DuckDB read on a shared
    * host sees the old dump or the new one, never a half-written dir
    * (mode-overwrite deletes first, leaving an empty-path window).
    */
  private def dumpCentroids(
      s: org.apache.spark.sql.SparkSession, d: String,
      centroids: Array[Array[Double]]): Unit =
    OracleDump.write(KMeans.centroidDf(s, centroids), d, "ivf_centroids_sph16")

  /** The shared DuckDB front half: dumped centroids + unit-normalized
    * corpus + the spherical-argmin machinery, mirroring [[unitEmb]] +
    * [[KMeans.assignClusters]] float-for-float (sqrt and division are
    * correctly rounded; list_dot_product matches the native dot
    * kernel's summation order).
    */
  private def trainedCtes =
    """WITH cent AS (
      |  SELECT cid, cemb
      |  FROM read_parquet('/tmp/graft_oracle/ivf_centroids_sph16_sf0.01/*.parquet')),
      |n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS de,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id, de, norm, list_transform(de, x -> x / norm) AS ue
      |  FROM n WHERE norm > 0)""".stripMargin

  private def sphD2(u: String, c: String) =
    s"list_dot_product($u, $u) - 2.0 * list_dot_product($u, $c) + list_dot_product($c, $c)"

  private def trainedAssignSql =
    s"""$trainedCtes,
       |d AS (
       |  SELECT u.vec_id, c.cid,
       |    ${sphD2("u.ue", "c.cemb")} AS d2
       |  FROM u, cent c)
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  private def trainedAnnSql =
    s"""$trainedCtes,
       |asg AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT u.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY u.vec_id ORDER BY ${sphD2("u.ue", "c.cemb")}, c.cid) AS rn
       |    FROM u, cent c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, de AS qe, norm AS qn, cid FROM (
       |    SELECT u.vec_id, u.de, u.norm, c.cid,
       |      row_number() OVER (PARTITION BY u.vec_id ORDER BY ${sphD2("u.ue", "c.cemb")}, c.cid) AS rn
       |    FROM u, cent c WHERE u.vec_id < 10)
       |  WHERE rn <= 2),
       |cand AS (
       |  SELECT p.q_id, u2.vec_id,
       |    round(list_dot_product(u2.de, p.qe) / (u2.norm * p.qn), 6) AS cosine
       |  FROM probes p JOIN asg a ON a.cluster = p.cid JOIN u u2 ON u2.vec_id = a.vec_id
       |  WHERE u2.vec_id <> p.q_id)
       |SELECT q_id, vec_id, cosine, CAST(rn AS BIGINT) AS rank FROM (
       |  SELECT q_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn FROM cand)
       |WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin

  /** [[annTrained]] with an already-fitted model — the serve side alone. */
  private def annWithModel(
      emb: org.apache.spark.sql.DataFrame,
      queryPred: org.apache.spark.sql.Column,
      k: Int,
      nprobe: Int,
      model: KMeans.Model): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    val unit = unitEmb(emb)
    val base = withNorm(emb)
    val corpus = base.join(
      KMeans.assignClusters(unit, model.centroids).select(col("vec_id"), col("cluster")),
      "vec_id")
    probeRank(corpus, base.filter(queryPred),
      KMeans.centroidDf(s, model.centroids), k, nprobe)
  }

  /** The IVF probe + rank stage, shared by [[annTrained]] and the
    * persisted [[graft.pipeline.AnnIndex]] so index queries are the
    * SAME operator as the one-shot path by construction: `corpus` is
    * (vec_id, emb, norm, cluster), `queryBase` is (vec_id, emb, norm)
    * rows to query with, `cents` is (cid, cemb). Each query probes its
    * `nprobe` nearest cells (exact d2 against broadcast centroids),
    * scans only those postings, ranks by ROUNDED cosine with vec_id
    * tie-break (the float-ranking rule), keeps top k. */
  private[graft] def probeRank(
      corpus: org.apache.spark.sql.DataFrame,
      queryBase: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame,
      k: Int,
      nprobe: Int): org.apache.spark.sql.DataFrame = {
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)
    val wq = Window.partitionBy(col("q_id")).orderBy(col("d2").asc, col("cid").asc)
    val probes = queryBase
      .filter(col("norm") > 0) // zero-norm queries have no cosine ranking
      .select(
        col("vec_id").as("q_id"), col("emb").as("q_emb"), col("norm").as("q_norm"),
        transform(col("emb"), e => e / col("norm")).as("q_unit"))
      .crossJoin(broadcast(cents))
      .withColumn("d2", d2(col("q_unit"), col("cemb")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select("q_id", "q_emb", "q_norm", "cid")
    val wr = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    corpus
      .join(broadcast(probes), col("cluster") === col("cid") && col("vec_id") =!= col("q_id"))
      .withColumn("cosine", round(dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm")), 6))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cosine"), col("rn").cast(LongType).as("rank"))
      .orderBy("q_id", "rank")
  }

  /** FAISS-style IVF parameter heuristics from corpus stats — the
    * autotuning knob the roadmap promised. nlist ≈ 4·√N (the FAISS
    * guideline), clamped so every centroid keeps ≥ ~39 training points
    * (below that Lloyd cells are noise) and to a [4, 65536] band;
    * nprobe from a target scanned-corpus fraction (cells are ~balanced
    * after spherical training, so scanned fraction ≈ nprobe/nlist).
    */
  object Tuning {
    /** Training sample cap must match what fitSample actually trains
      * on — the density clamp is about points-per-centroid in the
      * TRAINING SET, not the corpus (a 10^8 corpus still trains on
      * maxSample points, so nlist must be bounded by maxSample/39 or
      * Lloyd cells degenerate to single sample points).
      */
    def nlistFor(corpusSize: Long, maxSample: Int = KMeans.DefaultMaxSample): Int = {
      val bySqrt = 4.0 * math.sqrt(corpusSize.toDouble)
      val byTrainDensity = math.min(corpusSize, maxSample.toLong) / 39.0
      math.max(4, math.min(65536, math.min(bySqrt, byTrainDensity).toInt))
    }

    def nprobeFor(nlist: Int, targetScanFraction: Double): Int = {
      require(targetScanFraction > 0 && targetScanFraction <= 1, "fraction in (0,1]")
      math.max(1, math.min(nlist, math.ceil(nlist * targetScanFraction).toInt))
    }

    /** One count() then the two rules. */
    def tuned(emb: org.apache.spark.sql.DataFrame,
        targetScanFraction: Double = 0.1): (Int, Int) = {
      val n = nlistFor(emb.count())
      (n, nprobeFor(n, targetScanFraction))
    }
  }

  /** Trained IVF search with autotuned nlist/nprobe. */
  def annTrainedAuto(
      emb: org.apache.spark.sql.DataFrame,
      queryPred: org.apache.spark.sql.Column,
      k: Int,
      targetScanFraction: Double = 0.1): org.apache.spark.sql.DataFrame = {
    val (nlist, nprobe) = Tuning.tuned(emb, targetScanFraction)
    annTrained(emb, queryPred, k, nlist, nprobe)
  }

  /** Trained IVF cosine search: spherical k-means cells, probe the
    * `nprobe` nearest cells per query, exact cosine re-rank inside.
    * Returns (q_id, vec_id, cosine, rank), totally ordered.
    *
    * Scale shape: training and probing broadcast only k×dim centroid
    * doubles; the candidate join shuffles nothing on the corpus side
    * (probes broadcast); the corpus is scanned twice (train+serve) but
    * never collected.
    */
  def annTrained(
      emb: org.apache.spark.sql.DataFrame,
      queryPred: org.apache.spark.sql.Column,
      k: Int,
      nlist: Int,
      nprobe: Int,
      iters: Int = 5): org.apache.spark.sql.DataFrame =
    annWithModel(emb, queryPred, k, nprobe,
      KMeans.fitSample(unitEmb(emb), k = nlist, iters = iters, spherical = true))
}
