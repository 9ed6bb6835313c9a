package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.{IvfAdcOps, IvfOps, KMeans, OpqOps, PqOps}

/** Persisted incremental IVF ANN index — the [[DedupIndex]] contract
  * applied to similarity search: at 100 TB you never re-train or
  * re-assign the whole corpus per ingest. Centroids are trained ONCE
  * at build (spherical k-means on the bounded driver sample,
  * [[KMeans.fitSample]]) and frozen; each increment is assigned to the
  * frozen centroids and appended; a query probes `nprobe` cells and
  * scans only their postings — grow cost O(increment), query cost
  * O(probed postings), never O(corpus).
  *
  * Two [[TxTable]]s under one root:
  *   - `root/centroids` — (cid, cemb), written once at build,
  *     IMMUTABLE (the frozen codebook; re-clustering is a new index,
  *     exactly like [[DedupIndex]]'s pinned band geometry). Bounded:
  *     nlist rows, collected driver-side per operation under the same
  *     guarantee that bounds k-means itself.
  *   - `root/postings` — (cluster, vec_id, emb, norm), PARTITIONED BY
  *     cluster, appended per increment. A probe reads only its cells'
  *     partitions (partition-pruned scan — the on-disk twin of the
  *     in-plan cell filter).
  *
  * Query is [[IvfOps.probeRank]] — the SAME operator `annTrained`
  * runs, by construction, so index answers equal the one-shot path
  * whenever centroids and postings match (spec-pinned).
  *
  * Idempotence: [[append]] anti-joins on vec_id against the stored
  * postings (column-pruned scan), so a crashed/replayed ingest never
  * duplicates a vector; each append is one atomic
  * [[TxTable.appendCommit]]. Same single-writer caveat as DedupIndex:
  * concurrent appends of disjoint increments are storage-safe, but
  * vec_id dedup across RACING appends is not guaranteed — serialize
  * ingests.
  *
  * Frozen-centroid drift is the documented trade (FAISS's own
  * contract): increments far from the training distribution land in
  * the nearest existing cells and recall degrades gracefully;
  * [[cellStats]] surfaces the imbalance a re-build decision needs.
  */
object AnnIndex {

  /** Serve-batch cap for [[adcScored]] — see the guard there. */
  val maxAdcQueryBatch = 4096

  private def centroidsRoot(root: String) = s"$root/centroids"
  private def postingsRoot(root: String) = s"$root/postings"
  private def codebooksRoot(root: String) = s"$root/codebooks"
  private def rotationRoot(root: String) = s"$root/rotation"

  /** Postings layout, pinned at build beside the log (the band-geometry
    * discipline): RAW stores `(cluster, vec_id, emb, norm)` — exact
    * cosine at query time, dim×8 bytes/vector; ADC stores
    * `(cluster, vec_id, codes BINARY)` — m bytes/vector of PQ residual
    * codes, the bytes-on-disk shape a 1B-vector index needs (the query
    * machinery is q_ivfadc_ann's, persisted). Mode is immutable:
    * re-encoding a corpus under the other layout is a new index.
    */
  sealed trait Mode
  case object Raw extends Mode
  final case class Adc(m: Int, k: Int) extends Mode
  /** ADC with a frozen OPQ rotation on the residuals (Ge et al.; the
    * [[graft.ops.OpqOps]] query form, persisted): codes quantize
    * R·(residual − mean) instead of the raw residual, spending the
    * same m bytes on a variance-balanced block structure. The rotation
    * is an isometry, so distances — and every persistence contract —
    * are the Adc tier's; only quantization fidelity changes. */
  final case class OpqAdc(m: Int, k: Int) extends Mode

  private def modePath(root: String) =
    new org.apache.hadoop.fs.Path(root, "_graft_postings")

  private def writeMode(spark: SparkSession, root: String, mode: Mode): Unit = {
    val path = modePath(root)
    val s = mode match {
      case Raw => "mode=raw"
      case Adc(m, k) => s"mode=adc,m=$m,k=$k"
      case OpqAdc(m, k) => s"mode=opqadc,m=$m,k=$k"
    }
    // atomic publish (PinFile): a crash mid-write must not leave a
    // truncated mode file that readMode half-parses while build
    // refuses to re-run
    require(PinFile.writeAtomic(spark, path, s),
      s"postings mode at $root was pinned concurrently — the index is " +
        "built once (rebuild under a new root to change the mode)")
  }

  /** Absence = raw: indexes built before the ADC tier existed carry no
    * mode file and keep their exact-raw behavior. */
  private def readMode(spark: SparkSession, root: String): Mode = {
    val path = modePath(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Raw
    val kv = PinFile.readKv(spark, path)
    kv("mode") match {
      case "raw" => Raw
      case "adc" => Adc(kv("m").toInt, kv("k").toInt)
      case "opqadc" => OpqAdc(kv("m").toInt, kv("k").toInt)
      case other => throw new IllegalArgumentException(
        s"unknown postings mode '$other' at $path")
    }
  }

  /** Train the frozen codebook on `emb` and commit both tables
    * (centroids; initial postings). Creating the index IS the first
    * append. */
  def build(
      spark: SparkSession, root: String, emb: DataFrame,
      nlist: Int, iters: Int = 5): Unit = {
    require(TxTable.latest(spark, centroidsRoot(root))._1 == 0,
      s"index already built at $root (centroids are frozen — a new clustering is a new index)")
    val model = KMeans.fitSample(
      IvfOps.unitEmb(emb), k = nlist, iters = iters, spherical = true)
    TxTable.commit(
      spark, centroidsRoot(root),
      // one partition value: the codebook is one bounded immutable blob
      KMeans.centroidDf(spark, model.centroids).withColumn("part", lit("all")),
      "part")
    writeMode(spark, root, Raw)
    appendAssigned(spark, root, emb, model.centroids)
    ()
  }

  /** Build with ADC-COMPRESSED postings: the frozen coarse codebook as
    * [[build]], plus frozen per-block PQ codebooks trained on the unit
    * residuals of the same bounded driver sample (the
    * [[IvfAdcOps.train]] recipe on the spherical geometry this index
    * ranks under). Postings then store m one-byte codes per vector
    * instead of dim×8 raw bytes — the ~dim×8/m compression that makes
    * a 1B-vector index's bytes-on-disk and probe IO viable — and
    * queries score them against broadcast per-(query, cell) ADC
    * tables. Raw embeddings never enter the index; exact re-rank
    * ([[queryRerank]]) fetches candidates from the CALLER's corpus
    * table, so takedown stays one postings delete.
    */
  def buildAdc(
      spark: SparkSession, root: String, emb: DataFrame,
      nlist: Int, m: Int, k: Int = 256, iters: Int = 5,
      opq: Boolean = false): Unit = {
    require(TxTable.latest(spark, centroidsRoot(root))._1 == 0,
      s"index already built at $root (centroids are frozen — a new clustering is a new index)")
    require(k <= 256, s"ADC codes are one byte: k=$k > 256")
    val unit = IvfOps.unitEmb(emb)
    val pts = KMeans.samplePoints(unit, KMeans.DefaultMaxSample)
    require(pts.nonEmpty, "ADC training sample is empty")
    require(pts(0).length % m == 0,
      s"dim ${pts(0).length} not divisible into $m blocks")
    val coarse = KMeans.fitSample(unit, k = nlist, iters = iters,
      spherical = true).centroids
    val residuals = pts.map(p =>
      IvfAdcOps.sub(p, coarse(IvfAdcOps.argminL2(p, coarse)._1)))
    // OPQ tier: train the rotation on the SAME bounded residual sample,
    // freeze it beside the codebooks, and train the books in the
    // rotated space — encode and query apply the identical frozen map
    val rot = if (opq) Some(OpqOps.trainRotationPts(residuals, m)) else None
    val trainPts = rot match {
      case Some(r) => residuals.map(p => OpqOps.rotateOne(p, r.mean, r.rot))
      case None => residuals
    }
    val books = PqOps.trainArrays(trainPts, m, k, iters).codebooks
    TxTable.commit(
      spark, centroidsRoot(root),
      KMeans.centroidDf(spark, coarse).withColumn("part", lit("all")),
      "part")
    TxTable.commit(
      spark, codebooksRoot(root),
      codebookDf(spark, books).withColumn("part", lit("all")),
      "part")
    rot.foreach { r =>
      TxTable.commit(
        spark, rotationRoot(root),
        rotationDf(spark, r).withColumn("part", lit("all")),
        "part")
    }
    writeMode(spark, root, if (opq) OpqAdc(m, k) else Adc(m, k))
    appendAdcAssigned(spark, root, emb, coarse, books, rot)
    ()
  }

  /** Frozen rotation rows: idx = -1 is the mean, idx ∈ [0, d) are the
    * rotation matrix rows — one bounded immutable blob, the centroids
    * discipline. */
  private def rotationDf(spark: SparkSession, r: OpqOps.Rotation): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = Row(-1, r.mean.toSeq) +:
      r.rot.zipWithIndex.map { case (v, i) => Row(i, v.toSeq) }.toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("idx", IntegerType, nullable = false),
        StructField("rvec", ArrayType(DoubleType, containsNull = false), nullable = false))))
  }

  private def loadRotation(spark: SparkSession, root: String): OpqOps.Rotation = {
    val rows = TxTable.read(spark, rotationRoot(root))
      .select(col("idx"), col("rvec"))
      .collect()
    val mean = rows.find(_.getInt(0) == -1)
      .getOrElse(throw new IllegalStateException(
        s"rotation table at ${rotationRoot(root)} has no mean row"))
      .getSeq[Double](1).toArray
    val rot = rows.filter(_.getInt(0) >= 0).sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
    OpqOps.Rotation(mean, rot)
  }

  private def codebookDf(
      spark: SparkSession, books: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = for {
      (book, b) <- books.zipWithIndex
      (cv, c) <- book.zipWithIndex
    } yield Row(b, c, cv.toSeq)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("block", IntegerType, nullable = false),
        StructField("code", IntegerType, nullable = false),
        StructField("cvec", ArrayType(DoubleType, containsNull = false), nullable = false))))
  }

  /** Frozen PQ codebooks (bounded: m × k × subdim doubles — the same
    * size the driver training held). */
  private def loadCodebooks(spark: SparkSession, root: String): Array[Array[Array[Double]]] =
    TxTable.read(spark, codebooksRoot(root))
      .select(col("block"), col("code"), col("cvec"))
      .collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }

  /** Frozen codebook as the driver array assignment needs (bounded:
    * nlist × dim doubles — the same size k-means training held). */
  private def loadCentroids(spark: SparkSession, root: String): Array[Array[Double]] =
    TxTable.read(spark, centroidsRoot(root))
      .select(col("cid").cast(LongType).as("cid"), col("cemb"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)

  /** Assign an increment to the FROZEN centroids and append its novel
    * vectors (vec_id anti-join — replay-idempotent). Returns rows
    * appended. Dispatches on the pinned postings mode — the grow
    * contract is identical for both layouts. */
  def append(spark: SparkSession, root: String, emb: DataFrame): Long = {
    val cents = loadCentroids(spark, root)
    readMode(spark, root) match {
      case Raw => appendAssigned(spark, root, emb, cents)
      case Adc(_, _) =>
        appendAdcAssigned(spark, root, emb, cents, loadCodebooks(spark, root), None)
      case OpqAdc(_, _) =>
        appendAdcAssigned(spark, root, emb, cents, loadCodebooks(spark, root),
          Some(loadRotation(spark, root)))
    }
  }

  /** ADC encode: cell assignment via the SAME broadcast argmin kernel
    * the raw tier uses ([[KMeans.assignClusters]] — identical cells by
    * construction), then a narrow map computing the residual's
    * per-block codes against the broadcast books. One map pass, zero
    * shuffle, m bytes per vector. */
  private def adcEncode(
      emb: DataFrame, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      rot: Option[OpqOps.Rotation]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((cents, books, rot))
    KMeans.assignClusters(IvfOps.unitEmb(emb), cents)
      .select(col("vec_id"), col("cluster"), col("emb"))
      .as[(Long, Int, Seq[Double])]
      .mapPartitions { it =>
        val (cs, bks, rt) = bc.value
        val m = bks.length
        val subdim = bks(0)(0).length
        it.map { case (id, cell, u) =>
          val r0 = IvfAdcOps.sub(u.toArray, cs(cell))
          val r = rt match {
            case Some(x) => OpqOps.rotateOne(r0, x.mean, x.rot)
            case None => r0
          }
          val codes = new Array[Byte](m)
          var b = 0
          while (b < m) {
            val block = java.util.Arrays.copyOfRange(r, b * subdim, (b + 1) * subdim)
            codes(b) = (IvfAdcOps.argminL2(block, bks(b))._1 & 0xFF).toByte
            b += 1
          }
          (cell.toLong, id, codes)
        }
      }
      .toDF("cluster", "vec_id", "codes")
  }

  private def appendAdcAssigned(
      spark: SparkSession, root: String, emb: DataFrame,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      rot: Option[OpqOps.Rotation]): Long = {
    val assigned = adcEncode(emb, cents, books, rot)
    val pRoot = postingsRoot(root)
    val novel = TxTable.committed(spark, pRoot).fold(assigned)(stored =>
      assigned.join(stored.select("vec_id").distinct(), Seq("vec_id"), "left_anti"))
    val cut = novel.localCheckpoint(false)
    val n = cut.count()
    if (n > 0) TxTable.appendCommit(spark, pRoot, cut, "cluster")
    n
  }

  private def appendAssigned(
      spark: SparkSession, root: String, emb: DataFrame,
      cents: Array[Array[Double]]): Long = {
    val base = IvfOps.withNorm(emb)
    val assigned = base.join(
      KMeans.assignClusters(IvfOps.unitEmb(emb), cents)
        .select(col("vec_id"), col("cluster").cast(LongType).as("cluster")),
      "vec_id")
      .select(col("cluster"), col("vec_id"), col("emb"), col("norm"))
    val pRoot = postingsRoot(root)
    val novel = TxTable.committed(spark, pRoot).fold(assigned)(stored =>
      assigned.join(stored.select("vec_id").distinct(), Seq("vec_id"), "left_anti"))
    val cut = novel.localCheckpoint(false)
    val n = cut.count()
    if (n > 0) TxTable.appendCommit(spark, pRoot, cut, "cluster")
    n
  }

  /** ANN query against the persisted index: `queries` is (vec_id,
    * embedding) rows; returns (q_id, vec_id, cosine, rank) — the
    * exact [[IvfOps.probeRank]] semantics (rounded-cosine ranking,
    * vec_id tie-break, self-match excluded, top `k` per query over the
    * `nprobe` nearest cells' postings). */
  def query(
      spark: SparkSession, root: String, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = readMode(spark, root) match {
    case Raw =>
      // partition-column values come back type-inferred from the path
      // (INT for small cluster ids) — normalize to the written LONG
      val corpus = TxTable.read(spark, postingsRoot(root))
        .select(col("vec_id"), col("emb"), col("norm"),
          col("cluster").cast(LongType).as("cluster"))
      val cents = TxTable.read(spark, centroidsRoot(root)).select(col("cid"), col("cemb"))
      IvfOps.probeRank(corpus, IvfOps.withNorm(queries), cents, k, nprobe)
    case Adc(_, _) | OpqAdc(_, _) =>
      adcScored(spark, root, queries, nprobe)
        .withColumn("cosine", round(lit(1.0) - col("adist") / 2.0, 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))))
        .filter(col("rn") <= k)
        .select(col("q_id"), col("vec_id"), col("cosine"),
          col("rn").cast(LongType).as("rank"))
        .orderBy("q_id", "rank")
  }

  /** ADC scoring core: per collected query, its `nprobe` nearest cells
    * (same d2 form and (d2, cid) tie rule as [[IvfOps.probeRank]] —
    * identical probe sets by construction) and a per-(query, cell) ADC
    * table over the query residual; postings of the probed cells only
    * (isin → partition-pruned scan) are scored in one broadcast
    * mapPartitions pass: adist = Σ_b table(b)(code_b) ≈ ‖u_q − (c +
    * r̂_v)‖², so 1 − adist/2 ≈ cosine — the documented quantization
    * approximation. Queries are a bounded serve-side batch (the
    * [[IvfAdcOps.search]] contract). */
  private def adcScored(
      spark: SparkSession, root: String, queries: DataFrame,
      nprobe: Int): DataFrame = {
    import spark.implicits._
    val cents = loadCentroids(spark, root)
    val books = loadCodebooks(spark, root)
    val rot = readMode(spark, root) match {
      case OpqAdc(_, _) => Some(loadRotation(spark, root))
      case _ => None
    }
    val m = books.length
    val subdim = books(0)(0).length
    val qs = IvfOps.unitEmb(queries)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // bounded-driver-state guard: the broadcast carries one m×k ADC
    // table per (query, probed cell) — queries are a SERVE-side batch
    // by contract (the IvfAdcOps.search shape), not a corpus. At the
    // cap the broadcast is maxAdcQueryBatch × nprobe × m × k doubles
    // (~4096×8×16×256×8B ≈ 1 GiB worst-case); corpus-scale all-pairs
    // scoring belongs to the batch operators (q_cosine_topk_agg), not
    // the serve index.
    require(qs.length <= maxAdcQueryBatch,
      s"ADC query batch ${qs.length} exceeds $maxAdcQueryBatch — " +
        "chunk serve batches; corpus-scale scoring is a batch operator's job")
    val cc = cents.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    }
    val probes = qs.map { case (qid, u) =>
      var aa = 0.0
      var i = 0
      while (i < u.length) { aa += u(i) * u(i); i += 1 }
      val byCell = cents.indices.map { ci =>
        val c = cents(ci)
        var ab = 0.0; var j = 0
        while (j < u.length) { ab += u(j) * c(j); j += 1 }
        ci -> (aa - 2.0 * ab + cc(ci))
      }.sortBy { case (ci, d) => (d, ci) }.take(nprobe).map(_._1)
      val tables = byCell.map { ci =>
        val r0 = IvfAdcOps.sub(u, cents(ci))
        // the frozen map the postings codes were trained under — an
        // isometry, so adist keeps its exact meaning
        val r = rot match {
          case Some(x) => OpqOps.rotateOne(r0, x.mean, x.rot)
          case None => r0
        }
        val t = Array.ofDim[Double](m, books(0).length)
        var b = 0
        while (b < m) {
          var cd = 0
          while (cd < books(b).length) {
            val book = books(b)(cd)
            var s = 0.0; var j = 0
            while (j < subdim) { val d = r(b * subdim + j) - book(j); s += d * d; j += 1 }
            t(b)(cd) = s; cd += 1
          }
          b += 1
        }
        ci.toLong -> t
      }.toMap
      (qid, tables)
    }
    val probedCells = probes.flatMap(_._2.keys).distinct.toSeq
    val bc = spark.sparkContext.broadcast(probes)
    TxTable.read(spark, postingsRoot(root))
      .select(col("cluster").cast(LongType).as("cluster"),
        col("vec_id"), col("codes"))
      .filter(col("cluster").isin(probedCells: _*))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions { it =>
        val ps = bc.value
        it.flatMap { case (cell, id, codes) =>
          ps.iterator.flatMap { case (qid, tables) =>
            if (qid == id) Iterator.empty
            else tables.get(cell).iterator.map { t =>
              var s = 0.0; var b = 0
              while (b < codes.length) { s += t(b)(codes(b) & 0xFF); b += 1 }
              (qid, id, s)
            }
          }
        }
      }
      .toDF("q_id", "vec_id", "adist")
  }

  /** ADC query with EXACT re-rank: the ADC pass selects a `pool`-sized
    * candidate set per query (by approximate distance), then the raw
    * vectors of those candidates — fetched from the CALLER's `corpus`
    * table (vec_id, embedding), a bounded point-lookup semi-join,
    * never stored in the index — rank by exact rounded cosine, top
    * `k`. The FAISS IVFADC+refine shape: the index pays m bytes per
    * vector, full precision lives where the corpus already does. */
  def queryRerank(
      spark: SparkSession, root: String, queries: DataFrame,
      k: Int, nprobe: Int, corpus: DataFrame, pool: Int = 0): DataFrame = {
    readMode(spark, root) match {
      case Raw => query(spark, root, queries, k, nprobe)
      case Adc(_, _) | OpqAdc(_, _) =>
        val p = if (pool > 0) pool else 10 * k
        val cand = adcScored(spark, root, queries, nprobe)
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("vec_id"))))
          .filter(col("rn") <= p)
          .select("q_id", "vec_id")
        val cvec = IvfOps.withNorm(corpus)
          .select(col("vec_id"), col("emb"), col("norm"))
        val qvec = IvfOps.withNorm(queries).filter(col("norm") > 0)
          .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
            col("norm").as("q_norm"))
        import graft.ops.SimilarityOps.dot
        cand.join(cvec, "vec_id").join(broadcast(qvec), "q_id")
          .withColumn("cosine",
            round(dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm")), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))))
          .filter(col("rn") <= k)
          .select(col("q_id"), col("vec_id"), col("cosine"),
            col("rn").cast(LongType).as("rank"))
          .orderBy("q_id", "rank")
    }
  }

  /** Live postings bytes on disk (current TxTable version only) — the
    * compression evidence the ADC tier exists to move. */
  def postingsBytes(spark: SparkSession, root: String): Long = {
    val files = TxTable.read(spark, postingsRoot(root)).inputFiles
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
  }

  /** Vector takedown — the index-side half of the corpus
    * right-to-erasure path ([[TxTable.deleteWhere]] is the corpus
    * half): remove `ids` from the postings so a deleted document's
    * embedding is never retrievable again at ANY nprobe. Partition-
    * local: only the cells that actually hold a hit are rewritten
    * (deleteWhere's affected-partition rewrite), untouched cells keep
    * their files; [[compact]] de-fragments afterwards if the takedown
    * left small survivor files. Centroids are NOT touched — the frozen
    * codebook is geometry, not content (it retains no per-vector
    * data), exactly as [[DedupIndex]] keeps its band spec across
    * deletes.
    *
    * Idempotent, which is what makes the cross-table takedown
    * crash-safe: erase(corpus.deleteWhere → index.delete) interrupted
    * between the two halves converges on replay — the corpus half
    * matches zero rows the second time, the index half completes.
    * Returns postings removed (0 on a pure replay).
    *
    * `ids` is a driver-side batch by design: takedown requests are
    * human-scale (the predicate broadcasts into the partition scan).
    * A corpus-scale purge is a rebuild, not a delete — chunk callers
    * who genuinely need millions of ids.
    *
    * Ordering caveat (the tombstone-free trade): [[append]]'s replay
    * idempotence is an anti-join against CURRENT postings, so an
    * ingest replay AFTER a takedown can re-add a deleted vector if its
    * source batch still contains it. Run the corpus-table delete
    * FIRST (as the erase flow above does) so replayed ingests re-read
    * a source that no longer has the row. */
  def delete(spark: SparkSession, root: String, ids: Seq[Long]): Long = {
    if (ids.isEmpty) return 0L
    val pRoot = postingsRoot(root)
    if (TxTable.latest(spark, pRoot)._1 == 0) return 0L // nothing committed yet
    TxTable.deleteWhere(spark, pRoot, "cluster",
      col("vec_id").isin(ids: _*))
  }

  /** Many small appends fragment the postings table (one file set per
    * commit); merge the accumulated append runs back into bounded
    * LEVELED runs ([[TxTable.compactLeveled]], r15 — this was the
    * O(corpus) full rewrite the r13/r14 maintenance work retired
    * everywhere else, SCALE.md §16d: a cadenced compact that
    * re-reads and re-writes the whole postings table per firing is not
    * runnable at 100 TB, while a leveled firing touches only the
    * appends landed since the last one, promoting a level only when it
    * fills). Runs are clustered on vec_id within each cluster
    * partition, so the append path's vec_id anti-join and a takedown's
    * id predicate keep pruning by parquet footer stats. Pure layout —
    * query answers are unchanged (spec-pinned) — and each merge step is
    * atomic, same as every TxTable commit. Returns the number of merge
    * steps (0 = nothing to merge). Run [[TxTable.vacuum]] on the
    * postings root afterwards — outside any reader's retention window —
    * to reclaim the superseded dirs. */
  def compact(spark: SparkSession, root: String): Int =
    TxTable.compactLeveled(spark, postingsRoot(root), "cluster", Seq("vec_id"))

  /** Embedding stream → per-batch [[append]] (AvailableNow): the
    * growing-index ingest tier ([[CorpusIngest.runAvailableNow]]
    * shape). Batch replays after a crash are absorbed by append's
    * vec_id anti-join. */
  def runAppendAvailableNow(
      spark: SparkSession, root: String, sourceDir: String,
      sourceSchema: org.apache.spark.sql.types.StructType,
      checkpointDir: String): Unit = {
    val q = spark.readStream.schema(sourceSchema).parquet(sourceDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        append(batch.sparkSession, root, batch)
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** The postings table's committed [[TxTable]] version — the
    * watermark a downstream index consumer (a mirror builder, a
    * serving replica warming its cache, an offline re-rank job) polls.
    * Every data-adding [[append]] bumps it by exactly one; the version
    * comes from the manifest log, never a side counter. */
  def postingsVersion(spark: SparkSession, root: String): Long =
    TxTable.latest(spark, postingsRoot(root))._1

  /** Incremental postings poll — the [[PretrainExport.newShardsSince]]
    * contract for the ANN tier: the rows appended AFTER `sinceVersion`,
    * pinned at the current committed version, or None when the table
    * hasn't advanced. O(increment) because the postings table only
    * ever grows by blind appends; a [[compact]] in the window breaks
    * the dir-level delta and is REFUSED loudly by
    * [[TxTable.readSince]] (re-baseline from a full read at the
    * returned version). A replica applying deltas in version order
    * reconstructs the index state byte-for-byte — the codebooks /
    * centroids / rotation are immutable after build, so postings are
    * the only moving part. */
  def newPostingsSince(
      spark: SparkSession, root: String, sinceVersion: Long): Option[(Long, DataFrame)] = {
    val v = postingsVersion(spark, root)
    if (v <= sinceVersion) None
    else TxTable.readSince(spark, postingsRoot(root), sinceVersion, v).map((v, _))
  }

  /** Per-cell posting counts — the imbalance signal a re-build
    * decision reads (frozen centroids drift as the corpus grows). */
  def cellStats(spark: SparkSession, root: String): DataFrame =
    TxTable.read(spark, postingsRoot(root))
      .groupBy(col("cluster").cast(LongType).as("cluster"))
      .agg(count(lit(1)).as("postings"))
      .orderBy(col("cluster"))
}
