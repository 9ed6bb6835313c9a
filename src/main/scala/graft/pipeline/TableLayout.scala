package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical table layout for the 100 TB deployment — the piece of the
  * design that replaces the reference's btree indexes
  * (stg_readings.sql:18-21, mart_daily_power.sql:20-22):
  *
  *   - Silver partitioned by `reading_date` (a [[TxTable]] commit
  *     partitioned on that column): the serve range scan and the
  *     affected-day recompute read only the touched date dirs (partition
  *     pruning ≙ the reference's `(reading_date)` index).
  *   - Bucketing by join key: two tables bucketed the same way join with
  *     ZERO shuffle (SortMergeJoin over co-located buckets) — this is the
  *     co-location the reference gets for free from a single Postgres
  *     heap and we must design for across a cluster.
  *
  * Bucket count rule of thumb at scale: total_size / (128–256 MiB),
  * rounded to a multiple of executor cores; the demo tests use 4.
  */
object TableLayout {

  /** Linearly scale a column into `bits`-bit integer cell codes using
    * [lo, hi] bounds (out-of-range clamps). Shared by the Morton and
    * Hilbert clustering keys. `bits` capped at 30 so `(1 << bits)`
    * arithmetic stays in int range (a wrap would make every code 0 and
    * silently destroy the clustering).
    */
  private def cellCode(c: org.apache.spark.sql.Column, lo: Double, hi: Double,
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(bits >= 1 && bits <= 30, s"cell bits must be in [1, 30], got $bits")
    val maxCode = (1 << bits) - 1
    val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
    least(lit(maxCode), greatest(lit(0),
      ((c.cast("double") - lit(lo)) / lit(span) * lit(maxCode)).cast("int")))
  }

  /** Interleaved-bit z-value (Morton code) of N numeric columns — the
    * multi-column clustering key behind Z-ORDER layout. Each column is
    * linearly scaled into `bits`-bit integers using the provided
    * [lo, hi] bounds (values outside clamp), then bits interleave:
    * bit b of column i lands at position b·N + i. A pure codegen'd
    * Column expression — no UDF.
    *
    * Why it matters at 100 TB: sorting by ONE column gives perfect
    * min/max file skipping on that column and none on any other;
    * z-ordering k columns gives ~N^(1-1/k) skipping on EACH — the
    * standard trade (Delta/Iceberg OPTIMIZE ZORDER) for tables queried
    * along multiple independent dimensions.
    */
  def zValue(cols: Seq[org.apache.spark.sql.Column],
      bounds: Seq[(Double, Double)], bits: Int = 16): org.apache.spark.sql.Column = {
    require(cols.nonEmpty && cols.length == bounds.length, "one [lo,hi] bound per column")
    require(bits * cols.length <= 62, s"$bits bits × ${cols.length} cols overflows a long")
    val scaled = cols.zip(bounds).map { case (c, (lo, hi)) => cellCode(c, lo, hi, bits) }
    // the interleave itself is the oracle-certified raw kernel
    // (graft.ops.ZOrderOps.interleave, DuckDB-hash-checked by
    // q_zorder_key) — this wrapper only contributes the cell scaling
    graft.ops.ZOrderOps.interleave(scaled, bits)
  }

  /** 2-D Hilbert clustering key: like [[zValue]] but consecutive curve
    * positions are ALWAYS grid-adjacent (Morton jumps diagonally at
    * every power-of-two boundary), so equal-size curve ranges cover
    * tighter tiles — strictly better worst-case box locality at
    * identical cost (one codegen'd expression per row).
    */
  def hilbertValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bounds: Seq[(Double, Double)], bits: Int = 16): org.apache.spark.sql.Column = {
    require(bounds.length == 2, "hilbertValue is 2-D: exactly two [lo,hi] bounds")
    require(bits * 2 <= 62, s"$bits bits × 2 cols overflows a long")
    graft.functions.HashFunctions.hilbert_index(
      cellCode(x, bounds(0)._1, bounds(0)._2, bits),
      cellCode(y, bounds(1)._1, bounds(1)._2, bits), bits)
  }

  /** Write `df` z-ordered on `zCols` into ~`nFiles` files: range
    * partition + sort by the z-value so each file owns a contiguous
    * z-range = a tile of the multi-dimensional space, making parquet
    * min/max stats selective on EVERY z-ordered column. Bounds come
    * from one min/max aggregate (driver scalars — metadata, not data).
    */
  private[graft] def columnBounds(df: DataFrame, cols: Seq[String]): Seq[(Double, Double)] = {
    import org.apache.spark.sql.functions._
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"mn_$c"), max(col(c).cast("double")).as(s"mx_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    cols.indices.map { i =>
      require(!r.isNullAt(2 * i) && !r.isNullAt(2 * i + 1),
        s"cannot cluster: table is empty or column '${cols(i)}' is entirely null")
      val (lo, hi) = (r.getDouble(2 * i), r.getDouble(2 * i + 1))
      require(!lo.isNaN && !hi.isNaN,
        s"cannot cluster: column '${cols(i)}' has NaN bounds ($lo, $hi)")
      (lo, hi)
    }
  }

  private def clusteredWrite(df: DataFrame, key: org.apache.spark.sql.Column,
      path: String, nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    // collision-free helper name: withColumn would silently replace (and
    // drop below would then DELETE) a user column named the same
    val kc = graft.ops.SkewOps.freshName(df, "_cluster")
    df.withColumn(kc, key)
      .repartitionByRange(nFiles, col(kc))
      .sortWithinPartitions(kc)
      .drop(kc)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  def zOrderWrite(df: DataFrame, zCols: Seq[String], path: String, nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    clusteredWrite(df, zValue(zCols.map(col), columnBounds(df, zCols)), path, nFiles)
  }

  /** Hilbert-clustered write — the 2-D specialist; prefer it over
    * [[zOrderWrite]] when exactly two dimensions dominate the filters.
    */
  def hilbertOrderWrite(df: DataFrame, xCol: String, yCol: String,
      path: String, nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    clusteredWrite(df,
      hilbertValue(col(xCol), col(yCol), columnBounds(df, Seq(xCol, yCol))), path, nFiles)
  }

  /** n-D Hilbert clustering key (Skilling transpose kernel,
    * `hilbert_index_nd`): the curve-adjacency property of
    * [[hilbertValue]] at ANY dimensionality — each column scales into
    * a `bits`-bit cell and the kernel maps the coordinate vector to
    * its curve position in one codegen'd expression per row.
    */
  def hilbertValueNd(cols: Seq[org.apache.spark.sql.Column],
      bounds: Seq[(Double, Double)], bits: Int = 8): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.array
    require(cols.nonEmpty && cols.length == bounds.length, "one [lo,hi] bound per column")
    require(bits * cols.length <= 62, s"$bits bits × ${cols.length} cols overflows a long")
    val cells = cols.zip(bounds).map { case (c, (lo, hi)) => cellCode(c, lo, hi, bits) }
    graft.functions.HashFunctions.hilbert_index_nd(array(cells: _*), bits)
  }

  /** n-D Hilbert-clustered write: [[hilbertOrderWrite]] generalized to
    * any number of dimensions (the 2-D pair of specialists remain for
    * their tighter 31-bit-per-axis budgets).
    */
  def hilbertOrderWriteNd(df: DataFrame, cols: Seq[String],
      path: String, nFiles: Int, bits: Int = 8): Unit = {
    import org.apache.spark.sql.functions.col
    clusteredWrite(df,
      hilbertValueNd(cols.map(col), columnBounds(df, cols), bits), path, nFiles)
  }

  /** Save a table bucketed + sorted by `key` (requires saveAsTable — the
    * bucket metadata lives in the catalog).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Join two same-bucketed catalog tables on their bucket key — planner
    * sees matching output partitioning on both sides and elides both
    * exchanges.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
