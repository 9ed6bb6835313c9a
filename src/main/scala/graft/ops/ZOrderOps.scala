package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The raw Morton bit-interleave kernel, plus its DuckDB oracle twin.
  *
  * This is the shared inner kernel of the clustering layouts in
  * [[graft.pipeline.TableLayout]] (`zValue` scales each column into
  * bounded cells and then routes through [[interleave]]; the
  * Hilbert variants use the native curve expressions instead). What
  * lives HERE is the piece that can be certified against an
  * independent engine: pure integer bit arithmetic, expressible as
  * ANSI SQL generated from the same term list, so `q_zorder_key`
  * hash-checks the kernel row-for-row against DuckDB. The layout
  * EFFECT (file skipping) is measured at the parquet-footer level in
  * `graft.pipeline.ZOrderSpec`; the transactional compaction that
  * applies the kernel to a live table's append runs is
  * [[graft.pipeline.TxTable.compactLeveled]].
  */
object ZOrderOps {

  /** Bit-interleave the low `bits` bits of each column (non-negative
    * integers) into one z-key: bit i of column j lands at position
    * `i * ncols + j`. Pure long arithmetic — whole-stage codegen keeps
    * it inside the generated loop; no UDF.
    */
  def interleave(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "interleave of zero columns")
    require(bits * cols.size <= 62, s"${bits}b x ${cols.size} cols overflows a long")
    val terms = for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * cols.size + j)
    terms.reduce(_.bitwiseOR(_)).cast(LongType)
  }

  /** The same interleave as ANSI SQL text (for the DuckDB oracle):
    * generated from one term list so the two engines cannot drift.
    */
  def interleaveSql(exprs: Seq[String], bits: Int): String = {
    val terms = for {
      i <- 0 until bits
      (e, j) <- exprs.zipWithIndex
    } yield s"(((($e) >> $i) & 1) << ${i * exprs.size + j})"
    terms.mkString("(", " | ", ")")
  }

  // oracle surface: the kernel on raw low bits of two fact FKs — pure
  // integer math, so the DuckDB twin is bit-exact by construction
  private val zBits = 8
  private val zCols = Seq("l_partkey & 255", "l_suppkey & 255")

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q_zorder_key",
      s"""SELECT l_orderkey, l_linenumber,
         |  ${interleaveSql(zCols, zBits)} AS zkey
         |FROM lineitem
         |ORDER BY zkey, l_orderkey, l_linenumber LIMIT 500""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          interleave(
            Seq(col("l_partkey").bitwiseAND(lit(255L)),
              col("l_suppkey").bitwiseAND(lit(255L))),
            zBits).as("zkey"))
        .orderBy("zkey", "l_orderkey", "l_linenumber")
        .limit(500)
    })
}
