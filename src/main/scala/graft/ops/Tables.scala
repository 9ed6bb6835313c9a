package graft.ops

import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver test tables (TESTDATA.md).
  *
  * Every loader fail-fasts on schema drift: the round-6 driver regeneration
  * silently changed `events.ts` from parquet INT64 TIMESTAMP(NANOS) to native
  * timestamp µs and the old loader surfaced it as 40 opaque per-query
  * analysis errors. At 100 TB scale upstream schema drift is a routine event;
  * a loader that names the table, the column, and found-vs-expected type in
  * one message is part of the engine.
  *
  * `events.ts` is the one column with real layout adaptation — see
  * [[events]].
  */
object Tables {

  /** Expected column name → admissible Spark types (simpleString), per table.
    * A column may admit several encodings (e.g. a timestamp that some
    * producers write as native µs and others as INT64 nanos); everything else
    * is exact. Order matters: positional drift is drift.
    */
  private val expected: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Seq("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Seq("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Seq("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Seq("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> Set("timestamp", "timestamp_ntz"),
      "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq("l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> Set("timestamp", "timestamp_ntz")),
    "events" -> Seq("event_id" -> Set("bigint"),
      // native µs (2026-08 regeneration), or raw nanos long under the
      // legacy INT64(NANOS) layout read with nanosAsLong
      "ts" -> Set("timestamp", "timestamp_ntz", "bigint"),
      "user_id" -> Set("bigint"), "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq("doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Seq("vec_id" -> Set("bigint"),
      "embedding" -> Set("array<float>"), "label" -> Set("int")))

  /** Fail-fast drift check: every column the file presents must be a known
    * column of the table with an admissible type. This catches the two real
    * drift modes (a renamed column, a changed encoding) with one named error
    * instead of N opaque per-query analysis failures. Spec fixtures may feed
    * a SUBSET of columns through the same loaders (a chunking property test
    * only needs doc_id/text) — a column a query needs but the file lacks
    * still fails downstream with Spark's named UNRESOLVED_COLUMN.
    */
  private def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    expected.get(name).foreach { want =>
      val wantByName = want.toMap
      df.schema.fields.foreach { f =>
        val ht = f.dataType.simpleString
        wantByName.get(f.name) match {
          case None => throw new IllegalStateException(
            s"testdata schema drift: $name has unknown column ${f.name}:$ht, " +
              s"expected columns [${want.map(_._1).mkString(", ")}] — see TESTDATA.md")
          case Some(wt) if !wt.contains(ht) => throw new IllegalStateException(
            s"testdata schema drift: $name.${f.name} is $ht, expected one of " +
              s"{${wt.mkString(", ")}} — see TESTDATA.md")
          case _ => ()
        }
      }
    }
    df
  }

  /** Data-adaptive compute spread (r16; guide §2.5 "input skew: one
    * huge unsplittable file → repartition immediately after the read").
    * The driver test tables are SINGLE-ROW-GROUP parquet files, so
    * every scan is one task and a query's heavy per-row first-stage
    * compute (shingling, minhash, tokenizer rendering, rolling hashes)
    * runs single-threaded regardless of cluster width — measured ~2×
    * on the heavy renderers at sf0.1 (r16, interleaved A/B).
    * When the frame's physical layout has fewer partitions than the
    * session's effective width, hash-repartition on `key`
    * (deterministic assignment; the shuffled bytes are the raw rows,
    * tiny at the SFs where the gate can fire); an already-wide input
    * returns unchanged, so at 100 TB — where the scan splits by bytes
    * into thousands of tasks — this is a no-op and no corpus bytes are
    * ever re-shuffled. Downstream kernels must stay partition-count
    * invariant (exact-typed aggregation state or per-key rounding —
    * the repo-wide float-determinism tiers), which every consumer's
    * spec/oracle pins.
    */
  def spreadCompute(df: DataFrame, key: Column): DataFrame = {
    val spark = df.sparkSession
    val width = math.min(
      spark.sparkContext.defaultParallelism.toLong,
      spark.conf.get("spark.sql.shuffle.partitions").toLong).toInt
    if (df.rdd.getNumPartitions >= width) df
    else df.repartition(width, key)
  }

  def region(spark: SparkSession, d: String): DataFrame = read(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = read(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = read(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = read(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = read(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = read(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = read(spark, d, "lineitem")
  def documents(spark: SparkSession, d: String): DataFrame = read(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = read(spark, d, "embeddings")

  /** events with a canonical `ts` (µs-precision TimestampType; the UTC
    * session tz every entry point sets makes all conversions here
    * instant-preserving) plus a raw *pushdown carrier* column for range
    * predicates. Two driver layouts are supported, dispatched on the parquet
    * schema:
    *
    *  - **native µs** (2026-08 regeneration): parquet `timestamp[us]` without
    *    tz, which Spark reads as TIMESTAMP_NTZ. `ts_ntz` aliases the raw scan
    *    attribute — predicates on it reach parquet row-group min/max natively
    *    (strictly better than the legacy raw-long trick); `ts` is the
    *    instant-preserving cast, keeping the output contract every oracle
    *    (`ts::TIMESTAMP` on DuckDB's side) compares against. Predicates on
    *    the *cast* column would NOT push down — that is why the raw alias
    *    exists; use [[tsRange]]/[[tsAtLeast]], never a literal compare on
    *    `ts`, for scan-pruning bounds.
    *  - **legacy INT64 TIMESTAMP(NANOS)**: Spark 4 refuses to read it
    *    natively ([PARQUET_TYPE_ILLEGAL]); `nanosAsLong` reads raw longs,
    *    kept as `ts_ns` (pushdown carrier), truncated to µs for `ts` —
    *    bit-identical to DuckDB's `ts::TIMESTAMP` truncation.
    *
    * Any other `ts` type fail-fasts with a named drift error.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, d, "events")
    raw.schema("ts").dataType match {
      case TimestampNTZType | TimestampType =>
        raw.withColumn("ts_ntz", col("ts"))
          .withColumn("ts", col("ts").cast(TimestampType))
      case LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => throw new IllegalStateException(
        s"testdata schema drift: events.ts is ${other.simpleString}, expected " +
          "timestamp/timestamp_ntz (native µs layout) or bigint via " +
          "nanosAsLong (legacy INT64 nanos) — see TESTDATA.md")
    }
  }

  /** True when `ev` came from the native-µs layout (raw NTZ carrier). */
  private def isNativeLayout(ev: DataFrame): Boolean = ev.columns.contains("ts_ntz")

  private def utcLdt(i: Instant): LocalDateTime = LocalDateTime.ofInstant(i, ZoneOffset.UTC)
  private def ns(i: Instant): Long = Math.multiplyExact(i.getEpochSecond, 1000000000L)

  /** Half-open range predicate [from, to) on events' time column, expressed
    * against the raw scan attribute of whichever layout [[events]] loaded, so
    * it pushes to parquet row-group min/max as a plain comparison. Equivalent
    * to filtering the canonical `ts` (whole-second bounds, so the legacy µs
    * truncation cannot move an event across a bound).
    */
  def tsBetween(ev: DataFrame, from: Instant, to: Instant): Column =
    if (isNativeLayout(ev))
      col("ts_ntz") >= lit(utcLdt(from)) && col("ts_ntz") < lit(utcLdt(to))
    else
      col("ts_ns") >= lit(ns(from)) && col("ts_ns") < lit(ns(to))

  /** [[tsBetween]] for whole-day UTC bounds given as ISO dates. */
  def tsRange(ev: DataFrame, fromIso: String, toIso: String): Column = {
    def day(s: String) = java.time.LocalDate.parse(s).atStartOfDay(ZoneOffset.UTC).toInstant
    tsBetween(ev, day(fromIso), day(toIso))
  }

  /** Pushdown-capable lower bound `ts >= from` (whole seconds) — the coarse
    * scan-pruning half of a keyset cursor; the exact predicate rides the
    * canonical `ts` on top.
    */
  def tsAtLeast(ev: DataFrame, from: Instant): Column =
    if (isNativeLayout(ev)) col("ts_ntz") >= lit(utcLdt(from))
    else col("ts_ns") >= lit(ns(from))
}
