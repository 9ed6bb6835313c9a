package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Second relational battery: multi-dimensional aggregation (rollup/
  * cube), exact percentiles, set operations, HAVING, and the scalar
  * string/math function surface — all oracle-checked. Rollup/cube keys
  * are coalesced to '(all)' on both sides so the subtotal rows order
  * identically (the raw data has no real NULL keys).
  */
object ExtraRelationalOps {

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q_rollup",
      """SELECT coalesce(l_returnflag, '(all)') AS flag,
        |  coalesce(l_linestatus, '(all)') AS status,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 6) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 6).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("status"),
          col("n"), col("sum_qty"))
        .orderBy("flag", "status")
    },

    QueryDef(
      "q_cube",
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 6) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 6).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")
    },

    // Arbitrary GROUPING SETS (beyond rollup/cube): per-flag totals and
    // per-status totals in one pass.
    QueryDef(
      "q_grouping_sets",
      """SELECT coalesce(l_returnflag, '(all)') AS flag,
        |  coalesce(l_linestatus, '(all)') AS status,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_extendedprice), 6) AS total
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY flag, status""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
      s.sql(
        """SELECT coalesce(l_returnflag, '(all)') AS flag,
          |  coalesce(l_linestatus, '(all)') AS status,
          |  count(*) AS n,
          |  round(sum(l_extendedprice), 6) AS total
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY flag, status""".stripMargin)
    },

    // Statistical moments + bivariate aggregates.
    QueryDef(
      "q_stats_moments",
      """SELECT l_returnflag,
        |  round(stddev_samp(l_extendedprice), 6) AS sd,
        |  round(var_samp(l_quantity), 6) AS vr,
        |  round(corr(l_quantity, l_extendedprice), 6) AS cor,
        |  round(covar_samp(l_quantity, l_extendedprice), 6) AS cov,
        |  round(skewness(l_extendedprice) * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)), 6) AS skew,
        |  round(kurtosis_pop(l_extendedprice), 6) AS kurt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // Spark's skewness/kurtosis are POPULATION estimators; DuckDB's are
      // sample-corrected — oracle uses kurtosis_pop and converts skewness
      // by the exact (n-2)/sqrt(n(n-1)) factor.
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_extendedprice")), 6).as("sd"),
          round(var_samp(col("l_quantity")), 6).as("vr"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("cor"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("cov"),
          round(skewness(col("l_extendedprice")), 6).as("skew"),
          round(kurtosis(col("l_extendedprice")), 6).as("kurt"))
        .orderBy("l_returnflag")
    },

    // Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    // quantile_cont).
    QueryDef(
      "q_percentile",
      """SELECT l_returnflag,
        |  round(qs[1], 6) AS p50, round(qs[2], 6) AS p90, round(qs[3], 6) AS p99
        |FROM (
        |  SELECT l_returnflag, quantile_cont(l_extendedprice, [0.5, 0.9, 0.99]) AS qs
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // one percentile(col, array(...)) call: the exact percentile
      // buffers every group value — three separate calls tripled the
      // buffer (5.5s -> ~2s at sf0.1)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("qs"))
        .select(
          col("l_returnflag"),
          round(element_at(col("qs"), 1), 6).as("p50"),
          round(element_at(col("qs"), 2), 6).as("p90"),
          round(element_at(col("qs"), 3), 6).as("p99"))
        .orderBy("l_returnflag")
    },

    QueryDef(
      "q_intersect",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "O").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    },

    QueryDef(
      "q_except",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "O").select("o_custkey")
        .except(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    },

    QueryDef(
      "q_distinct",
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    },

    QueryDef(
      "q_having",
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 3
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
        .orderBy("o_custkey")
    },

    // Date-arithmetic battery over orders (conventions aligned: Spark
    // dayofweek is 1=Sunday vs DuckDB dow 0=Sunday; datediff arg order).
    QueryDef(
      "q_date_funcs",
      """SELECT o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d,
        |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 7 DAY, '%Y-%m-%d') AS plus7,
        |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH, '%Y-%m-%d') AS plus1m,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
        |  strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS som,
        |  CAST(extract(year FROM o_orderdate) AS BIGINT) AS y,
        |  CAST(extract(quarter FROM o_orderdate) AS BIGINT) AS q,
        |  CAST(extract(dow FROM o_orderdate) + 1 AS BIGINT) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val od = col("o_orderdate").cast(DateType)
      // sort the 2 raw columns, widen to the 6 formatted strings + 4
      // longs AFTER (r16, the q_math_funcs move — guide §2.3): the
      // computed row is ~5× the raw one and rode the range exchange +
      // sort; o_orderkey is orders' unique key, so the total order is
      // row-identical either way.
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
        .orderBy("o_orderkey")
        .select(
          col("o_orderkey"),
          date_format(od, "yyyy-MM-dd").as("d"),
          date_format(date_add(od, 7), "yyyy-MM-dd").as("plus7"),
          date_format(add_months(od, 1), "yyyy-MM-dd").as("plus1m"),
          datediff(lit("2002-01-01").cast(DateType), od).cast(LongType).as("days_to_2002"),
          date_format(last_day(od), "yyyy-MM-dd").as("eom"),
          date_format(trunc(od, "month"), "yyyy-MM-dd").as("som"),
          year(od).cast(LongType).as("y"),
          quarter(od).cast(LongType).as("q"),
          dayofweek(od).cast(LongType).as("dow"))
    },

    // Array-function battery over document tokens.
    QueryDef(
      "q_array_funcs",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  array_to_string(list_sort(toks[1:5]), '|') AS first5_sorted,
        |  list_contains(toks, 'spark') AS has_spark,
        |  CAST(coalesce(list_position(toks, 'data'), 0) AS BIGINT) AS pos_data,
        |  toks[1] AS first_tok,
        |  toks[len(toks)] AS last_tok,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = split(col("text"), " ")
      Tables.documents(s, d).select(
        col("doc_id"),
        concat_ws("|", array_sort(slice(toks, 1, 5))).as("first5_sorted"),
        array_contains(toks, "spark").as("has_spark"),
        coalesce(array_position(toks, "data"), lit(0L)).as("pos_data"),
        element_at(toks, 1).as("first_tok"),
        element_at(toks, -1).as("last_tok"),
        size(array_distinct(toks)).cast(LongType).as("n_distinct"))
        .orderBy("doc_id")
    },

    // Scalar string-function battery over part.
    QueryDef(
      "q_string_funcs",
      """SELECT p_partkey,
        |  upper(p_name) AS up,
        |  lower(p_brand) AS lo,
        |  substring(p_name, 1, 8) AS sub,
        |  replace(p_type, ' ', '_') AS repl,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
        |  CAST(length(p_name) AS BIGINT) AS len,
        |  concat(p_brand, '|', p_type) AS joined,
        |  reverse(p_brand) AS rev,
        |  trim(p_name) AS trimmed
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        substring(col("p_name"), 1, 8).as("sub"),
        regexp_replace(col("p_type"), " ", "_").as("repl"),
        lpad(col("p_size").cast(StringType), 4, "0").as("padded"),
        length(col("p_name")).cast(LongType).as("len"),
        concat(col("p_brand"), lit("|"), col("p_type")).as("joined"),
        reverse(col("p_brand")).as("rev"),
        trim(col("p_name")).as("trimmed"))
        .orderBy("p_partkey")
    },

    // Scalar math-function battery over lineitem.
    QueryDef(
      "q_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  round(abs(l_discount - 0.05), 6) AS a,
        |  CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS c,
        |  CAST(floor(l_extendedprice / 1000) AS BIGINT) AS f,
        |  round(sqrt(l_quantity), 6) AS sq,
        |  round(exp(l_discount), 6) AS ex,
        |  round(ln(l_extendedprice), 6) AS logn,
        |  round(pow(l_quantity, 2), 6) AS p2,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS sg,
        |  CAST(l_quantity AS BIGINT) % 7 AS m
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      // SORT FIRST, widen after (r16, guide §2.3 "shuffle fewer
      // bytes"): the 9 computed doubles more than double the row, and
      // with the projection below the sort every one of them rode the
      // range exchange + sort. Ordering the 5 raw columns and
      // projecting after is row-identical — (l_orderkey, l_linenumber)
      // is lineitem's unique composite key, so the total order can't
      // differ — and measured 2.0-2.2 s → 0.7-0.8 s warm (r16 A/B,
      // interleaved reps). Catalyst does not reorder Project/Sort on
      // its own, so the query states the cheap order explicitly.
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
        .orderBy("l_orderkey", "l_linenumber")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(abs(col("l_discount") - 0.05), 6).as("a"),
          ceil(col("l_extendedprice") / 1000).as("c"),
          floor(col("l_extendedprice") / 1000).as("f"),
          round(sqrt(col("l_quantity")), 6).as("sq"),
          round(exp(col("l_discount")), 6).as("ex"),
          round(log(col("l_extendedprice")), 6).as("logn"),
          round(pow(col("l_quantity"), 2), 6).as("p2"),
          signum(col("l_discount") - 0.05).as("sg"),
          (col("l_quantity").cast(LongType) % 7).as("m"))
    })
}
