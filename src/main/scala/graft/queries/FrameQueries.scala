package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.api.{DataFrame, Frames}
import org.apache.spark.sql.types.DecimalType

import Glue._

/** Query records of the pandas core: the `graft.api` facade (index
  * alignment, arithmetic, reshaping, groupby, joins) and plain Spark SQL,
  * with no operator module. */
object FrameQueries {

  private def ordersByKey(s: SparkSession, dir: String): DataFrame =
    DataFrame.fromSpark(table(s, dir, "orders"), index = Seq("o_orderkey"))

  private def partByKey(s: SparkSession, dir: String): DataFrame =
    DataFrame.fromSpark(table(s, dir, "part"), index = Seq("p_partkey"))

  // Sentinels used to make NaN/±Inf hash-stable across engines in
  // oracle-checked outputs (DuckDB x/0.0 is NULL, so the numpy semantics
  // are spelled out in the oracle SQL as CASE arms producing the same
  // sentinels).
  private val NanS = 9e9
  private val PInfS = 8e8
  private val NInfS = -8e8

  val all: Seq[Q] = Seq(
    // §2.7 scalar broadcasting + fused same-base Series arithmetic
    Q("q_scalar_arith", (s, dir) => {
      val li = lineitem(s, dir)
      val rev = li("l_extendedprice") * li("l_discount").rsub(1.0)
      li.select(Seq("l_quantity"))
        .withColumn("revenue", rev)
        .withColumn("charge", rev * li("l_tax").radd(1.0))
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity,
        | l_extendedprice * (1 - l_discount) AS revenue,
        | (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // §2.7 comparison ops (eq/gt/le) producing boolean columns
    Q("q_cmp", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Nil)
        .withColumn("big_qty", li("l_quantity") > 25)
        .withColumn("low_disc", li("l_discount") <= 0.05)
        .withColumn("is_return", li("l_returnflag") === "R")
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        | l_quantity > 25 AS big_qty,
        | l_discount <= 0.05 AS low_disc,
        | l_returnflag = 'R' AS is_return
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // coercion.py:48-70 numpy-IEEE division via the Semantics when-chain,
    // classified to finite sentinels for cross-engine hashing
    Q("q_ieee_div", (s, dir) => {
      val li = lineitem(s, dir)
      val d = (li("l_quantity") - 25).div(li("l_discount") - 0.05)
      li.select(Nil)
        .withColumn("division", d)
        .applymap(c => when(isnan(c), lit(NanS))
          .when(c === lit(Double.PositiveInfinity), lit(PInfS))
          .when(c === lit(Double.NegativeInfinity), lit(NInfS))
          .otherwise(c))
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_quantity = 25 AND l_discount = 0.05 THEN 9000000000.0
        |      WHEN l_discount = 0.05 AND l_quantity > 25 THEN 800000000.0
        |      WHEN l_discount = 0.05 AND l_quantity < 25 THEN -800000000.0
        |      ELSE (l_quantity - 25) / (l_discount - 0.05) END AS division
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // alchemy.py:254-262 clip = GREATEST/LEAST through broadcast machinery
    Q("q_clip", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_quantity")).clip(10, 40)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        | least(greatest(l_quantity, 10), 40) AS l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // generic.py:77-79 abs; §2.7 scalar sub
    Q("q_abs", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Nil)
        .withColumn("disc_dev", (li("l_discount") - 0.05).abs)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, abs(l_discount - 0.05) AS disc_dev
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // base.py:72-79 full-outer index alignment + alchemy.py:178-181
    // post-op fill_value coalesce
    Q("q_fill_value", (s, dir) => {
      val o = ordersByKey(s, dir)("o_totalprice")
      val p = partByKey(s, dir)("p_retailprice")
      o.add(p, fillValue = Some(-1.0)).rename(Some("s"))
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT COALESCE(o.o_orderkey, p.p_partkey) AS o_orderkey,
        | COALESCE(o.o_totalprice + p.p_retailprice, -1.0) AS s
        |FROM orders o FULL OUTER JOIN part p ON o.o_orderkey = p.p_partkey
        |ORDER BY o_orderkey""".stripMargin),

    // pandas assignment alignment: df[c] = foreign series LEFT-aligns (s is
    // reindexed to df's index; part keys absent from orders are dropped,
    // orders rows without a part get NULL) — oracle = LEFT JOIN
    Q("q_assign_align", (s, dir) => {
      val o = ordersByKey(s, dir).select(Seq("o_totalprice"))
      val p = partByKey(s, dir)("p_retailprice")
      o.withColumn("rp", p)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_totalprice, p_retailprice AS rp
        |FROM orders LEFT JOIN part ON o_orderkey = p_partkey
        |ORDER BY o_orderkey""".stripMargin),

    // pandas assignment OVERWRITE: `df[c] = s` with an existing label
    // replaces that column IN PLACE (same-base fuse for o_custkey,
    // left-aligned foreign series for o_totalprice) — never appends a
    // duplicate label
    Q("q_assign_overwrite", (s, dir) => {
      val o = ordersByKey(s, dir).select(Seq("o_totalprice", "o_custkey"))
      val p = partByKey(s, dir)("p_retailprice")
      o.withColumn("o_custkey", o("o_custkey") * 10)
        .withColumn("o_totalprice", p)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, p_retailprice AS o_totalprice,
        | o_custkey * 10 AS o_custkey
        |FROM orders LEFT JOIN part ON o_orderkey = p_partkey
        |ORDER BY o_orderkey""".stripMargin),

    // §2.7 comparisons across FOJ-aligned frames WITH NULLs: the engine
    // (like the reference, SURVEY §7.4.2 — unlike pandas' False) lets
    // NULL propagate through eq/gt; this query pins that choice against
    // the oracle's SQL comparison semantics
    Q("q_cmp_null", (s, dir) => {
      val o = ordersByKey(s, dir)("o_totalprice")
      val p = partByKey(s, dir)("p_retailprice")
      val eqf = (o === p).rename(Some("v"))
        .toSpark(includeIndex = true).withColumn("op", lit("eq"))
      val gtf = o.gt(p).rename(Some("v"))
        .toSpark(includeIndex = true).withColumn("op", lit("gt"))
      eqf.unionAll(gtf).orderBy("op", "o_orderkey")
    },
      """WITH j AS (SELECT COALESCE(o.o_orderkey, p.p_partkey) AS o_orderkey,
        |  o.o_totalprice AS a, p.p_retailprice AS b
        |  FROM orders o FULL OUTER JOIN part p ON o.o_orderkey = p.p_partkey)
        |SELECT o_orderkey, a = b AS v, 'eq' AS op FROM j
        |UNION ALL SELECT o_orderkey, a > b AS v, 'gt' AS op FROM j
        |ORDER BY op, o_orderkey""".stripMargin),

    // generic.py:69-75 isna over the NULLs produced by outer alignment
    Q("q_isna", (s, dir) => {
      val o = ordersByKey(s, dir)("o_totalprice")
      val p = partByKey(s, dir)("p_retailprice")
      o.add(p).rename(Some("s")).isna
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT COALESCE(o.o_orderkey, p.p_partkey) AS o_orderkey,
        | (o.o_totalprice + p.p_retailprice) IS NULL AS s
        |FROM orders o FULL OUTER JOIN part p ON o.o_orderkey = p.p_partkey
        |ORDER BY o_orderkey""".stripMargin),

    // generic.py:46-48 head on a sorted source
    Q("q_head", (s, dir) => {
      val o = DataFrame.fromSpark(
        table(s, dir, "orders").orderBy("o_orderkey"),
        index = Seq("o_orderkey"))
      o.select(Seq("o_totalprice", "o_orderstatus")).head(10)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 10""".stripMargin),

    // generic.py:50-57 tail = COUNT then LIMIT/OFFSET
    Q("q_tail", (s, dir) => {
      val o = DataFrame.fromSpark(
        table(s, dir, "orders").orderBy("o_orderkey"),
        index = Seq("o_orderkey"))
      o.select(Seq("o_totalprice", "o_orderstatus")).tail(10)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT * FROM (SELECT o_orderkey, o_totalprice, o_orderstatus
        | FROM orders ORDER BY o_orderkey DESC LIMIT 10) t
        |ORDER BY o_orderkey""".stripMargin),

    // the one-pass tail (every partition ships its count + last ≤ n
    // rows in a single sweep — the scan-dominated path a 100 TB table
    // wants instead of tail()'s COUNT-then-OFFSET double scan); same
    // oracle as q_tail because the row contract is identical
    Q("q_tail_onepass", (s, dir) => {
      val o = DataFrame.fromSpark(
        table(s, dir, "orders").orderBy("o_orderkey"),
        index = Seq("o_orderkey"))
      o.select(Seq("o_totalprice", "o_orderstatus")).tailOnePass(10)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      // identical row contract to q_tail — the twin pins that the
      // one-pass implementation returns exactly tail()'s rows
      """SELECT * FROM (SELECT o_orderkey, o_totalprice, o_orderstatus
        | FROM orders ORDER BY o_orderkey DESC LIMIT 10) t
        |ORDER BY o_orderkey""".stripMargin),

    // alchemy.py:470-478 Series add_prefix — concat onto index values
    // str accessor: upper/len/contains/extract/pad/count as one fused
    // projection over the scan
    Q("q_str_ops", (s, dir) => {
      val o = ordersByKey(s, dir)
      val p = o("o_orderpriority")
      o.select(Nil)
        .withColumn("up", p.str.upper)
        .withColumn("ln", p.str.len)
        .withColumn("has_urgent", p.str.contains("URGENT"))
        .withColumn("prio_num", p.str.extract("(\\d)", 1))
        .withColumn("urg", p.str.extract("(URGENT)", 1)) // no match → NULL
        // alternation: group 2 does not PARTICIPATE when the URGENT arm
        // matches → NULL (not ""), the pandas semantics the native
        // RegexGroupExtract kernel pins down
        .withColumn("alt2", p.str.extract("(URGENT)|(LOW)", 2))
        .withColumn("padded", p.str.pad(12, "_"))
        .withColumn("n_vowels", p.str.count("[AEIOU]"))
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, upper(o_orderpriority) AS up,
        | length(o_orderpriority) AS ln,
        | contains(o_orderpriority, 'URGENT') AS has_urgent,
        | regexp_extract(o_orderpriority, '(\d)', 1) AS prio_num,
        | CASE WHEN regexp_matches(o_orderpriority, 'URGENT')
        |      THEN regexp_extract(o_orderpriority, '(URGENT)', 1) END AS urg,
        | CASE WHEN regexp_matches(o_orderpriority, '(URGENT)|(LOW)')
        |      THEN nullif(regexp_extract(o_orderpriority, '(URGENT)|(LOW)', 2), '')
        | END AS alt2,
        | lpad(o_orderpriority, 12, '_') AS padded,
        | len(regexp_extract_all(o_orderpriority, '[AEIOU]')) AS n_vowels
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // str accessor round-out (pandas parity the reference leaves
    // unchecked — API_COVERAGE.md:238-290): zfill/find/get/capitalize/
    // char-class tests/repeat/strips, one fused projection like
    // q_str_ops
    Q("q_str_ops2", (s, dir) => {
      val o = ordersByKey(s, dir)
      val p = o("o_orderpriority")
      o.select(Nil)
        .withColumn("z", p.str.zfill(12))
        .withColumn("f", p.str.find("URGENT"))
        .withColumn("g2", p.str.get(2))
        .withColumn("cap", p.str.capitalize)
        .withColumn("alnum", p.str.slice(2, 4).str.isalnum)
        .withColumn("rep", p.str.get(0).str.repeat(3))
        .withColumn("dig", p.str.get(0).str.isdigit)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        | CASE WHEN len(o_orderpriority) >= 12 THEN o_orderpriority
        |      ELSE lpad(o_orderpriority, 12, '0') END AS z,
        | strpos(o_orderpriority, 'URGENT') - 1 AS f,
        | CASE WHEN len(o_orderpriority) > 2
        |      THEN substr(o_orderpriority, 3, 1) END AS g2,
        | upper(substr(o_orderpriority, 1, 1))
        |   || lower(substr(o_orderpriority, 2)) AS cap,
        | regexp_matches(substr(o_orderpriority, 3, 4),
        |   '^[0-9A-Za-z]+$') AS alnum,
        | repeat(CASE WHEN len(o_orderpriority) > 0
        |   THEN substr(o_orderpriority, 1, 1) END, 3) AS rep,
        | regexp_matches(CASE WHEN len(o_orderpriority) > 0
        |   THEN substr(o_orderpriority, 1, 1) END, '^[0-9]+$') AS dig
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // dt accessor round-out: dayofyear/quarter/ISO week/pandas weekday
    // (Mon=0)/days-in-month/month-boundary flags — same fused
    // projection shape as q_dt_parts
    Q("q_dt_parts2", (s, dir) => {
      val li = lineitem(s, dir)
      val d = li("l_shipdate")
      li.select(Nil)
        .withColumn("doy", d.dt.dayofyear)
        .withColumn("q", d.dt.quarter)
        .withColumn("wk", d.dt.week)
        .withColumn("wd", d.dt.weekday)
        .withColumn("dim", d.dt.daysInMonth)
        .withColumn("ms", d.dt.isMonthStart)
        .withColumn("me", d.dt.isMonthEnd)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        | dayofyear(l_shipdate) AS doy,
        | quarter(l_shipdate) AS q,
        | weekofyear(l_shipdate) AS wk,
        | isodow(l_shipdate) - 1 AS wd,
        | day(last_day(l_shipdate)) AS dim,
        | day(l_shipdate) = 1 AS ms,
        | l_shipdate = last_day(l_shipdate) AS me
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    Q("q_series_prefix", (s, dir) => {
      ordersByKey(s, dir)("o_totalprice").addPrefix("k_")
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT 'k_' || CAST(o_orderkey AS VARCHAR) AS o_orderkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // extension: groupBy/agg (TPC-H Q1 shape); double sums go through
    // DECIMAL(18,4) so they are exact and aggregation-order-independent,
    // then back to DOUBLE for hashing
    // ROLLUP: hierarchical subtotals + grand total in ONE aggregate pass
    // (Expand, same shuffle as plain groupBy); decimal sums engine-exact
    Q("q_rollup", (s, dir) => {
      val li = lineitem(s, dir)
      val typed = li.select(Seq("l_returnflag", "l_linestatus"))
        .withColumn("qty_d", li("l_quantity").astype(DecimalType(18, 4)))
      typed.groupby(Seq("l_returnflag", "l_linestatus"))
        .rollupAgg(("qty_d", "sum", "sum_qty"), ("qty_d", "count", "cnt"))
        .toSpark(includeIndex = false)
        .selectExpr("l_returnflag", "l_linestatus",
          "CAST(sum_qty AS DOUBLE) AS sum_qty", "cnt")
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | count(l_quantity) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // winsorize per group: clip to the group's [p05, p95] via two
    // percentile transforms (each a tiny grouped aggregate joined back
    // broadcast-style — the 5-value priority key would collapse a
    // window plan into 5 tasks at scale)
    Q("q_winsorize", (s, dir) => {
      val o = DataFrame.fromParquet(s, s"$dir/orders.parquet",
        index = Seq("o_orderkey"))
      val t = o.groupby(Seq("o_orderpriority"))
        .transform("o_totalprice", "p05", "p05")
        .groupby(Seq("o_orderpriority"))
        .transform("o_totalprice", "p95", "p95")
      t.toSpark(includeIndex = true)
        .select(col("o_orderkey"),
          greatest(least(col("o_totalprice"), col("p95")), col("p05")).as("w"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        | greatest(least(o_totalprice, quantile_cont(o_totalprice, 0.95) OVER w),
        |          quantile_cont(o_totalprice, 0.05) OVER w) AS w
        |FROM orders WINDOW w AS (PARTITION BY o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin),

    // extension: engine-exact numeric describe (long format) — decimal
    // moments, doubles only at the final arithmetic (zscore contract)
    Q("q_describe", (s, dir) => {
      DataFrame.fromSpark(table(s, dir, "lineitem"))
        .describeStats(Seq("l_quantity", "l_extendedprice", "l_discount"))
        .toSpark(includeIndex = false)
        .select(col("column"), col("n"), round(col("mean"), 6).as("mean"),
          round(col("std"), 6).as("std"), col("mn"), col("mx"))
        .orderBy("column")
    },
      """WITH s AS (
        |  SELECT 'l_quantity' AS "column", count(l_quantity) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS s2,
        |    CAST(min(l_quantity) AS DOUBLE) AS mn,
        |    CAST(max(l_quantity) AS DOUBLE) AS mx FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', count(l_extendedprice),
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE),
        |    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE),
        |    CAST(min(l_extendedprice) AS DOUBLE),
        |    CAST(max(l_extendedprice) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', count(l_discount),
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE),
        |    CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,8))) AS DOUBLE),
        |    CAST(min(l_discount) AS DOUBLE),
        |    CAST(max(l_discount) AS DOUBLE) FROM lineitem)
        |SELECT "column", n, round(s1 / n, 6) AS mean,
        |  round(sqrt((s2 - (s1 / n) * (s1 / n) * n) / (n - 1)), 6) AS std,
        |  mn, mx
        |FROM s ORDER BY "column"""".stripMargin),

    // exact per-group quantiles (percentile inside groupBy — one pass)
    Q("q_group_quantile", (s, dir) => {
      val o = DataFrame.fromParquet(s, s"$dir/orders.parquet")
      o.groupby(Seq("o_orderpriority"))
        .agg(("o_totalprice", "p25", "q25"), ("o_totalprice", "p50", "q50"),
          ("o_totalprice", "p90", "q90"))
        .toSpark(includeIndex = true)
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority,
        | quantile_cont(o_totalprice, 0.25) AS q25,
        | quantile_cont(o_totalprice, 0.50) AS q50,
        | quantile_cont(o_totalprice, 0.90) AS q90
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // semi/anti joins: filter orders by (non-)existence of a matching
    // part key — no right columns materialize, no row duplication
    Q("q_merge_semi", (s, dir) => {
      val o = DataFrame.fromParquet(s, s"$dir/orders.parquet",
        columns = Seq("o_orderkey", "o_totalprice"))
      val p = DataFrame.fromParquet(s, s"$dir/part.parquet",
        columns = Seq("p_partkey"))
        .renameColumns(Map("p_partkey" -> "o_orderkey"))
      val hit = o.merge(p, Seq("o_orderkey"), how = "semi")
        .toSpark(includeIndex = false).withColumn("side", lit("in_part"))
      val miss = o.merge(p, Seq("o_orderkey"), how = "anti")
        .toSpark(includeIndex = false).withColumn("side", lit("no_part"))
      hit.unionAll(miss).orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_totalprice, 'in_part' AS side FROM orders
        |WHERE o_orderkey IN (SELECT p_partkey FROM part)
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'no_part' FROM orders
        |WHERE o_orderkey NOT IN (SELECT p_partkey FROM part)
        |ORDER BY o_orderkey""".stripMargin),

    Q("q_groupby_agg", (s, dir) => {
      val li = DataFrame.fromParquet(s, s"$dir/lineitem.parquet")
      val typed = li.select(Seq("l_returnflag", "l_linestatus"))
        .withColumn("qty_d", li("l_quantity").astype(DecimalType(18, 4)))
        .withColumn("price_d", li("l_extendedprice").astype(DecimalType(18, 4)))
      typed.groupby(Seq("l_returnflag", "l_linestatus"))
        .agg(("qty_d", "sum", "sum_qty"), ("price_d", "sum", "sum_price"),
          ("qty_d", "count", "cnt"))
        .toSpark(includeIndex = true)
        .selectExpr("l_returnflag", "l_linestatus",
          "CAST(sum_qty AS DOUBLE) AS sum_qty",
          "CAST(sum_price AS DOUBLE) AS sum_price", "cnt")
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // extension: sort_values + head → TakeOrderedAndProject (top-k without
    // a global sort materialization)
    Q("q_sort_topk", (s, dir) => {
      val o = DataFrame.fromParquet(s, s"$dir/orders.parquet")
      o.select(Seq("o_orderkey", "o_totalprice"))
        .sortValues(Seq("o_totalprice", "o_orderkey"), Seq(false, true))
        .head(20)
        .toSpark()
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
    },
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),

    // extension: merge (broadcast-joined small dims) + groupBy
    Q("q_merge_groupby", (s, dir) => {
      val c = DataFrame.fromParquet(s, s"$dir/customer.parquet")
      val n = DataFrame.fromParquet(s, s"$dir/nation.parquet")
      val r = DataFrame.fromParquet(s, s"$dir/region.parquet")
      c.merge(n.renameColumns(Map("n_nationkey" -> "c_nationkey")), Seq("c_nationkey"))
        .merge(r.renameColumns(Map("r_regionkey" -> "n_regionkey")), Seq("n_regionkey"))
        .groupby(Seq("r_name"))
        .agg(("c_acctbal", "count", "n_customers"),
          ("c_acctbal", "min", "min_bal"), ("c_acctbal", "max", "max_bal"))
        .toSpark(includeIndex = true)
        .orderBy("r_name")
    },
      """SELECT r_name, count(c_acctbal) AS n_customers,
        | min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // extension: Series.value_counts
    Q("q_value_counts", (s, dir) => {
      val li = lineitem(s, dir)
      li("l_returnflag").valueCounts()
        .toSpark(includeIndex = true)
    },
      """SELECT l_returnflag, count(*) AS "count" FROM lineitem
        |GROUP BY l_returnflag ORDER BY "count" DESC, l_returnflag""".stripMargin),

    // extension: column-axis reduction df.sum() → Series indexed by column
    // label (decimal accumulation for cross-engine exactness)
    Q("q_col_reduce", (s, dir) => {
      val li = lineitem(s, dir)
      val typed = li.select(Nil)
        .withColumn("qty", li("l_quantity").astype(DecimalType(18, 4)))
        .withColumn("price", li("l_extendedprice").astype(DecimalType(18, 4)))
      typed.sum().rename(Some("total"))
        .toSpark(includeIndex = true)
        .selectExpr("index_0 AS col", "CAST(total AS DOUBLE) AS total")
        .orderBy("col")
    },
      """SELECT col, total FROM (
        |  SELECT 'qty' AS col,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'price',
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |  FROM lineitem) t
        |ORDER BY col""".stripMargin),

    // extension: per-column nunique
    Q("q_nunique", (s, dir) => {
      DataFrame.fromParquet(s, s"$dir/orders.parquet",
        columns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .nunique()
        .toSpark()
    },
      """SELECT count(DISTINCT o_orderkey) AS o_orderkey,
        | count(DISTINCT o_custkey) AS o_custkey,
        | count(DISTINCT o_orderstatus) AS o_orderstatus,
        | count(DISTINCT o_orderpriority) AS o_orderpriority
        |FROM orders""".stripMargin),

    // extension: set_index → loc lookup → reset_index round-trip; the loc
    // predicate pushes to the scan
    Q("q_set_index", (s, dir) => {
      DataFrame.fromParquet(s, s"$dir/orders.parquet",
          columns = Seq("o_orderkey", "o_custkey", "o_totalprice"))
        .setIndex(Seq("o_custkey")).loc(371L)
        .resetIndex()
        .toSpark()
        .orderBy("o_orderkey")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |WHERE o_custkey = 371 ORDER BY o_orderkey""".stripMargin),

    // extension: unstack — last index level pivots into columns (per-user
    // event-type count matrix); NULL combos filled to 0 to mirror counts
    Q("q_unstack", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      DataFrame.fromParquet(s, s"$dir/events.parquet",
          columns = Seq("user_id", "event_type", "event_id"))
        .groupby(Seq("user_id", "event_type")).count("n")
        .unstack(types)
        .fillna(0L)
        .toSpark(includeIndex = true)
        .orderBy("user_id")
    },
      """SELECT user_id,
        | count(*) FILTER (event_type = 'click') AS click,
        | count(*) FILTER (event_type = 'error') AS error,
        | count(*) FILTER (event_type = 'purchase') AS purchase,
        | count(*) FILTER (event_type = 'signup') AS signup,
        | count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // extension: Series.replace (pass-through) vs Series.map (unmapped →
    // NULL) — both codegen'd when-chains over the same fused base
    Q("q_replace", (s, dir) => {
      val o = ordersByKey(s, dir)
      val st = o("o_orderstatus")
      o.select(Nil)
        .withColumn("status", st.replace(Seq("O" -> "OPEN", "F" -> "FILLED")))
        .withColumn("code", st.map(Seq("O" -> 1.0, "F" -> 2.0)))
        .toSpark(includeIndex = true).orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        | CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FILLED'
        |   ELSE o_orderstatus END AS status,
        | CASE o_orderstatus WHEN 'O' THEN CAST(1.0 AS DOUBLE)
        |   WHEN 'F' THEN CAST(2.0 AS DOUBLE) END AS code
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // extension: pivot_table with sum — explicit pivot values keep it a
    // single aggregate pass; decimal accumulation for exactness
    Q("q_pivot_sum", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_returnflag", "l_linestatus"))
        .withColumn("qty_d", li("l_quantity").astype(DecimalType(18, 4)))
        .groupby(Seq("l_returnflag"))
        .pivotAgg("l_linestatus", Seq("F", "O"), "qty_d")
        .toSpark(includeIndex = true)
        .selectExpr("l_returnflag",
          "CAST(F AS DOUBLE) AS f_qty", "CAST(O AS DOUBLE) AS o_qty")
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
        |   FILTER (l_linestatus = 'F') AS DOUBLE) AS f_qty,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
        |   FILTER (l_linestatus = 'O') AS DOUBLE) AS o_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // extension: groupby().transform — group aggregate broadcast back onto
    // rows via a partitioned window (one shuffle, no agg+join); decimal
    // accumulation for cross-engine exact sums
    Q("q_transform", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_returnflag"))
        .withColumn("qty_d", li("l_quantity").astype(DecimalType(18, 4)))
        .groupby(Seq("l_returnflag")).transform("qty_d", "sum", "grp_sum")
        .toSpark(includeIndex = true)
        .selectExpr("l_orderkey", "l_linenumber", "l_returnflag",
          "CAST(grp_sum AS DOUBLE) AS grp_sum")
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
        |   OVER (PARTITION BY l_returnflag) AS DOUBLE) AS grp_sum
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // extension: duplicated() mask — first-in-index-order keeps False
    Q("q_duplicated", (s, dir) => {
      ordersByKey(s, dir).select(Seq("o_orderstatus"))
        .duplicated(Seq("o_orderstatus")).rename(Some("dup"))
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        | row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) > 1 AS dup
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // extension: combine_first — outer align + coalesce; evens keep their
    // price, odds get patched from the doubled frame
    Q("q_combine_first", (s, dir) => {
      val o = ordersByKey(s, dir)
      val evens = o.select(Seq("o_totalprice"))
        .where(o("o_custkey").mod(2) === 0)
        .renameColumns(Map("o_totalprice" -> "v"))
      val doubled = o.select(Seq("o_totalprice")).mul(2.0)
        .renameColumns(Map("o_totalprice" -> "v"))
      evens.combineFirst(doubled)
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        | CASE WHEN o_custkey % 2 = 0 THEN o_totalprice
        |      ELSE o_totalprice * 2 END AS v
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // extension: cut (fixed edges) + qcut (exact-percentile edges) binning,
    // counted per bin; the when-chains are codegen'd projections
    Q("q_cut", (s, dir) => {
      val price = ordersByKey(s, dir)("o_totalprice")
      val cutCounts = price
        .cut(Seq(0, 50000, 150000, 300000, 700000), Seq("lo", "mid", "hi", "top"))
        .rename(Some("bin")).valueCounts().rename(Some("n"))
        .toSpark(includeIndex = true).withColumn("src", lit("cut"))
      val qcutCounts = price.qcut(4)
        .rename(Some("bin")).valueCounts().rename(Some("n"))
        .toSpark(includeIndex = true).withColumn("src", lit("qcut"))
      cutCounts.unionAll(qcutCounts).orderBy("src", "bin")
    },
      """SELECT bin, count(*) AS n, src FROM (
        |  SELECT CASE
        |    WHEN o_totalprice > 0 AND o_totalprice <= 50000 THEN 'lo'
        |    WHEN o_totalprice > 50000 AND o_totalprice <= 150000 THEN 'mid'
        |    WHEN o_totalprice > 150000 AND o_totalprice <= 300000 THEN 'hi'
        |    WHEN o_totalprice > 300000 AND o_totalprice <= 700000 THEN 'top'
        |    END AS bin, 'cut' AS src FROM orders
        |  UNION ALL
        |  SELECT CASE
        |    WHEN o_totalprice <= (SELECT quantile_cont(o_totalprice, 0.25) FROM orders) THEN 'q1'
        |    WHEN o_totalprice <= (SELECT quantile_cont(o_totalprice, 0.50) FROM orders) THEN 'q2'
        |    WHEN o_totalprice <= (SELECT quantile_cont(o_totalprice, 0.75) FROM orders) THEN 'q3'
        |    ELSE 'q4' END, 'qcut' FROM orders
        |) t GROUP BY bin, src ORDER BY src, bin""".stripMargin),

    // extension: melt (wide→long) — Spark Expand, single streamed pass
    Q("q_melt", (s, dir) => {
      DataFrame.fromSpark(table(s, dir, "lineitem"))
        .melt(Seq("l_orderkey", "l_linenumber"),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .toSpark(includeIndex = false)
        .orderBy("l_orderkey", "l_linenumber", "variable")
    },
      """SELECT l_orderkey, l_linenumber, variable, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
        |         l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |         l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |         l_discount FROM lineitem
        |) t ORDER BY l_orderkey, l_linenumber, variable""".stripMargin),

    // extension: explode array column with position (Generate, zero shuffle);
    // pos is 1-based to mirror DuckDB generate_subscripts
    Q("q_explode", (s, dir) => {
      DataFrame.fromSpark(table(s, dir, "embeddings"))
        .explode("embedding", "pos0", "component")
        .toSpark(includeIndex = false)
        .select(col("vec_id"), (col("pos0") + 1).as("pos"),
          col("component").cast("double").as("component"))
        .orderBy("vec_id", "pos")
    },
      """SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        | CAST(unnest(embedding) AS DOUBLE) AS component
        |FROM embeddings ORDER BY vec_id, pos""".stripMargin),

    // extension: one-hot encoding with explicit categories — pure
    // projection, no distinct pre-scan
    Q("q_dummies", (s, dir) => {
      val o = ordersByKey(s, dir)
      o.select(Seq("o_orderstatus"))
        .getDummies("o_orderstatus", Seq("O", "F", "P"), Some("os"))
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        | CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS os_O,
        | CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS os_F,
        | CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS os_P
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // pandas df.where(cond, other): shape-preserving cell conditional,
    // fused into the scan projection (NOT the row filter)
    Q("q_where_other", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_quantity", "l_extendedprice"))
        .whereValues(li("l_quantity").le(25), 0.0)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_quantity <= 25 THEN l_quantity ELSE 0.0 END AS l_quantity,
        | CASE WHEN l_quantity <= 25 THEN l_extendedprice ELSE 0.0 END AS l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // engine-exact Pearson correlation matrix from decimal power sums —
    // ONE aggregate pass for all pairs, no rounding needed
    Q("q_corr_matrix", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_quantity", "l_extendedprice", "l_discount"))
        .corrMatrix()
        .toSpark(includeIndex = false)
        .orderBy("col_a", "col_b")
    }, {
      // mirror corrMatrix: exact decimal power sums → one double formula
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
      // DECIMAL(19,6): hugeint storage — DuckDB multiplies DECIMAL(18)
      // operands in int64 and overflows; the VALUES are identical to the
      // Spark side's DECIMAL(18,6) operands, so sums stay engine-exact
      def d(c: String) = s"CAST($c AS DECIMAL(19,6))"
      def p(a: String, b: String) = s"CAST(${d(a)} * ${d(b)} AS DECIMAL(38,12))"
      val sums = pairs.zipWithIndex.map { case ((a, b), k) =>
        s"CAST(sum(${p(a, b)}) AS DOUBLE) AS sxy_$k, " +
          s"CAST(sum(${d(a)}) AS DOUBLE) AS sx_$k, " +
          s"CAST(sum(${d(b)}) AS DOUBLE) AS sy_$k, " +
          s"CAST(sum(${p(a, a)}) AS DOUBLE) AS sxx_$k, " +
          s"CAST(sum(${p(b, b)}) AS DOUBLE) AS syy_$k, " +
          s"CAST(count(*) AS DOUBLE) AS n_$k"
      }.mkString(", ")
      val rows = pairs.zipWithIndex.map { case ((a, b), k) =>
        s"SELECT '$a' AS col_a, '$b' AS col_b, " +
          s"(n_$k * sxy_$k - sx_$k * sy_$k) / " +
          s"sqrt((n_$k * sxx_$k - sx_$k * sx_$k) * (n_$k * syy_$k - sy_$k * sy_$k)) AS corr FROM s"
      }.mkString(" UNION ALL ")
      s"WITH s AS (SELECT $sums FROM lineitem) $rows ORDER BY col_a, col_b"
    }),

    // extension: exact quantiles — Spark `percentile` (sort-based exact,
    // NOT approx_percentile), all requested quantiles in ONE aggregate pass
    Q("q_quantile", (s, dir) => {
      val o = ordersByKey(s, dir)
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val vals = o("o_totalprice").quantiles(qs)
      qs.zip(vals)
        .map { case (q, v) => s.range(1).select(lit(q).as("q"), lit(v).as("value")) }
        .reduce(_ unionAll _)
        .orderBy("q")
    },
      """SELECT CAST(q AS DOUBLE) AS q, value FROM (
        |  SELECT 0.10 AS q, quantile_cont(o_totalprice, 0.10) AS value FROM orders
        |  UNION ALL SELECT 0.25, quantile_cont(o_totalprice, 0.25) FROM orders
        |  UNION ALL SELECT 0.50, quantile_cont(o_totalprice, 0.50) FROM orders
        |  UNION ALL SELECT 0.75, quantile_cont(o_totalprice, 0.75) FROM orders
        |  UNION ALL SELECT 0.90, quantile_cont(o_totalprice, 0.90) FROM orders
        |  UNION ALL SELECT 0.99, quantile_cont(o_totalprice, 0.99) FROM orders
        |) t ORDER BY q""".stripMargin),

    // extension: Series nlargest/nsmallest → TakeOrderedAndProject (bounded
    // per-partition selection, no global sort materialization)
    Q("q_nlargest", (s, dir) => {
      val o = ordersByKey(s, dir)
      val top = o("o_totalprice").nlargest(10)
        .toSpark(includeIndex = true).withColumn("side", lit("top"))
      val bot = o("o_totalprice").nsmallest(10)
        .toSpark(includeIndex = true).withColumn("side", lit("bot"))
      top.unionAll(bot).orderBy("side", "o_orderkey")
    },
      """SELECT * FROM (
        |  SELECT o_orderkey, o_totalprice, 'top' AS side FROM
        |    (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10)
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, 'bot' AS side FROM
        |    (SELECT * FROM orders ORDER BY o_totalprice ASC, o_orderkey LIMIT 10)
        |) t ORDER BY side, o_orderkey""".stripMargin),

    // extension: boolean masking; same-base mask → filter above the scan
    // (predicate pushes into parquet)
    Q("q_where_mask", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_quantity", "l_discount"))
        .where(li("l_quantity") > 45)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // extension: concat (row-wise union with label alignment)
    Q("q_concat", (s, dir) => {
      val li = lineitem(s, dir)
      val hi = li.select(Seq("l_quantity")).where(li("l_quantity") > 45)
      val lo = li.select(Seq("l_quantity")).where(li("l_quantity") < 3)
      Frames.concat(Seq(hi, lo))
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_quantity > 45 OR l_quantity < 3
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // extension: dropna over alignment-produced NULLs (= inner join)
    Q("q_dropna", (s, dir) => {
      val o = ordersByKey(s, dir)("o_totalprice")
      val p = partByKey(s, dir)("p_retailprice")
      o.add(p).rename(Some("s")).dropna()
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_totalprice + p_retailprice AS s
        |FROM orders JOIN part ON o_orderkey = p_partkey
        |ORDER BY o_orderkey""".stripMargin),

    // CSV sink→source round trip against the LIVE oracle (closing the
    // last spec-only rows in the source table): four typed customer
    // columns go out through the extension sink and come back through
    // fromCsv with explicit production casts (no inference pass); the
    // oracle reads the original parquet — a hash match proves BOTH ends
    // of the text-format seam (quoting, header, double round-trip).
    Q("q_csv_source", (s, dir) => {
      val tmp = org.apache.spark.sql.GraftSqlBridge
        .managedTempDir("graft-csvq").getAbsolutePath
      graft.api.DataFrame.fromSpark(
        s.read.parquet(s"$dir/customer.parquet")
          .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"))
        .writeCsv(tmp, includeIndex = false)
      graft.api.DataFrame.fromCsv(s, tmp,
          options = Map("header" -> "true"))
        .toSpark(includeIndex = false)
        .select(col("c_custkey").cast("long").as("c_custkey"),
          col("c_name"), col("c_mktsegment"),
          col("c_acctbal").cast("double").as("c_acctbal"))
        .orderBy("c_custkey")
    },
      // the oracle reads the ORIGINAL parquet — the CSV/JSON round trip
      // must be value-invisible
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // JSON-lines (gzip) sink→source round trip, same contract: the
    // crawl-style compressed path — Spark decompresses transparently on
    // read, and the parquet-read oracle pins value fidelity.
    Q("q_json_source", (s, dir) => {
      val tmp = org.apache.spark.sql.GraftSqlBridge
        .managedTempDir("graft-jsonq").getAbsolutePath
      graft.api.DataFrame.fromSpark(
        s.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_orderstatus", "o_totalprice"))
        .writeJson(tmp, includeIndex = false,
          options = Map("compression" -> "gzip"))
      graft.api.DataFrame.fromJson(s, tmp)
        .toSpark(includeIndex = false)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // ORC sink→source round trip — the other first-class columnar
    // format; types survive natively (no casts needed beyond the
    // oracle-matching projection)
    Q("q_orc_source", (s, dir) => {
      val tmp = org.apache.spark.sql.GraftSqlBridge
        .managedTempDir("graft-orcq").getAbsolutePath
      graft.api.DataFrame.fromSpark(
        s.read.parquet(s"$dir/nation.parquet"))
        .writeOrc(tmp, includeIndex = false)
      graft.api.DataFrame.fromOrc(s, tmp)
        .toSpark(includeIndex = false)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    },
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // §2.7 numeric ops: mod (fmod), floor division, power
    Q("q_pow_mod", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Nil)
        .withColumn("qmod", li("l_quantity").mod(7))
        .withColumn("qfdiv", li("l_quantity").floordiv(7))
        .withColumn("p2", li("l_discount").radd(1.0).pow(2))
        .toSpark(includeIndex = true)
        .selectExpr("l_orderkey", "l_linenumber", "qmod", "qfdiv",
          "round(p2, 10) AS p2")
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        | l_quantity % 7 AS qmod,
        | floor(l_quantity / 7) AS qfdiv,
        | round(power(1 + l_discount, 2), 10) AS p2
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // coercion.py:88-116 bool→int arithmetic
    Q("q_bool_coercion", (s, dir) => {
      val li = lineitem(s, dir)
      val a = li("l_quantity") > 25
      val b = li("l_discount") > 0.05
      li.select(Nil)
        .withColumn("flags", a.add(b))
        .withColumn("scaled", (li("l_quantity") > 25).mul(10))
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        | CAST(l_quantity > 25 AS INT) + CAST(l_discount > 0.05 AS INT) AS flags,
        | CAST(l_quantity > 25 AS INT) * 10 AS scaled
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // generic.py:59-62 astype casts
    Q("q_astype", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Nil)
        .withColumn("qty_int", li("l_quantity").astype(org.apache.spark.sql.types.IntegerType))
        .withColumn("qty_str", li("l_quantity").astype(org.apache.spark.sql.types.StringType))
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        | CAST(floor(l_quantity) AS INT) AS qty_int,
        | CAST(l_quantity AS VARCHAR) AS qty_str
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // alchemy.py:264-275 applymap with na_action='ignore' over real NULLs
    Q("q_applymap", (s, dir) => {
      val o = ordersByKey(s, dir)("o_totalprice")
      val p = partByKey(s, dir)("p_retailprice")
      val joined = o.add(p).rename(Some("s"))
      new graft.api.DataFrame(joined.frame)
        .applymap(c => c * 2, naAction = Some("ignore"))
        .toSpark(includeIndex = true)
        .orderBy("o_orderkey")
    },
      """SELECT COALESCE(o.o_orderkey, p.p_partkey) AS o_orderkey,
        | CASE WHEN o.o_totalprice + p.p_retailprice IS NULL THEN NULL
        |      ELSE (o.o_totalprice + p.p_retailprice) * 2 END AS s
        |FROM orders o FULL OUTER JOIN part p ON o.o_orderkey = p.p_partkey
        |ORDER BY o_orderkey""".stripMargin),

    // generic.py:8-22 len/shape as a 1-row relation
    Q("q_len", (s, dir) => {
      val li = lineitem(s, dir)
      val o = DataFrame.fromParquet(s, s"$dir/orders.parquet")
      s.range(1).select(lit(li.len).as("lineitem_rows"),
        lit(o.len).as("order_rows"), lit(o.shape(1)).as("order_cols"))
    },
      """SELECT (SELECT count(*) FROM lineitem) AS lineitem_rows,
        | (SELECT count(*) FROM orders) AS order_rows,
        | 6 AS order_cols""".stripMargin),

    // extension: left merge with NULL-extension semantics
    Q("q_merge_left", (s, dir) => {
      val o = DataFrame.fromParquet(s, s"$dir/orders.parquet",
        columns = Seq("o_orderkey", "o_totalprice"))
      val p = DataFrame.fromParquet(s, s"$dir/part.parquet",
        columns = Seq("p_partkey", "p_retailprice"))
      o.merge(p.renameColumns(Map("p_partkey" -> "o_orderkey")),
        Seq("o_orderkey"), how = "left")
        .toSpark()
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_totalprice, p_retailprice
        |FROM orders LEFT JOIN part ON o_orderkey = p_partkey
        |ORDER BY o_orderkey""".stripMargin),

    // base.py:86-102 MultiIndex level join: (user_id, event_id)-indexed
    // frame + user_id-indexed frame aligned on the shared level
    Q("q_level_join", (s, dir) => {
      val multi = DataFrame.fromParquet(s, s"$dir/events.parquet",
        columns = Seq("value"), index = Seq("user_id", "event_id"))
      val perUser = DataFrame.fromParquet(s, s"$dir/events.parquet",
        columns = Seq("user_id", "event_id"))
        .groupby(Seq("user_id")).count("value")
      multi.add(perUser, axis = 0, level = Some("user_id"))
        .toSpark(includeIndex = true)
        .orderBy("user_id", "event_id")
    },
      """SELECT e.user_id, e.event_id, e.value + c.n AS value
        |FROM events e
        |LEFT JOIN (SELECT user_id, count(*) AS n FROM events GROUP BY 1) c
        |  ON e.user_id = c.user_id
        |ORDER BY e.user_id, e.event_id""".stripMargin),

    // pandas conveniences: isin/between masks + str accessor
    Q("q_isin_str", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Nil)
        .withColumn("flag_in", li("l_returnflag").isin(Seq("R", "A")))
        .withColumn("qty_mid", li("l_quantity").between(10, 20))
        .withColumn("flag_up", li("l_linestatus").str.lower)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        | l_returnflag IN ('R','A') AS flag_in,
        | l_quantity BETWEEN 10 AND 20 AS qty_mid,
        | lower(l_linestatus) AS flag_up
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // dt accessor: timestamp parts (UTC session both sides)
    Q("q_dt_parts", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Nil)
        .withColumn("y", li("l_shipdate").dt.year)
        .withColumn("m", li("l_shipdate").dt.month)
        .withColumn("d", li("l_shipdate").dt.day)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        | year(l_shipdate) AS y, month(l_shipdate) AS m, day(l_shipdate) AS d
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // top-k per group (argmax pattern): 2 highest-value events per user
    Q("q_topk_per_group", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = table(s, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(desc("value"), col("event_id"))
      ev.withColumn("rn", row_number().over(w)).where(col("rn") <= 2)
        .select(col("user_id"), col("rn"), col("event_id"), col("value"))
        .orderBy("user_id", "rn")
    },
      """SELECT user_id, rn, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 2 ORDER BY user_id, rn""".stripMargin),

    // extension: pivoted per-user event-type counts
    Q("q_pivot", (s, dir) => {
      val ev = DataFrame.fromParquet(s, s"$dir/events.parquet",
        columns = Seq("user_id", "event_type"))
      ev.groupby(Seq("user_id"))
        .pivotCount("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .toSpark(includeIndex = true)
        .orderBy("user_id")
    },
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'error') AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // semi-structured: JSON field extraction from the events payload
    Q("q_json", (s, dir) => {
      val ev = table(s, dir, "events")
      ev.select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy("k")
    },
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin),

    // approx_count_distinct honesty check: exact distinct (oracled
    // exactly) + a deterministic HLL++-within-5% claim the oracle
    // asserts as TRUE
    Q("q_approx_distinct", (s, dir) => {
      val ev = table(s, dir, "events")
      ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) <
            col("n_exact") * 0.05).as("approx_ok"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        | TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // generic.py:81-83 round (HALF_UP on both engines for these values —
    // parity verified over the full price column)
    Q("q_round", (s, dir) => {
      val li = lineitem(s, dir)
      li.select(Seq("l_extendedprice")).round(1)
        .toSpark(includeIndex = true)
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 1) AS l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // set ops: intersect/except with exact row semantics
    Q("q_set_ops", (s, dir) => {
      val li = lineitem(s, dir)
      val big = li.select(Seq("l_quantity", "l_returnflag")).where(li("l_quantity") > 40)
      val ret = li.select(Seq("l_quantity", "l_returnflag")).where(li("l_returnflag") === "R")
      val inter = big.intersect(ret)
      inter.toSpark().orderBy("l_quantity", "l_returnflag")
    },
      """SELECT DISTINCT l_quantity, l_returnflag FROM lineitem WHERE l_quantity > 40
        |INTERSECT
        |SELECT DISTINCT l_quantity, l_returnflag FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY l_quantity, l_returnflag""".stripMargin),

    // reporting: FULL cross-granularity aggregate in ONE scan — cube is
    // a single Expand pass over all 2^k groupings (the rollup complement:
    // q_rollup covers the hierarchical-subtotal path via the graft-API
    // rollupAgg); subtotal NULLs labeled for engine-stable ordering
    Q("q_cube", (s, dir) => {
      val li = table(s, dir, "lineitem")
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast("double").as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("qty"))
        .orderBy("rf", "ls")
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),

    // mergeable distinct-count sketches: per-(type, day) HLL sketches
    // unioned per type — the partitioned-ingest pattern where each day's
    // shard is sketched once and recombination is sketch-sized, never a
    // re-scan; honesty-checked against the exact distinct
    Q("q_hll_merge", (s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("day", expr("ts DIV 86400000000000"))
      val daily = ev.groupBy("event_type", "day")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = daily.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      merged.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx") - col("n_exact")) <= col("n_exact") * 0.05)
            .as("approx_ok"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // bounded-memory quantiles honesty check: exact percentile (oracled
    // exactly) + a percentile_approx-within-tolerance claim the oracle
    // asserts TRUE — the q_approx_distinct pattern for quantiles
    Q("q_approx_quantile", (s, dir) => {
      val ev = table(s, dir, "events")
      ev.groupBy(col("event_type")).agg(
          percentile(col("value"), lit(0.5)).as("p50x"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50a"))
        .select(col("event_type"), round(col("p50x"), 9).as("p50_exact"),
          (abs(col("p50a") - col("p50x")) <=
            abs(col("p50x")) * 0.02 + lit(0.01)).as("approx_ok"))
        .orderBy("event_type")
    },
      """SELECT event_type, round(quantile_cont(value, 0.5), 9) AS p50_exact,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // arbitrary GROUPING SETS (beyond cube/rollup): the named subtotal
    // combinations an aggregation dashboard actually asks for, one
    // Expand + one hash aggregate
    Q("q_grouping_sets", (s, dir) => {
      table(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast("double").as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("qty"))
        .orderBy("rf", "ls")
    },
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY rf, ls""".stripMargin)
  )
}
