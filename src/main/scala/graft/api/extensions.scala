package graft.api

import graft.core._
import org.apache.spark.sql.{Column, DataFrame => SDF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{col => scol}
import org.apache.spark.sql.types._

/** Extension surface beyond the reference's own operators (SURVEY.md §7.2
  * step 7): relational verbs the reference leaves to the backing database,
  * expressed Spark-first so Catalyst/AQE plan them (map-side partial
  * aggregation, broadcast vs shuffle joins, AQE skew handling).
  *
  * Everything here is declarative DataFrame API — no collects, no
  * driver-side loops — so plans scale with executors. */

/** groupBy handle — `df.groupby(keys).agg(...)` with the group keys
  * becoming the result's index (pandas semantics). */
final class GroupBy private[graft] (df: DataFrame, keys: Seq[String]) {

  /** Aggregate with (column, function, outputLabel) specs.
    * Functions: sum, mean, min, max, count, count_distinct, first, last,
    * stddev, variance, approx_count_distinct, sum_distinct, median,
    * collect_set_size. Partial (map-side) aggregation and whole-stage
    * codegen come from Spark's declarative groupBy. */
  def agg(specs: (String, String, String)*): DataFrame = {
    val sdf = df.toSpark(includeIndex = false)
    val aggCols = specs.map { case (c, fn, alias) =>
      GroupBy.exprFor(fn, c).as(alias)
    }
    val out = sdf.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    DataFrame.fromSpark(out, index = keys)
  }

  /** ROLLUP aggregation: hierarchical subtotals (k, k-1, ..., grand
    * total), NULL marking the rolled-up levels — one Expand + one
    * aggregate pass, same shuffle as a plain groupBy. Keys stay data
    * columns (subtotal rows have NULL keys; a NULL index row would be
    * unaddressable). */
  def rollupAgg(specs: (String, String, String)*): DataFrame =
    grouping(specs, (s, ks) => s.rollup(ks: _*))

  /** CUBE aggregation: subtotals for EVERY key subset (2^k groupings in
    * one pass). */
  def cubeAgg(specs: (String, String, String)*): DataFrame =
    grouping(specs, (s, ks) => s.cube(ks: _*))

  private def grouping(specs: Seq[(String, String, String)],
                       g: (SDF, Seq[Column]) => org.apache.spark.sql.RelationalGroupedDataset): DataFrame = {
    val sdf = df.toSpark(includeIndex = false)
    val aggCols = specs.map { case (c, fn, alias) =>
      GroupBy.exprFor(fn, c).as(alias)
    }
    DataFrame.fromSpark(
      g(sdf, keys.map(col)).agg(aggCols.head, aggCols.tail: _*))
  }

  def count(alias: String = "count"): DataFrame = {
    val sdf = df.toSpark(includeIndex = false)
    DataFrame.fromSpark(
      sdf.groupBy(keys.map(col): _*).agg(org.apache.spark.sql.functions.count(lit(1)).as(alias)),
      index = keys)
  }

  /** Pivoted counts: one column per `values` entry of `pivotCol`,
    * missing combinations filled with 0 (pandas pivot_table fill_value=0).
    * Explicit `values` keeps the plan single-pass (no distinct scan). */
  def pivotCount(pivotCol: String, values: Seq[String]): DataFrame = {
    val sdf = df.toSpark(includeIndex = false)
    DataFrame.fromSpark(
      sdf.groupBy(keys.map(col): _*).pivot(pivotCol, values).count()
        .na.fill(0L, values),
      index = keys)
  }

  /** pandas groupby().transform: the group aggregate joined back onto
    * every row of the original frame. The original index is preserved.
    *
    * Shape: groupBy-agg (map-side partials collapse it to |groups|
    * rows) + a null-SAFE equi-join back. NOT `Window.partitionBy(key)`:
    * transform keys are routinely LOW-cardinality (a 3-value return
    * flag, a 5-value priority), and a window over such a key funnels
    * the ENTIRE relation into |groups| sorted tasks — a parallelism
    * collapse that gets fatal at 100 TB. Here the aggregate side is
    * |groups| rows, AQE broadcasts it, and the big side is never
    * exchanged at all; a HIGH-cardinality key degrades to one key
    * shuffle for the join — the same exchange the window would have
    * cost, now without its degenerate case. The `<=>` join keeps NULL
    * keys grouping together, matching the window/GROUP BY semantics. */
  def transform(column: String, fn: String, outLabel: String): DataFrame = {
    val keyOrds = keys.map { k =>
      val i = df.frame.colLabels.indexOf(Some(k))
      if (i < 0) throw new GraftKeyError(s"'$k'")
      i
    }
    val i = df.frame.colLabels.indexOf(Some(column))
    if (i < 0) throw new GraftKeyError(s"'$column'")
    val base = df.frame.df // positional view: __idx_* ++ __col_*
    val keyNames = keyOrds.map(graft.core.SqlFrame.colName)
    val aggSide = base
      .groupBy(keyNames.map(n => col(n).as(s"__gk_$n")): _*)
      .agg(GroupBy.exprForCol(fn, col(graft.core.SqlFrame.colName(i)))
        .as("__gt"))
    val cond = keyNames.map(n => base(n) <=> aggSide(s"__gk_$n"))
      .reduce(_ && _)
    val joined = base.join(aggSide, cond, "left")
      .select((0 until df.frame.nIdx).map(j =>
        col(graft.core.SqlFrame.idxName(j))) ++
        (0 until df.frame.nCols).map(j =>
          col(graft.core.SqlFrame.colName(j))) :+
        col("__gt").as(graft.core.SqlFrame.colName(df.frame.nCols)): _*)
    new DataFrame(graft.core.SqlFrame.fromPhysical(
      df.frame.indexNames, df.frame.colLabels :+ Some(outLabel), joined))
  }

  /** pandas pivot_table: one output column per `values` entry of
    * `pivotCol`, aggregated with `fn` over `valueCol`. Explicit values →
    * single-pass plan (Spark's pivot with known values is one aggregate,
    * no distinct pre-scan). */
  def pivotAgg(pivotCol: String, values: Seq[String], valueCol: String,
               fn: String = "sum"): DataFrame = {
    val sdf = df.toSpark(includeIndex = false)
    DataFrame.fromSpark(
      sdf.groupBy(keys.map(col): _*).pivot(pivotCol, values)
        .agg(GroupBy.exprFor(fn, valueCol)),
      index = keys)
  }

  def sum(cols: String*): DataFrame =
    agg(cols.map(c => (c, "sum", c)): _*)
  def mean(cols: String*): DataFrame =
    agg(cols.map(c => (c, "mean", c)): _*)
  def min(cols: String*): DataFrame =
    agg(cols.map(c => (c, "min", c)): _*)
  def max(cols: String*): DataFrame =
    agg(cols.map(c => (c, "max", c)): _*)
}

object GroupBy {
  private[graft] def exprForCol(fn: String, c: Column): Column = fn match {
    case "sum" => org.apache.spark.sql.functions.sum(c)
    case "mean" | "avg" => avg(c)
    case "min" => org.apache.spark.sql.functions.min(c)
    case "max" => org.apache.spark.sql.functions.max(c)
    case "count" => org.apache.spark.sql.functions.count(c)
    case "count_distinct" => countDistinct(c)
    case "approx_count_distinct" => approx_count_distinct(c)
    case "sum_distinct" => sum_distinct(c)
    case "first" => first(c)
    case "last" => last(c)
    case "stddev" => stddev(c)
    case "variance" => variance(c)
    case "median" => median(c)
    case PQuantile(q) => // "p25" / "p50" / "p99": exact grouped percentile
      percentile(c, lit(q.toInt / 100.0))
    case other => throw new GraftValueError(s"Unknown aggregation: $other")
  }

  private[graft] def exprFor(fn: String, c: String): Column = exprForCol(fn, scol(c))

  private val PQuantile = "p(\\d{1,2})".r
}

private[graft] trait DataFrameExtensions { this: DataFrame =>

  /** Boolean masking — `df[mask]`. A same-base mask filters directly above
    * the scan (predicate pushdown applies); a foreign mask is a LEFT SEMI
    * join on the index against its true rows (pandas reindex-missing→False
    * semantics, no data movement on the probe side beyond the join). */
  def where(mask: Series): DataFrame = {
    if (frame.fusesWith(mask.frame))
      new DataFrame(frame.whereExpr(mask.frame.dataExprs(0)))
    else {
      val m = mask.frame.df.where(scol(SqlFrame.colName(0)))
        .select((0 until mask.frame.nIdx).map(i =>
          scol(SqlFrame.idxName(i)).as(SqlFrame.rIdxName(i))): _*)
      val cond = (0 until frame.nIdx.min(mask.frame.nIdx)).map(i =>
        scol(SqlFrame.idxName(i)) === scol(SqlFrame.rIdxName(i))).reduce(_ && _)
      new DataFrame(frame.rePhysical(frame.df.join(m, cond, "left_semi")))
    }
  }

  def filter(mask: Series): DataFrame = where(mask)

  /** Drop rows containing NULL in any (or the given) data columns. */
  def dropna(subset: Seq[String] = Nil): DataFrame = {
    val ords = if (subset.isEmpty) frame.colLabels.indices
               else subset.map { s =>
                 val i = frame.colLabels.indexOf(Some(s))
                 if (i < 0) throw new GraftKeyError(s"'$s'")
                 i
               }
    val cond = ords.map(i => frame.dataExprs(i).isNotNull).reduce(_ && _)
    new DataFrame(frame.whereExpr(cond))
  }

  def fillna(value: Any): DataFrame = {
    val v = Semantics.literal(value)
    new DataFrame(frame.mapCols((c, _, _) => coalesce(c, v.col)))
  }

  /** Sort by data columns (pandas sort_values). A global sort is a range
    * shuffle; Spark samples ranges so it stays parallel at scale. */
  def sortValues(by: Seq[String], ascending: Seq[Boolean] = Nil): DataFrame = {
    val asc = if (ascending.isEmpty) by.map(_ => true) else ascending
    val ords = by.zip(asc).map { case (c, a) =>
      val i = frame.colLabels.indexOf(Some(c))
      if (i < 0) throw new GraftKeyError(s"'$c'")
      if (a) frame.colAt(i).asc else frame.colAt(i).desc
    }
    new DataFrame(frame.rePhysical(frame.df.orderBy(ords: _*)))
  }

  /** pandas sort_index: every level in one direction, NULL labels last
    * in both directions (na_position='last'). */
  def sortIndex(ascending: Boolean = true): DataFrame = {
    val ords = (0 until frame.nIdx).map(i =>
      if (ascending) frame.idxCols(i).asc_nulls_last
      else frame.idxCols(i).desc_nulls_last)
    new DataFrame(frame.rePhysical(frame.df.orderBy(ords: _*)))
  }

  def groupby(keys: Seq[String]): GroupBy = new GroupBy(this, keys)

  /** Relational join on data columns (pandas merge). The result gets a
    * fresh synthetic index (pandas merge resets the index). Catalyst picks
    * broadcast vs shuffle join from stats + AQE. */
  def merge(other: DataFrame, on: Seq[String], how: String = "inner",
            suffixes: (String, String) = ("_x", "_y")): DataFrame = {
    val l = this.toSpark(includeIndex = false)
    val r = other.toSpark(includeIndex = false)
    val overlap = l.columns.toSet.intersect(r.columns.toSet) -- on.toSet
    val lr = overlap.foldLeft(l)((d, c) => d.withColumnRenamed(c, c + suffixes._1))
    val rr = overlap.foldLeft(r)((d, c) => d.withColumnRenamed(c, c + suffixes._2))
    val how2 = how match {
      case "outer" => "full_outer"
      case h => h
    }
    DataFrame.fromSpark(lr.join(rr, on, how2))
  }

  /** pandas duplicated(): boolean mask marking every row after the first
    * occurrence of its key (first = lowest index value, the only stable
    * "first" a distributed table has).
    *
    * Shape: per-key min-index aggregate + null-safe join-back, NOT
    * `row_number() OVER (PARTITION BY key ORDER BY index)` — dedup keys
    * are routinely LOW-cardinality (a 3-value status column), and a
    * window over such a key funnels the whole relation into |groups|
    * sorted tasks. The aggregate side is |groups| rows (AQE broadcasts
    * it); a row is a duplicate iff its index tuple is not the group's
    * minimum — the same "first by index order" answer, made
    * deterministic even under a non-unique index (every row tied at the
    * minimal index counts as first, where row_number picked one
    * arbitrarily). */
  def duplicated(subset: Seq[String] = Nil): Series = {
    val ords = if (subset.isEmpty) frame.colLabels.indices
               else subset.map { s =>
                 val i = frame.colLabels.indexOf(Some(s))
                 if (i < 0) throw new GraftKeyError(s"'$s'")
                 i
               }
    val base = frame.df // positional view: __idx_* ++ __col_*
    val keyNames = ords.map(graft.core.SqlFrame.colName)
    def idxTuple(d: org.apache.spark.sql.DataFrame) =
      struct((0 until frame.nIdx).map(j =>
        d(graft.core.SqlFrame.idxName(j))): _*)
    val aggSide = base
      .groupBy(keyNames.map(n => scol(n).as(s"__gk_$n")): _*)
      .agg(org.apache.spark.sql.functions.min(idxTuple(base)).as("__first"))
    val cond = keyNames.map(n => base(n) <=> aggSide(s"__gk_$n"))
      .reduce(_ && _)
    val joined = base.join(aggSide, cond, "left")
      .select((0 until frame.nIdx).map(j =>
        scol(graft.core.SqlFrame.idxName(j))) :+
        (!(idxTuple(base) <=> scol("__first")))
          .as(graft.core.SqlFrame.colName(0)): _*)
    new Series(graft.core.SqlFrame.fromPhysical(frame.indexNames,
      IndexedSeq(Some("duplicated")), joined))
  }

  /** pandas combine_first: patch NULLs (and missing rows/columns) from
    * `other` — outer alignment on both axes with per-cell COALESCE. Rides
    * the same broadcast/align engine as the arithmetic ops. */
  def combineFirst(other: DataFrame): DataFrame =
    binOp(Semantics.CombineFirst, other)

  /** Exact deduplication by full row or subset (Spark keeps an arbitrary
    * representative per group — a shuffle-based hash dedup that scales;
    * pandas' keep="first" needs a total order that 100 TB doesn't have). */
  def dropDuplicates(subset: Seq[String] = Nil): DataFrame = {
    val sdf = this.toSpark(includeIndex = false)
    val out = if (subset.isEmpty) sdf.dropDuplicates() else sdf.dropDuplicates(subset)
    DataFrame.fromSpark(out)
  }

  /** pandas melt — wide→long unpivot. Spark plans an Expand: each input
    * row emits one output row per value column in a single streamed pass —
    * no join, no shuffle. The index is reset (pandas melt default). */
  def melt(idVars: Seq[String], valueVars: Seq[String],
           varName: String = "variable", valueName: String = "value"): DataFrame = {
    val sdf = this.toSpark(includeIndex = false)
    (idVars ++ valueVars).find(c => !sdf.columns.contains(c))
      .foreach(c => throw new GraftKeyError(s"'$c'"))
    DataFrame.fromSpark(sdf.unpivot(idVars.map(scol).toArray,
      valueVars.map(scol).toArray, varName, valueName))
  }

  /** Explode an array column into one row per element, keeping the element
    * position for provenance (pandas explode + reset_index). Generate
    * streams per input row — zero shuffle. */
  def explode(column: String, posName: String = "pos",
              outName: String = "element"): DataFrame = {
    val sdf = this.toSpark(includeIndex = false)
    if (!sdf.columns.contains(column)) throw new GraftKeyError(s"'$column'")
    val others = sdf.columns.filterNot(_ == column).map(scol).toSeq
    DataFrame.fromSpark(sdf.select(
      others :+ posexplode(scol(column)).as(Seq(posName, outName)): _*))
  }

  /** pandas drop(columns=...): keep everything except `cols`. */
  def drop(cols: Seq[String]): DataFrame = {
    cols.find(c => !frame.colLabels.contains(Some(c)))
      .foreach(c => throw new GraftKeyError(s"'$c'"))
    select(frame.colLabels.flatten.filterNot(cols.contains))
  }

  /** pandas unstack for a two-level-indexed single-column frame: pivot
    * the LAST index level into columns. Explicit `values` keep the plan a
    * single aggregate pass (no distinct pre-scan); combinations absent
    * from the data come out NULL (use fillna to mirror pandas fill_value).
    * Duplicate (level-0, level-1) pairs are a pandas error; here the
    * arbitrary-first survivor is kept — pre-aggregate if that matters. */
  def unstack(values: Seq[String]): DataFrame = {
    require(frame.nIdx == 2, "unstack requires exactly two index levels")
    require(frame.nCols == 1, "unstack requires a single data column")
    val sdf = toSpark(includeIndex = true)
    val Array(idx0, lvl, v) = sdf.columns
    DataFrame.fromSpark(
      sdf.groupBy(scol(idx0)).pivot(lvl, values).agg(first(scol(v))),
      index = Seq(idx0))
  }

  /** Summary statistics per numeric column (pandas describe):
    * count/mean/stddev/min/max rows. Quantiles intentionally omitted —
    * engines disagree on interpolation, and approx quantiles at scale are
    * a different contract (`approx_percentile` is available through
    * groupby.agg). */
  def describe(): DataFrame = {
    val sdf = this.toSpark(includeIndex = false)
    DataFrame.fromSpark(sdf.summary("count", "mean", "stddev", "min", "max"))
  }

  /** ENGINE-EXACT numeric describe in long format — one row per column:
    * (column, n, mean, std, min, max). Unlike [[describe]] (Spark's
    * string-typed `summary`, float accumulation), the moments accumulate
    * in DECIMAL and doubles appear only in the final mean/std arithmetic
    * — two engines mirroring the expression tree agree bit-for-bit (the
    * same contract as `WindowOps.zscore`). ONE aggregate pass computes
    * every column's five measures, then the one-row result explodes to
    * long format — a single scan however many columns are described. */
  def describeStats(cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "describeStats needs at least one column")
    val sdf = this.toSpark(includeIndex = false)
    val F = org.apache.spark.sql.functions
    val measures = cols.zipWithIndex.flatMap { case (c, i) =>
      val x = scol(c)
      val xd = x.cast(org.apache.spark.sql.types.DecimalType(18, 4))
      val x2d = (x * x).cast(org.apache.spark.sql.types.DecimalType(38, 8))
      Seq(count(x).as(s"__n$i"),
        F.sum(xd).cast("double").as(s"__s1_$i"),
        F.sum(x2d).cast("double").as(s"__s2_$i"),
        F.min(x).cast("double").as(s"__mn$i"),
        F.max(x).cast("double").as(s"__mx$i"))
    }
    val one = sdf.agg(measures.head, measures.tail: _*)
    val rows = array(cols.zipWithIndex.map { case (c, i) =>
      val n = scol(s"__n$i"); val s1 = scol(s"__s1_$i"); val s2 = scol(s"__s2_$i")
      struct(lit(c).as("column"), n.as("n"),
        (s1 / n).as("mean"),
        sqrt((s2 - (s1 / n) * (s1 / n) * n) / (n - 1)).as("std"),
        scol(s"__mn$i").as("mn"), scol(s"__mx$i").as("mx"))
    }: _*)
    DataFrame.fromSpark(one.select(F.explode(rows).as("__r")).select("__r.*"))
  }

  /** Per-column distinct counts as a one-row frame. */
  def nunique(): DataFrame = {
    val sdf = this.toSpark(includeIndex = false)
    DataFrame.fromSpark(sdf.select(sdf.columns.map(c =>
      countDistinct(scol(c)).as(c)).toSeq: _*))
  }

  /** Column-axis reduction → Series indexed by column label (pandas
    * `df.sum()` etc.). One aggregate pass over all columns (single job);
    * the one-row result is a driver-side local Series, matching pandas'
    * eager reduction semantics. Ties to pandas: doubles accumulate in
    * float; cast columns to DecimalType first when cross-engine exact
    * sums matter (see q_groupby_agg). */
  private def reduceColumns(agg: Column => Column): Series = {
    val row = frame.df.select((0 until frame.nCols).map(i =>
      agg(frame.colAt(i)).as(s"__r$i")): _*).collect().head
    val items = (0 until frame.nCols).map(i =>
      (frame.colLabels(i).getOrElse(s"col_$i"): Any, row.get(i)))
    Series.fromLocal(frame.df.sparkSession, items)
  }

  def sum(): Series = reduceColumns(org.apache.spark.sql.functions.sum)
  def mean(): Series = reduceColumns(avg)
  def min(): Series = reduceColumns(org.apache.spark.sql.functions.min)
  def max(): Series = reduceColumns(org.apache.spark.sql.functions.max)
  def countNonNull(): Series = reduceColumns(count)

  /** Pearson correlation / sample covariance between two columns
    * (distributed single-pass aggregates, pandas `df[a].corr(df[b])`). */
  def corr(c1: String, c2: String): Double = {
    val (a, b) = corrCols(c1, c2)
    frame.df.select(corr_(a, b)).collect().head.getDouble(0)
  }

  def cov(c1: String, c2: String): Double = {
    val (a, b) = corrCols(c1, c2)
    frame.df.select(covar_samp(a, b)).collect().head.getDouble(0)
  }

  private def corr_(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.corr(a, b)

  private def corrCols(c1: String, c2: String): (Column, Column) = {
    def at(c: String): Column = {
      val i = frame.colLabels.indexOf(Some(c))
      if (i < 0) throw new GraftKeyError(s"'$c'")
      frame.colAt(i)
    }
    (at(c1), at(c2))
  }
}

private[graft] trait SeriesExtensions { this: Series =>

  def where(mask: Series): Series = {
    if (frame.fusesWith(mask.frame))
      new Series(frame.whereExpr(mask.frame.dataExprs(0)))
    else {
      val m = mask.frame.df.where(scol(SqlFrame.colName(0)))
        .select((0 until mask.frame.nIdx).map(i =>
          scol(SqlFrame.idxName(i)).as(SqlFrame.rIdxName(i))): _*)
      val cond = (0 until frame.nIdx.min(mask.frame.nIdx)).map(i =>
        scol(SqlFrame.idxName(i)) === scol(SqlFrame.rIdxName(i))).reduce(_ && _)
      new Series(frame.rePhysical(frame.df.join(m, cond, "left_semi")))
    }
  }

  def dropna(): Series = new Series(frame.whereExpr(frame.dataExprs(0).isNotNull))

  /** value → count, ordered by count desc (pandas value_counts). */
  def valueCounts(): Series = {
    val sdf = frame.df.select(frame.colAt(0).as("__v"))
    val counted = sdf.groupBy(scol("__v")).agg(count(lit(1)).as("__c"))
      .orderBy(scol("__c").desc, scol("__v"))
      .select(scol("__v").as(SqlFrame.idxName(0)), scol("__c").as(SqlFrame.colName(0)))
    new Series(SqlFrame.fromPhysical(IndexedSeq(name), IndexedSeq(Some("count")), counted))
  }

  private def aggScalar(c: Column): Any =
    frame.df.select(c.as("__r")).collect().head.get(0)

  def sum(): Any = aggScalar(org.apache.spark.sql.functions.sum(frame.colAt(0)))
  def mean(): Any = aggScalar(avg(frame.colAt(0)))
  def min(): Any = aggScalar(org.apache.spark.sql.functions.min(frame.colAt(0)))
  def max(): Any = aggScalar(org.apache.spark.sql.functions.max(frame.colAt(0)))
  def countNonNull(): Long =
    aggScalar(count(frame.colAt(0))).asInstanceOf[Long]
  def nunique(): Long =
    aggScalar(count_distinct(frame.colAt(0))).asInstanceOf[Long]

  /** Exact quantile with linear interpolation (pandas default) — Spark's
    * `percentile` aggregate, NOT the approx sketch; one distributed pass
    * per call site, all requested quantiles together. */
  def quantile(q: Double): Double = quantiles(Seq(q)).head

  def quantiles(qs: Seq[Double]): Seq[Double] = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      "quantiles must be in [0, 1]")
    aggScalar(percentile(frame.colAt(0), typedlit(qs))) match {
      case null => Seq.fill(qs.length)(Double.NaN) // empty input → NaN (pandas)
      case s => s.asInstanceOf[scala.collection.Seq[Double]].toSeq
    }
  }

  /** pandas replace with a mapping: when-chain over the keys, unmapped
    * values pass through. Codegen'd projection, zero shuffle. */
  def replace(mapping: Seq[(Any, Any)]): Series = {
    require(mapping.nonEmpty, "replace needs a non-empty mapping")
    new Series(frame.mapCols((v, _, _) =>
      mapping.tail.foldLeft(
        when(v === Semantics.literal(mapping.head._1).col,
          Semantics.literal(mapping.head._2).col)) {
        case (acc, (k, out)) =>
          acc.when(v === Semantics.literal(k).col, Semantics.literal(out).col)
      }.otherwise(v)))
  }

  /** pandas Series.map with a mapping: like [[replace]] but UNMAPPED
    * values become NULL (pandas maps them to NaN), matching dict.get. */
  def map(mapping: Seq[(Any, Any)]): Series = {
    require(mapping.nonEmpty, "map needs a non-empty mapping")
    new Series(frame.mapCols((v, _, _) =>
      mapping.tail.foldLeft(
        when(v === Semantics.literal(mapping.head._1).col,
          Semantics.literal(mapping.head._2).col)) {
        case (acc, (k, out)) =>
          acc.when(v === Semantics.literal(k).col, Semantics.literal(out).col)
      }))
  }

  /** pandas any()/all() over a boolean Series (NULLs ignored, empty →
    * false/true like pandas' default skipna). */
  def any(): Boolean =
    aggScalar(coalesce(org.apache.spark.sql.functions
      .max(frame.colAt(0).cast(BooleanType)), lit(false)))
      .asInstanceOf[Boolean]
  def all(): Boolean =
    aggScalar(coalesce(org.apache.spark.sql.functions
      .min(frame.colAt(0).cast(BooleanType)), lit(true)))
      .asInstanceOf[Boolean]

  /** pandas mode(), first value only: most frequent value, smallest value
    * on ties (deterministic). One groupBy + TakeOrderedAndProject. */
  def mode(): Any = {
    val rows = frame.df.groupBy(frame.dataExprs(0).as("__v"))
      .agg(count(lit(1)).as("__n"))
      .orderBy(scol("__n").desc, scol("__v").asc)
      .limit(1).collect()
    if (rows.isEmpty) null else rows(0).get(0)
  }

  /** pandas cut: fixed-edge binning into right-closed intervals (lo, hi];
    * out-of-range and NULL inputs → NULL. Pure when-chain over the fused
    * projection — codegen'd, zero shuffle. */
  def cut(edges: Seq[Double], labels: Seq[String] = Nil): Series = {
    val pairs = edges.zip(edges.tail)
    require(pairs.nonEmpty && pairs.forall { case (a, b) => a < b },
      "edges must be strictly increasing with at least two entries")
    val labs = if (labels.isEmpty)
      pairs.map { case (a, b) => s"($a, $b]" } else labels
    require(labs.length == pairs.length, "need one label per interval")
    new Series(frame.mapCols((v, _, _) =>
      pairs.tail.zip(labs.tail).foldLeft(
        when(v > pairs.head._1 && v <= pairs.head._2, lit(labs.head))) {
        case (acc, ((a, b), l)) => acc.when(v > a && v <= b, lit(l))
      }))
  }

  /** pandas qcut: quantile binning. Edges come from ONE exact `percentile`
    * aggregate pass; the binning itself is a codegen'd when-chain. The
    * lowest bin absorbs the minimum (pandas include_lowest). */
  def qcut(k: Int, prefix: String = "q"): Series = {
    require(k >= 2, "qcut needs k >= 2")
    val edges = quantiles((1 until k).map(_.toDouble / k))
    new Series(frame.mapCols((v, _, _) => {
      val nullArm = when(v.isNull, lit(null).cast(StringType))
      (0 until k - 1).foldLeft(nullArm)((acc, i) =>
        acc.when(v <= edges(i), lit(s"$prefix${i + 1}")))
        .otherwise(lit(s"$prefix$k"))
    }))
  }

  /** Top/bottom n by value (pandas nlargest/nsmallest): plans as
    * TakeOrderedAndProject — a per-partition bounded selection, never a
    * global sort materialization. Ties break by index for determinism. */
  def nlargest(n: Int): Series = ordered(n, descending = true)
  def nsmallest(n: Int): Series = ordered(n, descending = false)

  private def ordered(n: Int, descending: Boolean): Series = {
    val v = frame.colAt(0)
    val ord = (if (descending) v.desc_nulls_last else v.asc_nulls_last) +:
      (0 until frame.nIdx).map(i => frame.idxCols(i).asc)
    new Series(frame.rePhysical(frame.df.orderBy(ord: _*).limit(n)))
  }

  /** Index value of the max/min element (pandas idxmax/idxmin). Ties
    * break by lowest index value (pandas keeps first ROW-order
    * occurrence; a distributed table's only stable order is the index) —
    * computed as a top-1, so it plans as TakeOrderedAndProject, no global
    * sort materialization. */
  def idxmax(): Any = idxBy(desc = true)
  def idxmin(): Any = idxBy(desc = false)

  private def idxBy(desc: Boolean): Any = {
    val v = frame.colAt(0)
    val ord = (if (desc) v.desc_nulls_last else v.asc_nulls_last) +:
      (0 until frame.nIdx).map(i => frame.idxCols(i).asc)
    val r = frame.df.orderBy(ord: _*).limit(1).collect()
    if (r.isEmpty) throw new GraftValueError("attempt to get argmax of an empty sequence")
    if (frame.isMultiIndex) r.head.toSeq.take(frame.nIdx) else r.head.get(0)
  }
}

private[graft] trait SetOpsExtensions { this: DataFrame =>
  private def align(other: DataFrame): (SDF, SDF) = {
    require(frame.colLabels == other.frame.colLabels,
      "set operations require identical column labels")
    (toSpark(includeIndex = false), other.toSpark(includeIndex = false))
  }

  /** Row union (bag semantics; pandas concat without index). */
  def unionAll(other: DataFrame): DataFrame = {
    val (l, r) = align(other); DataFrame.fromSpark(l.unionByName(r))
  }

  def intersect(other: DataFrame): DataFrame = {
    val (l, r) = align(other); DataFrame.fromSpark(l.intersect(r))
  }

  def except(other: DataFrame): DataFrame = {
    val (l, r) = align(other); DataFrame.fromSpark(l.except(r))
  }

  /** pandas set_index: promote data columns to index levels (promoted
    * columns leave the data side, pandas drop=True). A lazy relabel over
    * the current view — zero jobs, zero shuffles. */
  def setIndex(cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "set_index needs at least one column")
    val sdf = toSpark(includeIndex = false)
    cols.find(c => !sdf.columns.contains(c))
      .foreach(c => throw new GraftKeyError(s"'$c'"))
    DataFrame.fromSpark(sdf, index = cols)
  }

  /** pandas reset_index: demote every index level to a data column and
    * install a fresh synthetic rowid index. Unnamed levels materialize as
    * index_0.. (their physical names), like pandas' level_0.. */
  def resetIndex(): DataFrame =
    DataFrame.fromSpark(toSpark(includeIndex = true))

  /** pandas .loc scalar row lookup: filter to one index value. An index
    * equality predicate — pushes to the scan like any filter. */
  def loc(key: Any): DataFrame =
    new DataFrame(frame.whereExpr(
      frame.idxExprs(0) === Semantics.literal(key).col))

  /** pandas DataFrame.where(cond, other): KEEP shape, replacing cells of
    * rows where the mask is false with `other` (null default) — unlike
    * [[where]], which drops rows. Same-base masks only (the common
    * `df.where(df.x > 5)` form): the conditional fuses into the one
    * projection over the scan. Align foreign masks first. */
  def whereValues(mask: Series, other: Any = null): DataFrame = {
    if (!frame.fusesWith(mask.frame))
      throw new GraftValueError(
        "whereValues needs a same-base mask; align it onto this frame first")
    val m = mask.frame.dataExprs(0)
    val o = if (other == null) lit(null) else Semantics.literal(other).col
    new DataFrame(frame.mapCols((c, _, _) => when(m, c).otherwise(o)))
  }

  /** pandas DataFrame.mask(cond, other): complement of [[whereValues]]. */
  def maskValues(mask: Series, other: Any = null): DataFrame = {
    if (!frame.fusesWith(mask.frame))
      throw new GraftValueError(
        "maskValues needs a same-base mask; align it onto this frame first")
    val m = mask.frame.dataExprs(0)
    val o = if (other == null) lit(null) else Semantics.literal(other).col
    new DataFrame(frame.mapCols((c, _, _) => when(m, o).otherwise(c)))
  }

  /** Engine-exact Pearson correlation for every column pair, computed
    * from DECIMAL power sums (Σx, Σy, Σxy, Σx², Σy² exact, combined in
    * ONE double formula) — bit-reproducible across engines and
    * aggregation orders, unlike streaming one-pass corr whose merge order
    * leaks into the low bits. One aggregate pass for ALL pairs, then a
    * stack to long form (col_a, col_b, corr). */
  def corrMatrix(): DataFrame = {
    val sdf = toSpark(includeIndex = false)
    val cols = sdf.columns.toSeq
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    def d(c: String) = scol(c).cast(DecimalType(18, 6))
    def p(a: String, b: String) = (d(a) * d(b)).cast(DecimalType(38, 12))
    val fsum: Column => Column = org.apache.spark.sql.functions.sum
    val aggs = pairs.zipWithIndex.flatMap { case ((a, b), k) =>
      Seq(fsum(p(a, b)).cast("double").as(s"sxy_$k"),
        fsum(d(a)).cast("double").as(s"sx_$k"),
        fsum(d(b)).cast("double").as(s"sy_$k"),
        fsum(p(a, a)).cast("double").as(s"sxx_$k"),
        fsum(p(b, b)).cast("double").as(s"syy_$k"),
        org.apache.spark.sql.functions.count(lit(1)).cast("double").as(s"n_$k"))
    }
    val one = sdf.agg(aggs.head, aggs.tail: _*)
    // one row of exact sums → p corr doubles → stack to long form; the
    // aggregate runs ONCE (a per-pair union of selects would re-execute it)
    val corrRow = one.select(pairs.indices.map { k =>
      ((scol(s"n_$k") * scol(s"sxy_$k") - scol(s"sx_$k") * scol(s"sy_$k")) /
        sqrt((scol(s"n_$k") * scol(s"sxx_$k") - scol(s"sx_$k") * scol(s"sx_$k")) *
          (scol(s"n_$k") * scol(s"syy_$k") - scol(s"sy_$k") * scol(s"sy_$k"))))
        .as(s"c_$k")
    }: _*)
    val stackArgs = pairs.zipWithIndex
      .map { case ((a, b), k) => s"'$a', '$b', c_$k" }.mkString(", ")
    DataFrame.fromSpark(corrRow.selectExpr(
      s"stack(${pairs.length}, $stackArgs) AS (col_a, col_b, corr)"))
  }

  /** pandas get_dummies with explicit categories: one-hot a string column
    * into 0/1 int columns named `{prefix}_{category}`, dropping the source
    * column. Explicit categories keep this a pure projection (one streamed
    * pass, no distinct pre-scan, schema known at plan time — the form that
    * scales); pass the label set a pandas Categorical would carry. NULLs
    * get all-zero rows (pandas dummy_na=False). */
  def getDummies(column: String, categories: Seq[String],
                 prefix: Option[String] = None): DataFrame = {
    if (!frame.colLabels.contains(Some(column)))
      throw new GraftKeyError(s"'$column'")
    require(categories.nonEmpty, "get_dummies needs explicit categories")
    val p = prefix.getOrElse(column)
    val sdf = toSpark(includeIndex = true)
    val idxNames = sdf.columns.take(frame.nIdx).toSeq
    val dummies = categories.map(c =>
      when(scol(column) === lit(c), 1).otherwise(0).as(s"${p}_$c"))
    val keep = sdf.columns.filterNot(_ == column).map(scol).toSeq
    DataFrame.fromSpark(sdf.select(keep ++ dummies: _*), index = idxNames)
  }

  /** Sink: write the labeled view as parquet (the reference has no sinks —
    * API_COVERAGE.md:320-332 — but Verify's contract and any real user
    * need one). `partitionBy` hive-partitions the output (the layout a
    * training pipeline wants for per-lang / per-shard reads: partition
    * pruning happens at file-listing time). */
  def writeParquet(path: String, includeIndex: Boolean = true,
                   mode: String = "overwrite",
                   partitionBy: Seq[String] = Nil): Unit = {
    val w = toSpark(includeIndex).write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** Sink: ORC with the same layout contract as [[writeParquet]]. */
  def writeOrc(path: String, includeIndex: Boolean = true,
               mode: String = "overwrite",
               partitionBy: Seq[String] = Nil): Unit = {
    val w = toSpark(includeIndex).write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .orc(path)
  }

  /** Sink: CSV with a header (interchange, not lake storage). */
  def writeCsv(path: String, includeIndex: Boolean = true,
               mode: String = "overwrite",
               options: Map[String, String] = Map("header" -> "true")): Unit =
    toSpark(includeIndex).write.mode(mode).options(options).csv(path)

  /** Sink: JSON lines. Crawl-style compressed output via
    * `options = Map("compression" -> "gzip")` (or zstd/snappy —
    * whatever codecs the runtime ships); Spark decompresses
    * transparently on read, so the round-trip needs no reader change. */
  def writeJson(path: String, includeIndex: Boolean = true,
                mode: String = "overwrite",
                options: Map[String, String] = Map.empty): Unit =
    toSpark(includeIndex).write.mode(mode).options(options).json(path)
}

object Frames {
  /** Row-wise concatenation with outer label alignment (pandas concat,
    * sort=False: labels in order of first appearance). Indexes are
    * preserved (possibly duplicated), like pandas. */
  def concat(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "concat of empty list")
    val nIdx = frames.head.frame.nIdx
    require(frames.forall(_.frame.nIdx == nIdx),
      "concat requires equal index depth")
    val labels = frames.foldLeft(IndexedSeq.empty[Option[String]]) {
      (acc, f) => acc ++ f.frame.colLabels.filterNot(acc.contains)
    }
    val parts = frames.map { f =>
      val sel = (0 until nIdx).map(i => scol(SqlFrame.idxName(i))) ++
        labels.zipWithIndex.map { case (lbl, k) =>
          val i = f.frame.colLabels.indexOf(lbl)
          (if (i < 0) lit(null) else scol(SqlFrame.colName(i))).as(SqlFrame.colName(k))
        }
      f.frame.df.select(sel: _*)
    }
    new DataFrame(SqlFrame.fromPhysical(frames.head.frame.indexNames, labels,
      parts.reduce(_.unionByName(_))))
  }
}
