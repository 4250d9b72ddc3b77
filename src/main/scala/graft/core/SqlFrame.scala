package graft.core

import org.apache.spark.sql.{Column, DataFrame => SDF, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Internal positional frame — the Spark-native analog of the reference's
  * `BaseFrame(_index, _columns, _cte)` (reference base.py:6-23).
  *
  * Representation: a physical `base` plan plus index/data *expressions over
  * that base*. Where the reference wraps a new CTE around the previous one
  * per op (base.py:67; SURVEY.md §1.1), we compose Column expression trees
  * client-side and only emit one `select` when the plan is consumed. This
  * buys something Catalyst cannot recover on its own: two frames derived
  * from the SAME base (e.g. `df("a")` and `df("b")`) combine as a single
  * zero-shuffle projection instead of a full-outer self-join on the index —
  * the difference between a map stage and a full shuffle at 100 TB.
  *
  * The materialized `df` carries exactly `indexNames.length` index columns
  * named `__idx_0 ..` followed by `colLabels.length` data columns named
  * `__col_0 ..`. Labels are client-side metadata (so duplicate / null
  * pandas labels are representable — base.py:21-23); data columns are
  * always addressed by ordinal, never by label-derived Spark name
  * (SURVEY.md §7.4 item 3).
  */
final class SqlFrame private (
    val indexNames: IndexedSeq[Option[String]],
    val colLabels: IndexedSeq[Option[String]],
    /** Physical anchor plan. Reference identity (`eq`) of this object is the
      * fusion token: same base + same index exprs → frames are row-aligned
      * by construction and combine projection-only. */
    val base: SDF,
    val idxExprs: IndexedSeq[Column],
    val dataExprs: IndexedSeq[Column]) {

  def nIdx: Int = indexNames.length
  def nCols: Int = colLabels.length
  def isMultiIndex: Boolean = nIdx > 1 // base.py:14-16

  /** Materialized positional view: `__idx_i ++ __col_i` over base. */
  lazy val df: SDF = {
    val sel = idxExprs.zipWithIndex.map { case (e, i) => e.as(SqlFrame.idxName(i)) } ++
      dataExprs.zipWithIndex.map { case (e, i) => e.as(SqlFrame.colName(i)) }
    base.select(sel: _*)
  }

  private lazy val schema: StructType = df.schema

  def idxCols: IndexedSeq[Column] =
    (0 until nIdx).map(i => col(SqlFrame.idxName(i)))

  /** colAt(-1) => SQL NULL — the missing-column sentinel used in outer
    * column alignment (base.py:43-44, alchemy.py:192). Resolves against
    * the materialized [[df]]. */
  def colAt(i: Int): Column =
    if (i < 0) lit(null) else col(SqlFrame.colName(i))

  def colType(i: Int): DataType =
    if (i < 0) NullType else schema(SqlFrame.colName(i)).dataType

  /** Can `other` be combined with this frame without an alignment join?
    * True iff both are expression views over the *same* base plan with
    * structurally identical index expressions. */
  def fusesWith(other: SqlFrame): Boolean =
    (base eq other.base) && nIdx == other.nIdx &&
      idxExprs.zip(other.idxExprs).forall { case (a, b) =>
        // structural equality on the Catalyst ASTs (via the private[sql]
        // bridge) — robust across Spark versions, unlike the string
        // rendering; a false negative only costs an alignment join
        org.apache.spark.sql.GraftSqlBridge.expression(a)
          .semanticEquals(org.apache.spark.sql.GraftSqlBridge.expression(b))
      }

  /** Resolve a level reference (name or wrapped ordinal) to its ordinal.
    * Mirrors `_lvl_at` including the exact IndexError texts (base.py:25-37). */
  def levelAt(level: Any): Int = {
    val n = nIdx
    val i0 = level match {
      case s: String if indexNames.contains(Some(s)) =>
        indexNames.indexOf(Some(s))
      case i: Int => if (i < 0) n + i else i
      case other => throw new GraftKeyError(s"Level $other not found")
    }
    if (i0 < 0)
      throw new GraftIndexError(
        s"Too many levels: Index has only $n levels, $i0 is not a valid level number")
    if (i0 >= n)
      throw new GraftIndexError(s"Too many levels: Index has only $n levels, not $i0")
    i0
  }

  /** Replace data columns via a per-column expression builder, preserving
    * base and index — the `_app` projection engine (generic.py:64-67).
    * Stays on the same base: chains of unary/scalar ops never re-plan. */
  def mapCols(f: (Column, DataType, Int) => Column): SqlFrame =
    new SqlFrame(indexNames, colLabels, base, idxExprs,
      (0 until nCols).map(i => f(dataExprs(i), colType(i), i)))

  /** Same base/index, new data expressions (over [[base]]). */
  def withDataExprs(newLabels: IndexedSeq[Option[String]], exprs: Seq[Column]): SqlFrame = {
    require(newLabels.length == exprs.length)
    new SqlFrame(indexNames, newLabels, base, idxExprs, exprs.toIndexedSeq)
  }

  /** Project a subset/reordering of data columns by ordinal — metadata-only. */
  def selectOrdinals(ords: Seq[Int]): SqlFrame =
    withDataExprs(ords.map(colLabels).toIndexedSeq, ords.map(dataExprs))

  /** Data-expression of ordinal i over base, or NULL for -1. */
  def dataExprAt(i: Int): Column = if (i < 0) lit(null) else dataExprs(i)

  /** Rewrite index expressions in place (Series add_prefix/add_suffix —
    * a real projection over index values, alchemy.py:470-478). */
  def mapIdx(f: (Column, Int) => Column): SqlFrame =
    new SqlFrame(indexNames, colLabels, base,
      idxExprs.zipWithIndex.map { case (e, i) => f(e, i) }, dataExprs)

  /** Re-anchor on a transformed physical view (limit/offset/join results):
    * the new frame's base is `newDf` (positional names) with identity
    * expressions. */
  def rePhysical(newDf: SDF): SqlFrame =
    SqlFrame.fromPhysical(indexNames, colLabels, newDf)

  /** Filter rows by a predicate expressed over [[base]] (boolean masking).
    * The filtered base is a new fusion anchor; expressions carry over
    * unchanged, and the predicate sits directly above the scan so Catalyst
    * pushes it into the source. */
  def whereExpr(cond: Column): SqlFrame =
    new SqlFrame(indexNames, colLabels, base.where(cond), idxExprs, dataExprs)

  def count(): Long = df.count() // generic.py:8-10
}

object SqlFrame {
  def idxName(i: Int): String = s"__idx_$i"
  def colName(i: Int): String = s"__col_$i"

  /** Physical names for the RIGHT side of a binary join, so self-joins and
    * name collisions are impossible (the Spark analog of the reference's
    * CTE aliasing, alchemy.py:202-204). */
  def rIdxName(i: Int): String = s"__ridx_$i"
  def rColName(i: Int): String = s"__rcol_$i"

  /** Rename a frame's physical columns to the right-side naming scheme. */
  def asRight(f: SqlFrame): SDF = {
    val sel = (0 until f.nIdx).map(i => col(idxName(i)).as(rIdxName(i))) ++
      (0 until f.nCols).map(i => col(colName(i)).as(rColName(i)))
    f.df.select(sel: _*)
  }

  /** Wrap a DataFrame that already uses positional `__idx_i`/`__col_i`
    * physical names. */
  def fromPhysical(indexNames: IndexedSeq[Option[String]],
                   colLabels: IndexedSeq[Option[String]], df: SDF): SqlFrame =
    new SqlFrame(indexNames, colLabels, df,
      indexNames.indices.map(i => col(idxName(i))),
      colLabels.indices.map(i => col(colName(i))))

  /** Attach positional structure to an arbitrary Spark DataFrame.
    * `indexCols` are promoted to index levels (from_table(index=...),
    * alchemy.py:335-341); when empty a synthetic unnamed index is attached
    * (the analog of row_number()-1, alchemy.py:332-334) as a LAZY
    * `monotonically_increasing_id()`: unique, ordered by (partition, row),
    * no job at construction and no single-partition window at any scale.
    * Values are not contiguous 0..n-1 — the same ordering caveat the
    * reference accepts for its unordered `row_number() OVER ()`
    * (SURVEY.md §7.4 item 1); use [[Align.zipWithRowId]] (exposed as
    * `DataFrame.withSequentialIndex`) when contiguous positions matter. */
  def fromSpark(df: SDF, indexCols: Seq[String] = Nil,
                dataCols: Seq[String] = Nil): SqlFrame = {
    val allCols = df.columns.toIndexedSeq
    (indexCols ++ dataCols).foreach { c =>
      if (!allCols.contains(c)) throw new GraftKeyError(s"'$c'")
    }
    val data: IndexedSeq[String] =
      if (dataCols.nonEmpty) dataCols.toIndexedSeq
      else allCols.filterNot(indexCols.contains)
    if (indexCols.nonEmpty)
      new SqlFrame(indexCols.map(Some(_)).toIndexedSeq, data.map(Some(_)), df,
        indexCols.map(col).toIndexedSeq, data.map(col))
    else
      new SqlFrame(IndexedSeq(None), data.map(Some(_)), df,
        IndexedSeq(monotonically_increasing_id()), data.map(col))
  }

  /** Build a frame from local values — the analog of
    * `Series.from_list` / `from_pandas` (alchemy.py:493-517): a local
    * relation, not a UNION ALL chain. */
  def fromLocal(spark: SparkSession, indexValues: Seq[Any], values: Seq[Any],
                name: Option[String], indexName: Option[String] = None): SqlFrame = {
    val idxDt = inferType(indexValues)
    val valDt = inferType(values)
    val schema = StructType(Seq(
      StructField(idxName(0), idxDt, nullable = true),
      StructField(colName(0), valDt, nullable = true)))
    val rows = indexValues.zip(values).map { case (i, v) => Row(i, v) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
    fromPhysical(IndexedSeq(indexName), IndexedSeq(name), df)
  }

  def inferType(values: Seq[Any]): DataType = {
    values.collectFirst {
      case _: Int => IntegerType
      case _: Long => LongType
      case _: Double => DoubleType
      case _: Float => FloatType
      case _: Short => ShortType
      case _: Boolean => BooleanType
      case _: String => StringType
      case _: java.math.BigDecimal => DecimalType(38, 18)
      case _: java.sql.Timestamp => TimestampType
      case _: java.sql.Date => DateType
    }.getOrElse(StringType)
  }
}
