package graft

import graft.api.{DataFrame, Series}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The pandas-surface names no query calls, checked on a hand-built
  * frame with NULLs against the results pandas 2.2 gives for the same
  * frame (`set_index(["g", "k"])`, None for each NULL). */
class PandasSurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def frame: DataFrame = DataFrame.fromSpark(Seq[
      (Option[String], Long, Option[String], Option[Double])](
      (Some("b"), 2L, Some("apple"), Some(1.0)),
      (Some("a"), 2L, None, Some(2.5)),
      (Some("b"), 1L, Some("banana"), None),
      (Some("a"), 1L, Some("grape"), Some(4.0)),
      (None, 1L, Some("kiwi"), Some(5.0)),
      (Some("a"), 3L, Some("pineapple"), None))
    .toDF("g", "k", "name", "v"), index = Seq("g", "k"))

  /** (g, k) → value of a one-column Series. */
  private def byLabel(s: Series): Map[(String, Long), Any] =
    s.toSpark(includeIndex = true).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.get(2)).toMap

  test("sortIndex on a two-level index + collectRows: pandas order, NULL label last") {
    assert(frame.sortIndex().collectRows() == Seq(
      Row("a", 1L, "grape", 4.0),
      Row("a", 2L, null, 2.5),
      Row("a", 3L, "pineapple", null),
      Row("b", 1L, "banana", null),
      Row("b", 2L, "apple", 1.0),
      Row(null, 1L, "kiwi", 5.0)))
    assert(frame.sortIndex(ascending = false).collectRows() == Seq(
      Row("b", 2L, "apple", 1.0),
      Row("b", 1L, "banana", null),
      Row("a", 3L, "pineapple", null),
      Row("a", 2L, null, 2.5),
      Row("a", 1L, "grape", 4.0),
      Row(null, 1L, "kiwi", 5.0)))
  }

  test("str.startswith / str.endswith: NULL in, NULL out") {
    val f = frame
    assert(byLabel(f("name").str.startswith("ap")) == Map(
      ("b", 2L) -> true, ("a", 2L) -> null, ("b", 1L) -> false,
      ("a", 1L) -> false, (null, 1L) -> false, ("a", 3L) -> false))
    assert(byLabel(f("name").str.endswith("e")) == Map(
      ("b", 2L) -> true, ("a", 2L) -> null, ("b", 1L) -> false,
      ("a", 1L) -> true, (null, 1L) -> false, ("a", 3L) -> true))
  }

  test("isnull ≡ isna and notnull ≡ notna") {
    val f = frame
    val isna = f.isna.sortIndex().collectRows()
    assert(isna == Seq(
      Row("a", 1L, false, false),
      Row("a", 2L, true, false),
      Row("a", 3L, false, true),
      Row("b", 1L, false, true),
      Row("b", 2L, false, false),
      Row(null, 1L, false, false)))
    assert(f.isnull.sortIndex().collectRows() == isna)
    val notna = f.notna.sortIndex().collectRows()
    assert(notna == isna.map(r =>
      Row(r.get(0), r.get(1), !r.getBoolean(2), !r.getBoolean(3))))
    assert(f.notnull.sortIndex().collectRows() == notna)
  }

  test("pipe applies the function to the frame itself") {
    assert(byLabel(frame.pipe(d => d("v") * 2)) == Map(
      ("b", 2L) -> 2.0, ("a", 2L) -> 5.0, ("b", 1L) -> null,
      ("a", 1L) -> 8.0, (null, 1L) -> 10.0, ("a", 3L) -> null))
  }
}
