package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

/** A warm query reuses the classes its previous run compiled.
  *
  * Every pandas call builds a fresh plan, so each run of a query asks
  * codegen for the same generated classes again. They are only found if
  * Spark's generated-class cache holds the whole working set: at Spark's
  * default of 100 entries, a mix of more than 100 distinct classes evicts
  * each class before its next use and recompiles on every run. The set
  * below compiles well over 100 classes cold; its second round must
  * compile none. */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // batch queries whose plans repeat exactly from run to run (157
  // classes cold at sf0.001 on 4 partitions). Not in the set: streams,
  // and q_jaccard_pairs, q_bm25 and q_tfidf, whose adaptive re-planning
  // sometimes differs between runs of one input and then generates a few
  // new classes
  private val names = Seq(
    "q_abs", "q_astype", "q_cmp_null", "q_corr_matrix", "q_describe",
    "q_dropna", "q_duplicated", "q_groupby_agg", "q_head", "q_json_source",
    "q_melt", "q_merge_semi", "q_pivot_sum", "q_pow_mod", "q_round",
    "q_set_ops", "q_tail", "q_where_mask", "q_pq_topk", "q_text_clean")

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Empties Spark's generated-class cache, which Spark keeps private, so
    * the first round compiles the set's classes whatever ran before it in
    * this JVM. */
  private def clearCodegenCache(): Unit = {
    val accessor = CodeGenerator.getClass.getDeclaredMethod("cache")
    accessor.setAccessible(true)
    val cache = accessor.invoke(CodeGenerator)
    val guava = cache.getClass.getMethod("loadingCache").invoke(cache)
    Class.forName("org.sparkproject.guava.cache.Cache")
      .getMethod("invalidateAll").invoke(guava)
  }

  private def round(): Long = {
    val before = compiled
    names.foreach(n =>
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save())
    compiled - before
  }

  test("the session's generated-class cache is GraftSession's size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second round of the same queries compiles no class") {
    clearCodegenCache()
    val cold = round()
    val warm = round()
    assert(cold > 100, s"the set compiles only $cold classes")
    assert(warm == 0, s"the warm round recompiled $warm of $cold classes")
  }
}
