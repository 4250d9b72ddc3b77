package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Print the formatted physical plan of one SparkEntry query at
  * sf0.001 — the interactive companion to [[PlanDigest]] (which pins
  * structural counts): when a digest drifts or a new query lands, this
  * is the "show me the actual plan" loop. JVM lambda objects in the
  * plan (`MapPartitions` arguments such as
  * `Multimodal$$$Lambda$6674/0x…@5f9914a0`) print as `$Lambda`, so two
  * runs diff clean once `#\d+` expression ids are stripped.
  *
  * Run: `sbt "runMain graft.tools.ExplainQuery q_cusum[,dedup,…] [sfDir]"`
  * (query or family names, as `SPARK_GRAFT_ONLY` takes them).
  */
object ExplainQuery {
  private val LambdaObject = """\$+Lambda(\$\d+)?/0x[0-9a-f]+(@[0-9a-f]+)?""".r

  private def normalize(plan: String): String = LambdaObject.replaceAllIn(plan, "\\$Lambda")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainQuery <query_or_family[,…]> [sfDir]")
    val sfDir = if (args.length > 1) args(1) else PlanDigest.DefaultSfDir
    val spark = graft.GraftSession.getOrCreate("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    // non-adaptive, like PlanDigest: the deterministic pre-AQE artifact
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    graft.SparkEntry.select(args(0)).foreach { name =>
      println(s"=== $name ===")
      println(normalize(graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)))
    }
    spark.stop()
  }
}
