package graft.tools

/** Plan inspector: `runMain graft.tools.Explain <query> [sfDir]` prints the
  * formatted physical plan for one SparkEntry query — the iterate-on-plans
  * loop the brief asks for (pushdown, exchange reuse, codegen spans). */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.builder("local[8]", 8)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("GRAFT_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    // run it, then print the adaptive executed plan — AQE's exchange/stage
    // reuse decisions only exist at runtime
    val n = df.count()
    println(s"=== rows: $n ===")
    println(df.queryExecution.executedPlan.toString.take(8000))
    spark.stop()
  }
}
