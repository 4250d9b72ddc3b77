package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-JOB wall-clock breakdown of one SparkEntry query — the
  * measurement instrument for telling "many tiny jobs" (harness/job
  * floor, scratch round-trips, counts) apart from "one expensive
  * stage" (real operator cost). Guide §1: decide whether the time is
  * scheduler/jobs or compute BEFORE touching the code.
  *
  * Run: `sbt "runMain graft.tools.JobProfile q_node2vec[,dedup,…] [sfDir] [reps]"`
  * (query or family names, as `SPARK_GRAFT_ONLY` takes them).
  * Prints, after a warm-up rep, one line per job (duration, #stages,
  * #tasks, task-time sum, callsite) plus a total and the gap between
  * wall and Σjobs (driver-side planning/IO between jobs).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <query_or_family[,…]> [sfDir] [reps]")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class Job(id: Int, start: Long, var end: Long = -1L,
                         site: String)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => execSites.put(x.executionId, x.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // `callSite.short` is unset on these jobs, and AQE submits most
        // of them from a thread pool whose frames name no caller: take
        // the call site of the SQL execution the job runs for, else the
        // name of its result stage (named after the job's call site)
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSites.get(id.toLong)))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
        jobs.put(e.jobId, Job(e.jobId, e.time, site = site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
    }

    val names = graft.SparkEntry.select(args(0))
    names.foreach { name =>
      val q = graft.SparkEntry.queries(name)
      // warm-up rep: JVM/codegen/file-listing costs land here
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.sparkContext.addSparkListener(listener)
      var r = 0
      while (r < reps) {
        jobs.clear()
        val t0 = System.nanoTime()
        q(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wallMs = (System.nanoTime() - t0) / 1e6
        Thread.sleep(200) // let the listener bus drain job-end events
        val js = jobs.values().toArray(Array.empty[Job]).sortBy(_.id)
        println(s"=== $name rep$r wall=${wallMs.round}ms jobs=${js.length} ===")
        var sum = 0L
        js.foreach { j =>
          val d = if (j.end >= 0) j.end - j.start else -1
          if (d >= 0) sum += d
          println(f"  job ${j.id}%4d ${d}%6d ms  ${j.site}")
        }
        println(f"  sum(jobs)=${sum}ms gap(driver)=${wallMs.round - sum}ms")
        r += 1
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    spark.stop()
  }
}
