package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.tools.BoxSentinel

/** One benchmark run in one JVM: start a [[GraftSession]], run the
  * workload's queries once as the cold warm-up that also dumps every
  * result for the oracle check, `--settle` more untimed passes so the
  * timed passes start warm, then closed-loop passes over the query list.
  * With `--trace 1` every timed pass is paired with a pass that has
  * [[Tracer]] registered, in the order untraced-traced, traced-untraced,
  * ..., so neither kind runs consistently warmer. The loop runs at least
  * `--passes` whole passes (pairs) and `--seconds`.
  * Writes `result.json` and `oracle_sql.json` to `--out`.
  *
  * Arguments (all required): --queries q_a,q_b --inputs DIR --out DIR
  * --seed N --seconds S --settle N --passes N --trace 0|1 --cpus N */
object Harness {
  final case class Exec(name: String, wallS: Double, error: Option[String],
                        layers: Map[String, Double] = Map.empty)
  /** One pass over the query list; `seconds` includes the tracer's
    * listener-bus drains, so tracing overhead shows in it. */
  final case class Pass(seconds: Double, execs: Seq[Exec])

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs: Double = gcBeans.map(_.getCollectionTime).sum.toDouble

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = opt("queries").split(',').toSeq
    val (inputs, out) = (opt("inputs"), opt("out"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val minPasses = opt("passes").toInt
    val builders = names.map(n => n -> SparkEntry.queries(n)).toMap
    val (jvms0, load0) = (BoxSentinel.jvmCount(), BoxSentinel.loadAvg())

    val t0 = System.nanoTime()
    val spark = GraftSession.getOrCreate(s"local[${opt("cpus")}]")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    var pass = 0
    def runPass(sink: (String, DataFrame) => Unit, tracer: Option[Tracer]): Pass = {
      val leftover = catalogEntries(spark)
      require(leftover.isEmpty,
        s"catalog not empty at the start of pass $pass: ${leftover.mkString(",")}")
      // the seed fixes the query order of every pass
      val order = new Random(seed * 1000003L + pass).shuffle(names)
      pass += 1
      val p0 = System.nanoTime()
      val execs = order.map(n => runOne(spark, n, builders(n), inputs, sink, tracer))
      val passS = (System.nanoTime() - p0) / 1e9
      clearCatalog(spark)
      Pass(passS, execs)
    }
    def tracedPass(t: Tracer): Pass = {
      t.register()
      try runPass(noop, Some(t)) finally t.unregister()
    }
    // closed loop: whole passes, at least minPasses and at least `seconds`
    val tracer = if (opt("trace") == "1") Some(new Tracer(spark)) else None
    def loop(): (Seq[Pass], Seq[Pass]) = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val (timed, traced) = (Seq.newBuilder[Pass], Seq.newBuilder[Pass])
      var n = 0
      do {
        tracer match {
          case None => timed += runPass(noop, None)
          case Some(t) if n % 2 == 0 => timed += runPass(noop, None); traced += tracedPass(t)
          case Some(t) => traced += tracedPass(t); timed += runPass(noop, None)
        }
        n += 1
      } while (System.nanoTime() < end || n < minPasses)
      (timed.result(), traced.result())
    }

    val w0 = System.nanoTime()
    val warmup = runPass((n, df) =>
      df.write.mode("overwrite").parquet(s"$out/results/$n"), None)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val settle = (1 to opt("settle").toInt).map(_ => runPass(noop, None))
    val (timed, traced) = loop()
    val (jvms1, load1) = (BoxSentinel.jvmCount(), BoxSentinel.loadAvg())

    def execJson(e: Exec): String =
      s"""{"name":${str(e.name)},"wall_s":${num(e.wallS)},""" +
        s""""error":${e.error.map(str).getOrElse("null")},""" +
        e.layers.map { case (k, v) => s"${str(k)}:${num(v)}" }
          .mkString("\"layers\":{", ",", "}}")
    def passJson(p: Pass): String =
      s"""{"pass_s":${num(p.seconds)},""" +
        p.execs.map(execJson).mkString("\"execs\":[", ",", "]}")
    def passesJson(ps: Seq[Pass]): String = ps.map(passJson).mkString("[", ",", "]")
    write(s"$out/result.json",
      s"""{"session_s":${num(sessionS)},"warmup_s":${num(warmupS)},""" +
        s""""warmup":${passJson(warmup)},"settle":${passesJson(settle)},""" +
        s""""timed":${passesJson(timed)},"traced":${passesJson(traced)},""" +
        s""""sentinel":{${BoxSentinel.jsonFields(jvms0, load0, jvms1, load1)}}}""")
    write(s"$out/oracle_sql.json", names.flatMap(n => SparkEntry.oracleSql.get(n)
      .map(sql => s"${str(n)}:${str(sql)}")).mkString("{", ",", "}"))
    spark.stop()
  }

  private val noop: (String, DataFrame) => Unit =
    (_, df) => df.write.format("noop").mode("overwrite").save()

  /** Runs one query: build (the `SparkEntry` builder call), then
    * materialize through `sink`. The wall time runs until the query ends
    * or fails. With a tracer the per-layer deltas of this execution are
    * attached. */
  def runOne(spark: SparkSession, name: String,
             build: (SparkSession, String) => DataFrame, inputs: String,
             sink: (String, DataFrame) => Unit, tracer: Option[Tracer]): Exec = {
    heapPools.foreach(_.resetPeakUsage())
    val before = tracer.map(_.snapshot())
    val gc0 = gcMs
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var buildNs, runNs, t1 = 0L
    var buildJobs = 0.0
    val error =
      try {
        val df = build(spark, inputs)
        buildNs = System.nanoTime() - t0
        tracer.foreach { t =>
          buildJobs = t.snapshot().getOrElse("scheduler.jobs", 0.0) -
            before.get.getOrElse("scheduler.jobs", 0.0)
        }
        t1 = System.nanoTime()
        sink(name, df)
        runNs = System.nanoTime() - t1
        None
      } catch {
        case e: Throwable =>
          // a failed execution still cost the time until it failed
          if (t1 == 0L) buildNs = System.nanoTime() - t0
          else runNs = System.nanoTime() - t1
          spark.streams.active.foreach(q => scala.util.Try(q.stop()))
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val wall1 = System.currentTimeMillis()
    // build + materialize; the tracer's drain between the two is left out
    val wallS = (buildNs + runNs) / 1e9
    val layers = tracer.map { t =>
      val after = t.snapshot()
      val delta = after.map { case (k, v) => k -> (v - before.get.getOrElse(k, 0.0)) }
      val wallMs = wallS * 1e3
      val covered = t.jobCoverMs(wall0, wall1)
      delta ++ Map(
        "entry.build_ms" -> buildNs / 1e6,
        "entry.build_jobs" -> buildJobs,
        "scheduler.driver_gap_ms" -> math.max(0.0, wallMs - covered),
        "streaming.lifecycle_ms" ->
          (if (delta.getOrElse("streaming.batches", 0.0) > 0)
            math.max(0.0, wallMs - delta("streaming.trigger_ms")) else 0.0),
        "jvm.gc_ms" -> (gcMs - gc0),
        "jvm.peak_heap_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1e6)
    }.getOrElse(Map.empty)
    Exec(name, wallS, error, layers)
  }

  def catalogEntries(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq

  /** Drops every table and temp view the queries left behind and stops
    * any stream still running, so the next pass starts from nothing. */
  def clearCatalog(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.catalog.listTables().collect().foreach { t =>
      if (t.isTemporary) spark.catalog.dropTempView(t.name)
      else spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else "%.9f".formatLocal(Locale.ROOT, d)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".formatLocal(Locale.ROOT, c.toInt)
    case c => c.toString
  } + "\""

  def write(path: String, json: String): Unit =
    Files.write(Paths.get(path), json.getBytes("UTF-8"))
}
