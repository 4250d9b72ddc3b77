package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.time.Duration
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.SparkEntry

/** Scale-slope harness over the query registry: for each scale k it
  * writes a k× copy of the testdata directory ([[writeScaled]]), runs
  * the selected registry queries against it exactly as Bench does (one
  * [[BoxSentinel.timedNoop]] each) and prints one JSON line of
  * seconds, GC seconds and peak heap MB per (query, scale), plus the
  * [[Skipped]] queries with their reasons.
  *
  * The copies add work without planting cross-copy near-duplicates
  * (which would make every LSH family legitimately quadratic in the
  * copy count and measure the corpus, not the operator): each text copy
  * goes through its own alphabet rotation (word/length statistics
  * preserved, shingle sets disjoint across copies), and each embedding
  * copy through its own deterministic sign-flip pattern (norms
  * preserved, cosines decorrelated).
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_SWEEP_SCALES=1,5,10
  * SPARK_GRAFT_ONLY=dedup sbt "runMain graft.tools.ScaleSweep"`
  */
object ScaleSweep {

  /** Queries a scaled directory cannot measure, with the reason: their
    * slope would be flat or would measure the replication, not the
    * operator. */
  val Skipped: Map[String, String] = {
    def capped(n: Int) = s"builder caps the corpus at id < $n, so copies >= 1 are filtered away"
    val partOnly = "reads only part, which is linked, not replicated"
    Map(
      "q_edit_pairs" -> capped(100), "q_spans" -> capped(100),
      "q_dedup_pipeline" -> capped(150), "q_dedup_provenance" -> capped(150),
      "q_fuzzy_linkage" -> partOnly, "q_entities" -> partOnly,
      "q_bm25_compact" -> capped(1000), "q_bm25_delete" -> capped(1000),
      "q_image_dedup2" -> capped(120), "q_image_index" -> capped(100),
      "q_image_clusters" -> capped(60), "q_stream_image" -> capped(60))
  }

  /** The tables [[writeScaled]] replicates; every other table is linked. */
  val Replicated: Seq[String] = Seq("documents", "embeddings", "events")

  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Writes the k× testdata directory `outDir` from `srcDir`. Copy i of
    * `documents`, `embeddings` and `events` shifts its ids by i·10⁷
    * (`event_id` by i·10⁹); `documents.text` is rotated by i letters,
    * `embeddings.embedding` multiplied by a per-copy sign pattern, and
    * `events.ts` jittered by i µs (less than any gap or period under
    * test, so orderings inside a key stay realistic). Every column and
    * type is kept. The other tables are symlinked. Rotations repeat
    * after 26 copies, so k is at most 26. */
  def writeScaled(spark: SparkSession, srcDir: String, k: Int, outDir: String): Unit = {
    require(k >= 1 && k <= 26, s"scale $k outside 1..26 (the text rotations repeat)")
    def replicate(name: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      (0 until k).map(copy(src, _)).reduce(_ unionAll _)
        .select(src.schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
        .write.parquet(s"$outDir/$name.parquet")
    }
    def shift(c: String, by: Long) = col(c) + lit(by)
    replicate("documents") { (d, i) =>
      d.withColumn("doc_id", shift("doc_id", i * 10000000L))
        .withColumn("text", translate(col("text"), Alpha,
          Alpha.drop(i) + Alpha.take(i)))
    }
    replicate("embeddings") { (e, i) =>
      // flips ~half the dims, so copies of one vector have near-zero
      // pairwise cosine
      val signs = Seq.tabulate(64)(j =>
        if (((j * 2654435761L + i * 40503L) & 4L) == 0L) 1.0f else -1.0f)
      e.withColumn("vec_id", shift("vec_id", i * 10000000L))
        .withColumn("embedding",
          zip_with(col("embedding"), typedlit(signs), (x, s) => x * s))
    }
    replicate("events") { (ev, i) =>
      val ts = ev.schema("ts").dataType match {
        case TimestampType | TimestampNTZType => col("ts") + lit(Duration.ofNanos(i * 1000L))
        case _ => shift("ts", i * 1000L) // the epoch-ns vintage
      }
      ev.withColumn("user_id", shift("user_id", i * 10000000L))
        .withColumn("event_id", shift("event_id", i * 1000000000L))
        .withColumn("ts", ts)
    }
    Using.resource(Files.list(Paths.get(srcDir)))(_.toArray(n => new Array[Path](n)))
      .filterNot(p => Replicated.exists(t => p.getFileName.toString == s"$t.parquet"))
      .foreach(p => Files.createSymbolicLink(Paths.get(outDir, p.getFileName.toString),
        p.toAbsolutePath))
  }

  /** Deletes a tree without following its symlinks. */
  def deleteTree(root: Path): Unit =
    Using.resource(Files.walk(root))(_.toArray(n => new Array[Path](n)))
      .reverse.foreach(Files.delete)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // e.g. SPARK_GRAFT_SWEEP_SCALES=1,10,20 (20× sf0.1 ≈ the sf2 tier)
    val scales = sys.env.get("SPARK_GRAFT_SWEEP_SCALES")
      .map(_.split(',').map(_.trim.toInt).toSeq).getOrElse(Seq(1, 2, 5, 10))
    val (skipped, run) = SparkEntry.all.filter(q => SparkEntry.isSelected(q.name))
      .partition(q => Skipped.contains(q.name))
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (jvms0, load0) = (BoxSentinel.jvmCount(), BoxSentinel.loadAvg())

    // warmup: every query once on the source directory, so JVM startup
    // and each plan's first codegen are not billed to its 1× point
    run.foreach(q => BoxSentinel.timedNoop("scale", q.name)(q.build(spark, sfDir)))
    val byScale = scales.map { k =>
      val dir = Files.createTempDirectory(s"graft-scale-${k}x-")
      try {
        writeScaled(spark, sfDir, k, dir.toString)
        run.map { q =>
          val p @ (s, g, m) = BoxSentinel.timedNoop("scale", s"${q.name} ${k}x")(
            q.build(spark, dir.toString))
          System.err.println(
            f"[scale] ${q.name}%-22s ${k}%2dx  $s%7.2f s  gc $g%5.2f s  peak $m%6.0f MB")
          p
        }
      } finally deleteTree(dir)
    }
    val (jvms1, load1) = (BoxSentinel.jvmCount(), BoxSentinel.loadAvg())

    // a point that threw is recorded as null and named in not_finished
    def render(f: ((Double, Double, Double)) => Double): String =
      run.indices.map { i =>
        "\"" + run(i).name + "\":" + byScale.map(pts =>
          if (pts(i)._1 < 0) "null" else "%.2f".formatLocal(java.util.Locale.ROOT, f(pts(i))))
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val notFinished = run.indices.flatMap { i =>
      val ks = scales.indices.filter(j => byScale(j)(i)._1 < 0).map(scales)
      if (ks.isEmpty) None else Some("\"" + run(i).name + "\":" + ks.mkString("[", ",", "]"))
    }.mkString("{", ",", "}")
    val skips = skipped.map(q => "\"" + q.name + "\":\"" + Skipped(q.name) + "\"")
      .mkString("{", ",", "}")
    val sentinel = BoxSentinel.jsonFields(jvms0, load0, jvms1, load1)
    println(s"""{"metric":"scale_sweep","sf":"$sfDir","cpus":$cpus,"max_heap_mb":${Runtime.getRuntime.maxMemory / 1000000},"scales":${scales.mkString("[", ",", "]")},$sentinel,"sec":${render(_._1)},"gc_sec":${render(_._2)},"peak_mb":${render(_._3)},"not_finished":$notFinished,"skipped":$skips}""")
    spark.stop()
  }
}
