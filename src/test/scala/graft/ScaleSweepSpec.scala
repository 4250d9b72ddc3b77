package graft

import java.nio.file.{Files, Path}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tools.ScaleSweep

/** ScaleSweep's scaled-corpus writer at sf0.001, k = 3: the replicated
  * tables are exact 3× copies that keep every column, type and
  * per-row invariant without sharing ids, the linked tables read back
  * unchanged, and registry queries run against the scaled directory. */
class ScaleSweepSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  val src: String = graft.tools.PlanDigest.DefaultSfDir
  val k = 3
  lazy val out: Path = {
    val d = Files.createTempDirectory("graft-scale-spec-")
    ScaleSweep.writeScaled(spark, src, k, d.toString)
    d
  }
  override def afterAll(): Unit = ScaleSweep.deleteTree(out)

  private def read(dir: String, t: String): DataFrame =
    spark.read.parquet(s"$dir/$t.parquet")
  private def scaled(t: String) = read(out.toString, t)
  private def source(t: String) = read(src, t)

  test("replicated tables hold exactly k× the rows, with the source schema") {
    ScaleSweep.Replicated.foreach { t =>
      assert(scaled(t).count() == k * source(t).count(), t)
      assert(scaled(t).schema == source(t).schema, t)
    }
  }

  test("ids are disjoint across copies") {
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id", "events" -> "event_id")
      .foreach { case (t, id) =>
        assert(scaled(t).select(id).distinct().count() == k * source(t).count(), t)
      }
    assert(scaled("events").select("user_id").distinct().count() ==
      k * source("events").select("user_id").distinct().count())
  }

  test("n_chars equals length(text) on every copy") {
    assert(scaled("documents").where(col("n_chars") =!= length(col("text"))).count() == 0)
  }

  test("vector L2 norms are preserved per copy") {
    def norms(df: DataFrame) = df.select((col("vec_id") % 10000000L).as("id"),
      sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))).as("n"))
    val joined = norms(scaled("embeddings")).join(
      norms(source("embeddings")).withColumnRenamed("n", "n0"), "id")
    assert(joined.count() == k * source("embeddings").count())
    assert(joined.where(abs(col("n") - col("n0")) > 1e-9).count() == 0)
  }

  test("the other tables read back unchanged") {
    val others = Seq("customer", "lineitem", "nation", "orders", "part",
      "region", "supplier")
    assert(others.size + ScaleSweep.Replicated.size == 10)
    others.foreach { t =>
      assert(scaled(t).schema == source(t).schema, t)
      assert(scaled(t).exceptAll(source(t)).isEmpty &&
        source(t).exceptAll(scaled(t)).isEmpty, t)
    }
  }

  test("one registry query per replicated table runs against the 3× directory") {
    def run(q: String, dir: String) = SparkEntry.queries(q)(spark, dir).count()
    // the rotation plants no cross-copy duplicate: k× the fingerprints
    assert(run("q_dedup_exact", out.toString) == k * run("q_dedup_exact", src))
    assert(run("q_emb_dedup", out.toString) == k * run("q_emb_dedup", src))
    assert(run("q_latest", out.toString) == k * run("q_latest", src))
  }
}
