package graft

import graft.operators.{Embedding, GraphOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scratch discipline of the iterative operators: what each loop
  * leaves in its scratch dir, and that a bad round count or cadence
  * fails before the first Spark job. */
class ScratchLoopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edges = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 1L),
    ("c", "d", 3L), ("d", "b", 1L), ("a", "c", 2L)).toDF("src", "dst", "w")

  test("each loop leaves only its inputs and its last snapshot in scratch " +
       "(walks: every due step); the result stays readable") {
    // 3 rounds at materializeEvery = 2: rounds 1 and 2 (0-based) are
    // due, so round 1's snapshot is written and then dropped by round 2's
    val rows: Seq[(String, Option[String] => DataFrame, Set[String])] = Seq(
      ("pageRankNano", d => GraphOps.pageRankNano(edges, "src", "dst",
        col("w"), iters = 3, scratchDir = d, materializeEvery = 2),
        Set("edges", "nodes", "iter2")),
      ("hitsNano", d => GraphOps.hitsNano(edges, "src", "dst", col("w"),
        iters = 3, scratchDir = d, materializeEvery = 2),
        Set("edges", "nodes", "auth2", "hub2")),
      ("labelPropagation", d => GraphOps.labelPropagation(edges, "src",
        "dst", col("w"), iters = 3, scratchDir = d, materializeEvery = 2),
        Set("und", "lbl2")),
      // kCore snapshots every round (no cadence parameter)
      ("kCore", d => GraphOps.kCore(edges, "src", "dst", k = 1, rounds = 3,
        scratchDir = d),
        Set("und", "core2")),
      // the final union reads every step, so no due step is dropped
      ("deterministicWalks", d => GraphOps.deterministicWalks(edges, "src",
        "dst", steps = 3, scratchDir = d, materializeEvery = 2),
        Set("edges", "w0", "w2", "w3")),
      // both matrices in one snapshot per due round
      ("sgnsFitMatrices", d => {
        val (vin, vout) = Embedding.sgnsFitMatrices(
          edges.select("src", "dst"), "src", "dst", dim = 2, iters = 3,
          scratchDir = d, materializeEvery = 2)
        vin.unionByName(vout)
      }, Set("pairs", "nodes", "train", "f1_m2")))
    for ((name, run, want) <- rows) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-$name").toFile
      try {
        val out = run(Some(dir.getPath))
        val left = dir.listFiles().map(_.getName).toSet
        assert(left == want, s"$name left $left in scratch, want $want")
        assert(out.count() > 0, s"$name result is empty")
      } finally new scala.reflect.io.Directory(dir).deleteRecursively()
    }
  }

  test("a bad iters/rounds/steps/materializeEvery fails before any Spark job") {
    val e = edges
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(ev: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(ev.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("loop-bad-args", "invalid loop arguments")
      for (call <- Seq[() => Any](
        () => GraphOps.pageRankNano(e, "src", "dst", col("w"), iters = 0),
        () => GraphOps.pageRankNano(e, "src", "dst", col("w"), iters = 3,
          materializeEvery = 0),
        () => GraphOps.hitsNano(e, "src", "dst", col("w"), iters = 0),
        () => GraphOps.hitsNano(e, "src", "dst", col("w"), iters = 3,
          materializeEvery = 0),
        () => GraphOps.labelPropagation(e, "src", "dst", col("w"), iters = 0),
        () => GraphOps.labelPropagation(e, "src", "dst", col("w"), iters = 3,
          materializeEvery = 0),
        () => GraphOps.kCore(e, "src", "dst", k = 2, rounds = 0),
        () => GraphOps.deterministicWalks(e, "src", "dst", steps = 0),
        () => GraphOps.deterministicWalks(e, "src", "dst", steps = 3,
          materializeEvery = 0)))
        intercept[IllegalArgumentException](call())
      // the bus delivers job starts in order: once the sentinel's arrives,
      // so has every job the calls above could have started
      sc.setJobGroup("loop-sentinel", "sentinel")
      sc.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("loop-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(groups.contains("loop-sentinel"), "the sentinel job never reached the listener")
    val early = groups.toArray.count(_ == "loop-bad-args")
    assert(early == 0, s"$early Spark jobs ran before the argument check")
  }
}
