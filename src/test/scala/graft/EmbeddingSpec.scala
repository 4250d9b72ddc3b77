package graft

import graft.operators.Embedding
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SGNS trainer: skip-gram pair construction by hand, and a FULL
  * driver-side replay of the training trajectory (md5-grid init, dense
  * index + md5-uniform negatives, DECIMAL(38,18) sums, q9 updates) on
  * a small pair set — the same differential discipline as
  * GraphOpsSpec's PageRank brute force. */
class EmbeddingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("skipGramPairs: window-bounded, both directions, per-sequence") {
    val seqs = Seq(("w1", 0, "a"), ("w1", 1, "b"), ("w1", 2, "c"),
      ("w2", 0, "x"), ("w2", 1, "y")).toDF("sid", "p", "tok")
    val got = Embedding.skipGramPairs(seqs, "sid", "p", "tok", window = 1)
      .as[(String, String)].collect().toSeq.sorted
    assert(got == Seq("a" -> "b", "b" -> "a", "b" -> "c", "c" -> "b",
      "x" -> "y", "y" -> "x").sorted)
    // window 2 adds the distance-2 pair within w1 only
    val w2 = Embedding.skipGramPairs(seqs, "sid", "p", "tok", window = 2)
      .as[(String, String)].collect().toSeq.sorted
    assert(w2 == (got ++ Seq("a" -> "c", "c" -> "a")).sorted)
  }

  test("subsamplePairs: driver-side replay of the integer-threshold discard; hubs thin, rare keeps 1") {
    // a hub 'h' paired with many spokes + rare tail pairs, with one
    // repeated pair (dup ranks draw independently) and one token ('q')
    // that only ever appears as context
    val hub = (1 to 200).map(i => ("h", s"s$i")) ++
      (1 to 200).map(i => (s"s$i", "h"))
    val tail = Seq(("r1", "r2"), ("r2", "r1"), ("r1", "r2"), ("r3", "q"))
    val pairs = hub ++ tail
    val t = 0.02
    // replay: center counts, quantized thresholds, md5 draws per dup
    val cnt = pairs.groupBy(_._1).map { case (w, ps) => w -> ps.size }
    val tot = pairs.size.toDouble
    def kq(w: String): Long = cnt.get(w).fold(1L << 24) { c =>
      math.min(1L << 24,
        math.floor(math.sqrt(t * tot / c) * (1L << 24).toDouble).toLong)
    }
    val want = pairs.groupBy(identity).toSeq.flatMap { case ((a, b), ps) =>
      ps.indices.flatMap { i =>
        val u = TestReplay.md5Long48(
          s"${TestReplay.md5hex(a)}|${TestReplay.md5hex(b)}|${i + 1}")
        if (u < kq(a) * kq(b)) Some((a, b)) else None
      }
    }.sorted
    val df = pairs.toDF("a", "b")
    val got = Embedding.subsamplePairs(df, "a", "b", t)
      .as[(String, String)].collect().toSeq.sorted
    assert(got == want)
    // the hub's pairs thinned hard; the rare tail kept everything
    // (kq = 2^24 on both ends → threshold 2^48 → never dropped)
    assert(got.count(p => p._1 == "h" || p._2 == "h") <
      hub.size / 2, s"hub pairs should thin to ~sqrt(t/f): $got")
    assert(got.count(p => p._1.startsWith("r")) == tail.size)
    // partition invariance: same survivors at any parallelism
    val rep = Embedding.subsamplePairs(df.repartition(7), "a", "b", t)
      .as[(String, String)].collect().toSeq.sorted
    assert(rep == got)
    // thinned pairs compose with the trainer: the q_node2vec3 chain
    intercept[IllegalArgumentException] {
      Embedding.subsamplePairs(df, "a", "b", t = 1.5)
    }
  }

  // ---- driver-side replay of the exact decimal/q9 arithmetic --------

  private def dec18(x: Double): BigDecimal =
    BigDecimal.valueOf(x).setScale(18, BigDecimal.RoundingMode.HALF_UP)
  private def q9(x: Double): Double = math.floor(x * 1e9) / 1e9
  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Replay of DetRandom.denseIndex over `nodes` (buckets = 256). */
  private def denseIdx(nodes: Seq[String]): Map[String, Long] = {
    val byBucket = nodes.groupBy(n => TestReplay.md5Long48(n) % 256)
    val ordered = byBucket.toSeq.sortBy(_._1).flatMap { case (_, ns) =>
      ns.sortBy(n => (TestReplay.md5hex(n), n))
    }
    ordered.zipWithIndex.map { case (n, i) => n -> i.toLong }.toMap
  }

  private def bruteSgns(pos: Seq[(String, String)], dim: Int, iters: Int,
                        lr: Double, negs: Int,
                        negDist: String = "uniform"): Map[(String, Int), Double] = {
    val nodes = (pos.map(_._1) ++ pos.map(_._2)).distinct
    val idx = denseIdx(nodes)
    val byIdx = idx.map(_.swap)
    val nv = nodes.size.toLong
    // weighted draw: exact integer inversion of the context-count^0.75
    // cumulative table in idx order — the operator's documented math
    val drawNeg: String => String = if (negDist == "uniform") { key =>
      byIdx(TestReplay.md5Long48(key) % nv)
    } else {
      val ctx = pos.groupBy(_._2).map { case (n, ps) => n -> ps.size }
      val ordered = nodes.filter(ctx.contains).sortBy(idx)
      val wq = ordered.map { n =>
        val w = ctx(n).toDouble
        n -> math.floor(math.sqrt(math.sqrt(w * w * w)) * 1e6).toLong
      }
      val cums = wq.scanLeft(0L)(_ + _._2)
      val total = cums.last
      val table = wq.zip(cums).map { case ((n, q), c) => (n, c, q) }
      key => {
        val u = TestReplay.md5Long48(key) % total
        table.find { case (_, c, q) => u >= c && u < c + q }.get._1
      }
    }
    val negRows = for {
      (c, x) <- pos; j <- 1 to negs
    } yield (c, drawNeg(s"$c|$x|$j"), 0.0)
    val train = pos.map { case (c, x) => (c, x, 1.0) } ++ negRows
    val n = train.size
    def init(side: String): collection.mutable.Map[(String, Int), Double] = {
      val m = collection.mutable.Map[(String, Int), Double]()
      for (nd <- nodes; p <- 1 to dim)
        m((nd, p)) = q9((TestReplay.md5Long48(s"$nd|$p|$side") % 2049
          - 1024).toDouble / 16384.0)
      m
    }
    val vin = init("in"); val vout = init("out")
    for (_ <- 1 to iters) {
      val gs = train.map { case (c, x, y) =>
        val z = (1 to dim).map(p => dec18(vin((c, p)) * vout((x, p))))
          .sum.toDouble
        (c, x, sigmoid(z) - y)
      }
      val gin = collection.mutable.Map[(String, Int), BigDecimal]()
        .withDefaultValue(BigDecimal(0))
      val gout = collection.mutable.Map[(String, Int), BigDecimal]()
        .withDefaultValue(BigDecimal(0))
      gs.foreach { case (c, x, g) =>
        for (p <- 1 to dim) {
          gin((c, p)) += dec18(g * vout((x, p)))
          gout((x, p)) += dec18(g * vin((c, p)))
        }
      }
      for (nd <- nodes; p <- 1 to dim) {
        vin((nd, p)) = q9(vin((nd, p)) - lr * gin((nd, p)).toDouble / n)
        vout((nd, p)) = q9(vout((nd, p)) - lr * gout((nd, p)).toDouble / n)
      }
    }
    vin.toMap
  }

  test("sgnsFit: bit-identical to the driver-side decimal replay; " +
       "moves pairs closer than non-pairs") {
    val pos = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("d", "e"), ("e", "d"), ("a", "c"), ("c", "a"))
    val got = Embedding.sgnsFit(pos.toDF("a", "b"), "a", "b",
        dim = 4, iters = 3, lr = 1.0, negs = 2)
      .as[(String, Int, Double)].collect()
      .map { case (nd, p, v) => (nd, p) -> v }.toMap
    val want = bruteSgns(pos, dim = 4, iters = 3, lr = 1.0, negs = 2)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) =>
      assert(v == want(k), s"$k: $v != ${want(k)}") }
    // the trained vectors actually moved off their init
    val init = (for (nd <- Seq("a", "b", "c", "d", "e"); p <- 1 to 4)
      yield (nd, p) -> q9((TestReplay.md5Long48(s"$nd|$p|in") % 2049
        - 1024).toDouble / 16384.0)).toMap
    assert(got.exists { case (k, v) => v != init(k) })
  }

  test("sgnsFit: unigram^0.75 negatives bit-match the driver-side weighted-inversion replay") {
    val pos = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("a", "c"), ("c", "a"), ("c", "d"), ("d", "c"), ("b", "d"))
    val got = Embedding.sgnsFit(pos.toDF("a", "b"), "a", "b",
        dim = 3, iters = 2, lr = 1.0, negs = 2, negDist = "unigram75")
      .as[(String, Int, Double)].collect()
      .map { case (nd, p, v) => (nd, p) -> v }.toMap
    val want = bruteSgns(pos, dim = 3, iters = 2, lr = 1.0, negs = 2,
      negDist = "unigram75")
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) =>
      assert(v == want(k), s"$k: $v != ${want(k)}") }
    // the weighted trajectory actually differs from the uniform one
    // (the draw change is exercised, not vacuous)
    val uni = bruteSgns(pos, dim = 3, iters = 2, lr = 1.0, negs = 2)
    assert(got.exists { case (k, v) => v != uni(k) })
  }

  test("sgnsFit warm start: fit(1) then fit(2, init) ≡ fit(3); absent init cells fall back to the md5 grid") {
    val pos = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("d", "a"), ("a", "d"))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Int, Double)].collect().toSet
    val cold = collect(Embedding.sgnsFit(pos.toDF("a", "b"), "a", "b",
      dim = 2, iters = 3, lr = 0.5, negs = 1))
    val (m1i, m1o) = Embedding.sgnsFitMatrices(pos.toDF("a", "b"),
      "a", "b", dim = 2, iters = 1, lr = 0.5, negs = 1)
    val warm = collect(Embedding.sgnsFit(pos.toDF("a", "b"), "a", "b",
      dim = 2, iters = 2, lr = 0.5, negs = 1,
      initIn = Some(m1i), initOut = Some(m1o)))
    assert(warm == cold, "warm continuation must equal the longer cold run")
    // an empty init relation degrades to the cold md5-grid start
    val empty = m1i.where(lit(false))
    val viaEmpty = collect(Embedding.sgnsFit(pos.toDF("a", "b"), "a", "b",
      dim = 2, iters = 1, lr = 0.5, negs = 1,
      initIn = Some(empty), initOut = Some(empty)))
    val oneIter = collect(Embedding.sgnsFit(pos.toDF("a", "b"), "a", "b",
      dim = 2, iters = 1, lr = 0.5, negs = 1))
    assert(viaEmpty == oneIter)
  }

  test("sgnsPrepare shared across a warm-start chain ≡ two full fits ≡ one longer fit") {
    // q_node2vec2's shape: fit(1) then fit(1, init). The prepared
    // relations (train/nodes/counts/unigram75 table) are pure functions
    // of the pair corpus, so sharing ONE prepare across both fits must
    // be value-identical to two full sgnsFitMatrices calls — and both
    // equal the cold 2-iteration run the oracle replays.
    val pos = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("a", "c"), ("c", "a"), ("c", "d"), ("d", "c"), ("b", "d"))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Int, Double)].collect().toSet
    val prep = Embedding.sgnsPrepare(pos.toDF("a", "b"), "a", "b",
      negs = 2, negDist = "unigram75")
    val (s1i, s1o) = Embedding.sgnsFitPrepared(prep, dim = 3, iters = 1,
      lr = 0.5)
    val shared = collect(Embedding.sgnsFitPrepared(prep, dim = 3,
      iters = 1, lr = 0.5, initIn = Some(s1i), initOut = Some(s1o))._1)
    val (m1i, m1o) = Embedding.sgnsFitMatrices(pos.toDF("a", "b"), "a", "b",
      dim = 3, iters = 1, lr = 0.5, negs = 2, negDist = "unigram75")
    val unshared = collect(Embedding.sgnsFit(pos.toDF("a", "b"), "a", "b",
      dim = 3, iters = 1, lr = 0.5, negs = 2, negDist = "unigram75",
      initIn = Some(m1i), initOut = Some(m1o)))
    val cold = collect(Embedding.sgnsFit(pos.toDF("a", "b"), "a", "b",
      dim = 3, iters = 2, lr = 0.5, negs = 2, negDist = "unigram75"))
    assert(shared == unshared, "shared prepare must equal two full fits")
    assert(shared == cold, "warm chain must equal the longer cold run")
    // the first fit's matrices stayed readable after the second fit's
    // snapshots (per-fit snapshot names must not collide in the shared
    // scratch)
    assert(s1i.count() == 4 * 3 && s1o.count() == 4 * 3)
  }

  test("sgnsFitMatrices: final matrices are parquet snapshots even when iters is not a multiple of materializeEvery") {
    // with materializeEvery = 2 and iters = 3, iterations 1 and 3
    // snapshot (k == iters forces the final one) — the returned frames
    // must be scans of the snapshot, NOT a lazy gradient-join subtree
    // whose CacheScopes were already closed (re-evaluating such a tail
    // would recompute the whole uncached iteration)
    val pos = Seq(("a", "b"), ("b", "c"), ("c", "a"))
    val (vi, vo) = Embedding.sgnsFitMatrices(pos.toDF("a", "b"), "a", "b",
      dim = 2, iters = 3, lr = 0.5, negs = 1, materializeEvery = 2)
    for ((m, side) <- Seq((vi, "in"), (vo, "out"))) {
      val plan = m.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Join"),
        s"$side matrix returned a lazy join tail:\n${plan.take(1500)}")
      assert(m.count() == 3 * 2) // 3 nodes x 2 dims, readable post-close
    }
  }

  test("sgnsFit/sgnsFitMatrices: a bad dim, iters or materializeEvery fails before any Spark job") {
    val pairs = Seq(("a", "b"), ("b", "a")).toDF("a", "b")
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("sgns-bad-args", "invalid SGNS arguments")
      for (fit <- Seq[() => Any](
        () => Embedding.sgnsFit(pairs, "a", "b", dim = 0),
        () => Embedding.sgnsFitMatrices(pairs, "a", "b", dim = 65),
        () => Embedding.sgnsFit(pairs, "a", "b", dim = 4, iters = 0),
        () => Embedding.sgnsFitMatrices(pairs, "a", "b", dim = 4, materializeEvery = 0)))
        intercept[IllegalArgumentException](fit())
      // the bus delivers job starts in order: once the sentinel's arrives,
      // so has every job the calls above could have started
      sc.setJobGroup("sgns-sentinel", "sentinel")
      sc.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("sgns-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(groups.contains("sgns-sentinel"), "the sentinel job never reached the listener")
    val early = groups.toArray.count(_ == "sgns-bad-args")
    assert(early == 0, s"$early Spark jobs ran before the argument check")
  }

  test("sgnsFit: partition-invariant (decimal sums, no order seams)") {
    val pos = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
    def run(parts: Int) = Embedding.sgnsFit(
        pos.toDF("a", "b").repartition(parts), "a", "b",
        dim = 2, iters = 2, lr = 0.5, negs = 1)
      .as[(String, Int, Double)].collect().toSet
    assert(run(1) == run(7))
  }
}
