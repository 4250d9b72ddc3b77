package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale guards on the dedup family: the LSH bucket occupancy cap
  * (degenerate mega-bucket safety) and duplicateClusters' scratch
  * lifecycle / cluster-safety gate. */
class DedupScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("BoundedCollect keeps small groups complete and hard-caps big ones") {
    val df = (1 to 7).map(i => ("big", i.toLong)) ++ Seq(("small", 1L), ("small", 2L))
    val out = df.toDF("k", "v")
      .groupBy("k")
      .agg(sort_array(graft.functions.BoundedCollect(struct(col("v")), 5)).as("vs"))
      .collect().map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1))
      .toMap
    // the small group is bit-equal to collect_list: complete and sorted
    assert(out("small").map(_.getLong(0)) == Seq(1L, 2L))
    // the big group's buffer never exceeded the limit — size is exactly 5
    // (which elements survive is unspecified; the caller drops the group)
    assert(out("big").size == 5)
    assert(out("big").map(_.getLong(0)).toSet.subsetOf((1L to 7L).toSet))
  }

  test("mega-bucket is dropped under the cap with recall intact elsewhere") {
    // 10k near-identical docs: same shingle set => same MinHash signature
    // => ALL of them land in the same bucket in EVERY band. Uncapped this
    // is a 10k-element collect + ~5e7 generated pairs on one task.
    val mega = (1L to 10000L).map(i =>
      (i, "the same viral boilerplate template text repeated everywhere across the crawl"))
    // an independent genuine near-dup pair that must survive the cap
    val pair = Seq(
      (20001L, "completely different document about distributed query engines and shuffles"),
      (20002L, "completely different document about distributed query engines and shuffles"))
    val docs = (mega ++ pair).toDF("doc_id", "text")
    val out = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = Some(32))
    val rows = out.collect()
    // recall intact on the non-hub pair…
    assert(rows.exists(r => r.getLong(0) == 20001L && r.getLong(1) == 20002L))
    // …and not one of the ~5e7 mega-bucket pairs was generated
    assert(rows.forall(r => r.getLong(0) > 10000L))
    // the dropped-bucket count is surfaced via the observe metric
    assert(Dedup.observedDroppedBuckets(out) >= 1L,
      s"expected a positive dropped-bucket metric, got " +
        s"${out.queryExecution.observedMetrics}")
  }

  test("cap above occupancy is a no-op: capped equals uncapped") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50)
    val planted = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val all = docs.union(planted)
    val capped = Dedup.minhashLshPairs(all, "doc_id", "text",
        maxBucketSize = Some(5000)).collect().toSet
    val uncapped = Dedup.minhashLshPairs(all, "doc_id", "text",
        maxBucketSize = None).collect().toSet
    assert(capped == uncapped && capped.nonEmpty)
  }

  test("embedding/simhash near-dup respect the cap without losing planted pairs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding").limit(100)
    val all = emb.union(emb.select((col("vec_id") + 100000).as("vec_id"),
      col("embedding")))
    val pairs = Dedup.embeddingNearDup(all, "vec_id", "embedding",
      threshold = 0.95, maxBucketSize = Some(5000)).collect()
    assert(pairs.length == 100 &&
      pairs.forall(r => r.getLong(1) == r.getLong(0) + 100000))

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(30)
    val dall = docs.union(docs.select((col("doc_id") + 100000).as("doc_id"),
      col("text")))
    val sh = Dedup.simhashNearDup(dall, "doc_id", "text", maxHamming = 0,
      maxBucketSize = Some(5000)).collect()
    assert(sh.nonEmpty &&
      sh.exists(r => r.getLong(1) == r.getLong(0) + 100000))
  }

  test("native MinHashSig kernel ≡ explode+groupBy-min aggregate form (and HOF form)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(60)
      // edge rows: empty, whitespace-only, short, multi-byte
      .unionAll(Seq((90001L, ""), (90002L, "   \t \n "), (90003L, "one"),
        (90004L, "ünï çödé tökens ünï çödé"), (90005L, "a b"))
        .toDF("doc_id", "text"))
    val kernel = Dedup.minhashSignatures(docs, "doc_id", "text", 32, 3, 7L)
    val agg = Dedup.minhashSignaturesAgg(docs, "doc_id", "text", 32, 3, 7L)
    assert(kernel.join(agg.withColumnRenamed("__sig", "__sig2"), "__id")
      .where(col("__sig") =!= col("__sig2")).count() == 0)
    assert(kernel.count() == agg.count())
    // over a plain scan (no test-side limit) the kernel projection
    // plans with no exchange EXCEPT Spread's round-robin parallelism
    // repair (the input here is one sub-split-size parquet file, so the
    // repair fires); a hash/range exchange would mean the kernel itself
    // shuffles — that stays forbidden
    val plain = Dedup.minhashSignatures(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", "text", 32, 3, 7L)
    val plan = plain.queryExecution.executedPlan.toString
    assertOnlySpreadExchange(plan, "signature projection")
  }

  /** The kernel-projection shuffle contract, post-Spread: at most ONE
    * exchange, and it must be Spread's RoundRobinPartitioning repair —
    * never a hash/range exchange (which would mean the kernel itself
    * shuffles). The at-scale half of the contract (Spread is the
    * identity above the size bound, so the projection plans with ZERO
    * exchanges) is asserted separately below. */
  private def assertOnlySpreadExchange(plan: String, what: String): Unit = {
    val exchanges = "Exchange [A-Za-z]+".r.findAllIn(plan).toList
    assert(exchanges.size <= 1,
      s"$what must add at most the one Spread exchange, got $exchanges:\n$plan")
    assert(exchanges.forall(_ == "Exchange RoundRobinPartitioning"),
      s"$what must not hash/range-shuffle, got $exchanges:\n$plan")
  }

  test("Spread.ifSmall is the identity above the size bound (at-scale contract)") {
    // a relation whose optimizer size estimate (rows × 8 B) is far above
    // maxPartitionBytes × defaultParallelism: ifSmall must return the
    // SAME DataFrame — no exchange added on the at-scale path. Nothing
    // is executed; the decision reads only optimizer statistics.
    val big = spark.range(1L << 40).toDF("id")
    assert(Spread.ifSmall(big) eq big,
      "Spread.ifSmall must be the identity when the scan can fill parallelism")
    // and a tiny relation does get the round-robin repair
    val small = spark.range(10L).toDF("id")
    val repaired = Spread.ifSmall(small)
    assert(repaired ne small)
    val plan = repaired.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange RoundRobinPartitioning"), plan)
  }

  test("native SimHash64 kernel ≡ explode+vote-aggregate form (and HOF form)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(60)
      .unionAll(Seq((90001L, ""), (90002L, "   "), (90003L, "solo"),
        (90004L, "日本語 テスト 日本語"), (90005L, "x y z"))
        .toDF("doc_id", "text"))
    val kernel = Dedup.simhashTable(docs, "doc_id", "text")
    val agg = Dedup.simhashTableAgg(docs, "doc_id", "text")
    assert(kernel.join(agg.withColumnRenamed("__sh", "__sh2"), "__id")
      .where(col("__sh") =!= col("__sh2")).count() == 0)
    assert(kernel.count() == agg.count())
    val hof = docs.select(col("doc_id").as("__id"),
      Dedup.simhash(col("text")).as("__sh3"))
    assert(kernel.join(hof, "__id")
      .where(col("__sh") =!= col("__sh3")).count() == 0)
    val plain = Dedup.simhashTable(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", "text")
    val plan = plain.queryExecution.executedPlan.toString
    assertOnlySpreadExchange(plan, "simhash projection")
  }

  test("duplicateClusters fails fast on a non-local master without scratchDir") {
    val e = intercept[IllegalArgumentException] {
      Scratch.requireClusterSafe(isLocal = false, scratchDir = None,
        "duplicateClusters")
    }
    assert(e.getMessage.contains("shared filesystem"))
    // explicit scratch or local mode both pass
    Scratch.requireClusterSafe(isLocal = false, scratchDir = Some("/shared"),
      "duplicateClusters")
    Scratch.requireClusterSafe(isLocal = true, scratchDir = None,
      "duplicateClusters")
  }

  test("duplicateClusters cleans its scratch down to the final iteration") {
    val scratch = java.nio.file.Files.createTempDirectory("graft-cc-spec").toString
    // chain 1~2~3 plus island 10~11: clusters {1,2,3} -> 1, {10,11} -> 10
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val labels = Dedup.duplicateClusters(pairs, "a", "b",
      scratchDir = Some(scratch))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // scratch holds ONLY the last iteration (labels still read from it);
    // edges and every earlier iteration are gone
    val left = new java.io.File(scratch).listFiles().map(_.getName).toSeq
    assert(left.count(_.startsWith("iter")) == 1, s"scratch left: $left")
    assert(!left.contains("edges"), s"edges not cleaned: $left")
    // the returned frame survives the cleanup (reads the kept iteration)
    assert(labels.count() == 5)
  }

  test("stripBoilerplateLines drops hub lines, keeps order, drops empty docs") {
    // "nav menu" appears in 3 docs (> maxDocs=2) -> boilerplate; doc 4 is
    // ALL boilerplate and must vanish; unique lines keep original order
    // and original (untrimmed) bytes
    val docs = Seq(
      (1L, "nav menu\nalpha body one\n  beta body two  "),
      (2L, "nav menu\ngamma body"),
      (3L, "delta body\nnav menu"),
      (4L, "nav menu"),
      (5L, "epsilon body\nzeta body")).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplateLines(docs, "doc_id", "text", maxDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(!out.contains(4L), "fully-boilerplate doc must drop out")
    assert(out(1L) == ((3L, 2L, 1L, "alpha body one\n  beta body two  ")))
    assert(out(2L) == ((2L, 1L, 1L, "gamma body")))
    assert(out(3L) == ((2L, 1L, 1L, "delta body")))
    assert(out(5L) == ((2L, 2L, 0L, "epsilon body\nzeta body")))
  }

  test("repeatedSpans finds maximal cross-doc spans and splits on gaps") {
    // doc 2 shares doc 1's tokens 5..16 (12 tokens, at its positions
    // 3..14) and tokens 21..30 (10 tokens, at 16..25), with unique
    // separators — two maximal spans on two diagonals
    val t = (1 to 30).map(i => s"t$i")
    val d1 = t.mkString(" ")
    val d2 = (Seq("a1", "a2") ++ t.slice(4, 16) ++ Seq("zz") ++ t.slice(20, 30))
      .mkString(" ")
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", minTokens = 4)
      .orderBy("start_l")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((1L, 2L, 5L, 3L, 12L), (1L, 2L, 21L, 16L, 10L)))
  }

  test("repeatedSpans excludes same-doc repeats and sub-minTokens docs") {
    val docs = Seq(
      (1L, "x x x x x x"), // internal repeats only — no cross-doc partner
      (2L, "too short"), // < minTokens tokens: never windows
      (3L, "p q r s t u"), (4L, "p q r zz s t u") // longest shared run = 3 < 4
    ).toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(docs, "doc_id", "text", minTokens = 4).count() == 0)
  }

  test("repeatedSpans window-frequency cap drops boilerplate windows") {
    // the same 4-token run in 5 docs → posting size 5; capped at 3 the
    // bucket is dropped, uncapped it yields C(5,2) = 10 spans
    val docs = (1L to 5L).map(i => (i, s"u$i v$i c1 c2 c3 c4 w$i"))
      .toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(docs, "doc_id", "text", minTokens = 4,
      maxWindowFreq = Some(3)).count() == 0)
    assert(Dedup.repeatedSpans(docs, "doc_id", "text", minTokens = 4,
      maxWindowFreq = None).count() == 10)
  }

  test("dedupCorpus one-call pipeline: chains collapse, one canonical per cluster") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, t1, 10L), // original
      (2L, t1, 12L), // exact copy, highest score -> canonical
      (3L, t1 + " extra", 5L), // near-dup of 1/2 (jaccard ~0.92)
      (4L, "completely different text about query engines and columnar formats", 7L)
    ).toDF("doc_id", "text", "score")
    val out = Dedup.dedupCorpus(docs, "doc_id", "text", "score")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // exact chain + near chain collapse into min-id cluster 1
    assert(Seq(1L, 2L, 3L).forall(out(_)._1 == 1L))
    assert(out(4L) == ((4L, true))) // singleton is its own canonical
    // exactly one canonical: the highest (score, id)
    assert(out(2L)._2 && !out(1L)._2 && !out(3L)._2)
  }

  test("round-5 operators tolerate null/empty text and empty inputs") {
    val docs = Seq((1L, null: String), (2L, ""), (3L, "real text here ok now yes truly fine"))
      .toDF("doc_id", "text")
    // stripMarkup: null in → null out; empty in → empty out
    val sm = docs.select(col("doc_id"),
      TextAnalysis.stripMarkup(col("text")).as("c")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(sm(1L).isEmpty && sm(2L).contains("") && sm(3L).nonEmpty)
    // stripBoilerplateLines: null-text docs drop (no lines); empty-string
    // doc keeps its single empty line
    val ld = Dedup.stripBoilerplateLines(docs, "doc_id", "text", maxDocs = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!ld.contains(1L) && ld(2L) == 1L && ld(3L) == 1L)
    // repeatedSpans: null/short texts never window; no rows, no throw
    assert(Dedup.repeatedSpans(docs, "doc_id", "text", minTokens = 8).count() == 0)
    // unigram fit+score: null/empty docs contribute and receive nothing
    val model = TextAnalysis.unigramModel(docs, "text")
    val us = TextAnalysis.unigramScore(docs, "doc_id", "text", model)
      .collect().map(_.getLong(0)).toSet
    assert(us == Set(3L))
    // funnel over an empty event frame: one row per step, all zero
    val empty = Seq.empty[(Long, String, Long)].toDF("user_id", "event_type", "ts")
    val f = WindowOps.funnel(empty, "user_id", "event_type", "ts",
      Seq("a", "b")).collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(f == Map(1 -> 0L, 2 -> 0L))
  }

  test("line-dedup hub and unigram model ride broadcast joins") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val ld = Dedup.stripBoilerplateLines(docs, "doc_id", "text", maxDocs = 50)
    ld.write.format("noop").mode("overwrite").save()
    val p1 = ld.queryExecution.executedPlan.toString
    assert(p1.contains("BroadcastHashJoin") && p1.contains("LeftAnti"),
      s"hub anti-join should broadcast:\n${p1.take(2000)}")
    val model = TextAnalysis.unigramModel(docs, "text")
    val sc = TextAnalysis.unigramScore(docs, "doc_id", "text", model)
    sc.write.format("noop").mode("overwrite").save()
    val p2 = sc.queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastHashJoin"),
      s"model join should broadcast:\n${p2.take(2000)}")
  }

  test("tuneLsh: cheapest plan meets recall AND noise bound; degenerate r=1 rejected") {
    val plan = Dedup.tuneLsh(threshold = 0.8, minRecall = 0.9, maxHashes = 256)
    assert(plan.recallAtThreshold >= 0.9)
    assert(plan.collisionProb(0.4) <= 0.2) // the noise constraint held
    // recall alone is cheapest at rowsPerBand=1 ("share ONE hash"
    // mega-buckets) — the noise bound must reject that degeneracy
    assert(plan.rowsPerBand > 1)
    assert(plan.numHashes <= 256 && plan.numHashes == plan.bands * plan.rowsPerBand)
    // S-curve shape: monotone in s, ~0 far below the threshold
    assert(plan.collisionProb(0.9) >= plan.collisionProb(0.8))
    assert(plan.collisionProb(0.8) >= plan.collisionProb(0.5))
    assert(plan.collisionProb(0.1) < 0.5)
    // minimality: no cheaper hash budget satisfies BOTH constraints
    val cheaper = for {
      r <- 1 to 32; b <- 1 to 256 / r
      if b * r < plan.numHashes
      p = 1.0 - math.pow(1.0 - math.pow(0.8, r), b)
      pn = 1.0 - math.pow(1.0 - math.pow(0.4, r), b)
    } yield (p, pn)
    assert(cheaper.forall { case (p, pn) => p < 0.9 || pn > 0.2 },
      "tuneLsh did not pick the cheapest feasible plan")
    // an unreachable target names the failure instead of silently clipping
    val err = intercept[IllegalArgumentException](
      Dedup.tuneLsh(threshold = 0.1, minRecall = 0.999, maxHashes = 8))
    assert(err.getMessage.contains("raise maxHashes"))
  }

  test("tuneLsh plan achieves >= its computed recall on planted pairs at t=0.8") {
    val plan = Dedup.tuneLsh(threshold = 0.8, minRecall = 0.9, maxHashes = 256)
    // plant 50 base/mutant pairs from seeded word streams; small suffix
    // mutations put most true Jaccards in [0.8, 0.9]
    val rnd = new scala.util.Random(7)
    def words(k: Int) = Seq.fill(k)("w" + rnd.nextInt(5000))
    val docs = (0 until 50).flatMap { i =>
      val base = words(60)
      val kMut = 2 + (i % 3)
      val mut = base.dropRight(kMut) ++ Seq.fill(kMut)("m" + rnd.nextInt(5000))
      Seq((2L * i, base.mkString(" ")), (2L * i + 1, mut.mkString(" ")))
    }.toDF("doc_id", "text")
    // TRUE Jaccard via the engine's own shingle kernel — the planted set
    // is exactly the pairs at/above the tuned threshold
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val planted = (0 until 50).map(i => (2L * i, 2L * i + 1)).filter {
      case (a, b) =>
        val (sa, sb) = (sh(a), sh(b))
        (sa & sb).size.toDouble / (sa | sb).size >= 0.8
    }
    assert(planted.size >= 15, s"harness under-planted: ${planted.size}")
    val found = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = plan.numHashes, bands = plan.bands)
      .select("id_l", "id_r").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = planted.count(found.contains).toDouble / planted.size
    assert(recall >= plan.recallAtThreshold,
      s"recall $recall < planned ${plan.recallAtThreshold} ($plan)")
  }

  test("tuneLshAdaptive: measured density forces a steeper plan than the closed-form noise bound; planted recall holds") {
    val rnd = new scala.util.Random(11)
    // DENSE sub-threshold family: 200 docs sharing ~70% of their words
    // (pairwise J ≈ 0.55 — below t=0.8, above the static solver's
    // assumed noise similarity 0.4), the shape that floods a fixed
    // banding quadratically while its closed-form contract still holds
    val common = Seq.fill(70)("c" + rnd.nextInt(100000)).mkString(" ")
    val dense = (0 until 200).map { i =>
      (1000L + i, common + " " +
        Seq.fill(30)("u" + rnd.nextInt(100000)).mkString(" "))
    }
    // plus planted TRUE near-dup pairs (J >= 0.8) the plan must keep
    val planted = (0 until 10).map { i =>
      val base = Seq.fill(80)("p" + rnd.nextInt(100000))
      val mut = base.dropRight(2) ++ Seq("m" + i, "n" + i)
      (2L * i, base.mkString(" "), 2L * i + 1, mut.mkString(" "))
    }
    val docs = (dense ++ planted.flatMap(p =>
      Seq((p._1, p._2), (p._3, p._4)))).toDF("doc_id", "text")
    val static0 = Dedup.tuneLsh(threshold = 0.8, minRecall = 0.999,
      maxHashes = 512)
    val adaptive = Dedup.tuneLshAdaptive(docs, "doc_id", "text",
      threshold = 0.8, minRecall = 0.999, maxHashes = 512,
      candidateBudgetPerDoc = 2.0)
    assert(adaptive.recallAtThreshold >= 0.999)
    // the measured J~0.55 mass must push rowsPerBand past the static
    // solver's noise-guess plan
    assert(adaptive.rowsPerBand > static0.rowsPerBand,
      s"adaptive $adaptive vs static $static0")
    // expected candidate volume under the adaptive plan is lower than
    // under the static plan on THIS corpus (the point of measuring)
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 64, 3, 42L)
    val mass = Dedup.lshCollisionMass(sig, 64, Seq(1, 2, 4, 8, 16, 32))
    def vol(pl: Dedup.LshPlan) =
      pl.bands * mass(Seq(1, 2, 4, 8, 16, 32).filter(_ <= pl.rowsPerBand).max)._1
    assert(vol(adaptive) < vol(static0),
      s"adaptive ${vol(adaptive)} !< static ${vol(static0)}")
    // the true pairs survive: generate under the adaptive plan
    val found = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = adaptive.numHashes, bands = adaptive.bands)
      .select("id_l", "id_r").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wanted = planted.map(p => (p._1, p._3))
    val recall = wanted.count(found.contains).toDouble / wanted.size
    assert(recall >= 0.9, s"planted recall $recall under $adaptive")
    // sampled probe agrees with the full probe's shape (scale path)
    val sampled = Dedup.tuneLshAdaptive(docs, "doc_id", "text",
      threshold = 0.8, minRecall = 0.999, maxHashes = 512,
      candidateBudgetPerDoc = 2.0, sampleRate = 0.5)
    assert(sampled.rowsPerBand > static0.rowsPerBand)
  }

  test("stripBoilerplateLines fingerprints on trim: padded copies count as one line") {
    // the same line with different padding in 3 docs crosses maxDocs=2
    // together (trim-normalized fingerprint) even though the raw strings
    // differ
    val docs = Seq(
      (1L, "  follow us  \nreal content a"),
      (2L, "follow us\nreal content b"),
      (3L, "follow us   \nreal content c")).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplateLines(docs, "doc_id", "text", maxDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out == Map(1L -> "real content a", 2L -> "real content b",
      3L -> "real content c"))
  }
}
