package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LLM-pipeline operators: dedup, similarity, text analysis. */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val dir = "/root/testdata/sf0.001"

  def docsWithPlantedDupes = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").where(length(col("text")) > 50).limit(20)
    // plant: 9001 = exact copy of first doc; 9002 = first doc with a small
    // edit; 9003 = unrelated
    val rows = docs.collect()
    val base = rows(0).getString(1)
    val edited = base.split("\\s+").toSeq.patch(3, Seq("XYZZY"), 1).mkString(" ")
    val planted = Seq(
      (9001L, base), (9002L, edited),
      (9003L, "totally unrelated content nothing in common whatsoever qq"))
      .toDF("doc_id", "text")
    docs.union(planted)
  }

  test("exact dedup finds the exact copy") {
    val d = Dedup.exactText(docsWithPlantedDupes, "text", "doc_id")
    val dupes = d.where(col("n_dupes") > 1).collect()
    assert(dupes.length == 1 && dupes(0).getAs[Long]("n_dupes") == 2)
  }

  test("minhash LSH finds exact + near dup, not the unrelated doc") {
    val pairs = Dedup.minhashLshPairs(docsWithPlantedDupes, "doc_id", "text",
      numHashes = 64, bands = 16)
    val hits = pairs.where(col("est_jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = docsWithPlantedDupes.orderBy("doc_id").first().getLong(0)
    assert(hits.exists { case (a, b) => b == 9001L },
      s"exact copy pair missing from $hits")
    assert(hits.exists { case (a, b) => b == 9002L || a == 9002L },
      s"near-dup pair missing from $hits")
    assert(!hits.exists { case (a, b) => a == 9003L || b == 9003L },
      "unrelated doc flagged")
  }

  test("simhash: identical → 0 hamming; near dup small; banding finds both") {
    val pairs = Dedup.simhashNearDup(docsWithPlantedDupes, "doc_id", "text",
      maxHamming = 6)
    val m = pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val exact = m.find(_._1._2 == 9001L)
    assert(exact.isDefined && exact.get._2 == 0, s"simhash exact pair: $m")
    assert(!m.keys.exists(p => p._1 == 9003L || p._2 == 9003L))
  }

  test("ngram jaccard pairs") {
    val pairs = Dedup.ngramJaccardPairs(docsWithPlantedDupes, "doc_id", "text",
      n = 3, threshold = 0.4)
    val hits = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.exists(h => h._2 == 9001L && h._3 == 1.0), s"exact pair J=1: ${hits.toSeq}")
    assert(hits.exists(h => h._2 == 9002L && h._3 > 0.4 && h._3 < 1.0))
  }

  test("prefix-filtered exact Jaccard equals the all-pairs op") {
    val docs = docsWithPlantedDupes
    val t = 0.5
    val fast = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, t)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val slow = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, t)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(fast.keySet == slow.keySet, s"fast=${fast.keySet} slow=${slow.keySet}")
    fast.foreach { case (k, v) => assert(math.abs(slow(k) - v) < 1e-9) }
    assert(fast.exists { case ((_, b), j) => b == 9001L && j == 1.0 })
  }

  test("nearDuplicates: LSH-prefiltered exact Jaccard agrees with the all-pairs op") {
    val docs = docsWithPlantedDupes
    val composite = Dedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every composite pair must be in the exact set with the same score
    composite.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"$pair not exact")
      assert(math.abs(exact(pair) - j) < 1e-9)
    }
    // the planted exact copy must survive the full pipeline
    assert(composite.exists { case ((_, b), j) => b == 9001L && j == 1.0 })
  }

  test("cosine kernel matches manual computation") {
    val df = Seq((1L, Seq(1.0f, 0.0f, 1.0f)), (2L, Seq(1.0f, 0.0f, 0.0f)))
      .toDF("id", "v")
    val got = df.select(Similarity.cosine(
      typedlit(Seq(1.0, 0.0, 1.0)), col("v")).as("c"))
      .orderBy("id").collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("bruteForceTopK: top-1 of a vector's own bucket is itself-excluded nearest") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.limit(3)
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3)
    val got = top.collect()
    assert(got.length == 9)
    assert(got.forall(_.getAs[Long]("neighbor_id") != got(0).getAs[Long]("query_id")) ||
      got.groupBy(_.getAs[Long]("query_id")).forall(_._2.length == 3))
    // ranks are 1..3 per query and cosines non-increasing
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
      val sims = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("hardNegatives: cross-label only, agrees with label-filtered bruteForceTopK") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val anchors = emb.where(col("vec_id") < 3)
    val got = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      anchors, "vec_id", "embedding", "label", k = 4).collect()
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.length == 12) // 3 anchors × k
    // every negative carries a label different from its anchor's
    got.foreach { r =>
      assert(labelOf(r.getAs[Long]("neg_id")) != labelOf(r.getAs[Long]("anchor_id")),
        s"same-label negative: $r")
    }
    // per anchor, must equal bruteForceTopK over the corpus with the
    // anchor's own label removed (the predicate is the only difference)
    anchors.select("vec_id", "label").collect().foreach { a =>
      val (aid, alab) = (a.getLong(0), a.getInt(1))
      val expect = Similarity.bruteForceTopK(
        emb.where(col("label") =!= alab), "vec_id", "embedding",
        anchors.where(col("vec_id") === aid), "vec_id", "embedding", k = 4)
        .collect().sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
      val mine = got.filter(_.getAs[Long]("anchor_id") == aid)
        .sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("neg_id"), r.getAs[Double]("cosine")))
      assert(mine.toSeq == expect.toSeq, s"anchor $aid: $mine vs $expect")
    }
  }

  test("dedup operators leak no cached blocks; CacheScope releases on close") {
    import org.apache.spark.sql.GraftSqlBridge
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(50)
    assume(GraftSqlBridge.noCachedPlans(spark)) // suite baseline
    // leak-free defaults: a full action over each multi-consumer operator
    // must leave the cache manager exactly as it found it
    Dedup.minhashLshPairs(docs, "doc_id", "text").count()
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3).count()
    Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.8).count()
    assert(GraftSqlBridge.noCachedPlans(spark), "operator leaked a cached plan")
    // opt-in scope: cached while open, released on close
    CacheScope.withScope { sc =>
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", scope = Some(sc))
      pairs.count(); pairs.count() // two actions amortize the cached signatures
      assert(!GraftSqlBridge.noCachedPlans(spark), "scope should be caching")
    }
    assert(GraftSqlBridge.noCachedPlans(spark), "CacheScope did not release")
  }

  test("duplicateClusters holds no RDD blocks after returning") {
    // the round-2 leak was BLOCK-level (localCheckpoint caches RDD
    // blocks, not plans), which the cache-manager assertion above cannot
    // see — assert directly on the persistent-RDD registry
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    Dedup.duplicateClusters(pairs, "id_a", "id_b").count()
    val persisted = spark.sparkContext.getPersistentRDDs
    assert(persisted.isEmpty,
      s"duplicateClusters left ${persisted.size} persistent RDD(s) behind")
  }

  test("TopKByScore partial aggregate ≡ row_number window top-k, exactly") {
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.limit(4)
    val got = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 7)
      .orderBy("query_id", "rank").collect().toSeq
    // reference formulation: the window funnel this aggregate replaces
    val c = emb.select(col("vec_id").as("__cid"), col("embedding").as("__cv"))
    val q = queries.select(col("vec_id").as("__qid"), col("embedding").as("__qv"))
    val w = Window.partitionBy(col("__qid")).orderBy(col("__sim").desc, col("__cid"))
    val expect = c.crossJoin(broadcast(q)).where(col("__cid") =!= col("__qid"))
      .select(col("__qid"), col("__cid"),
        Similarity.cosine(col("__cv"), col("__qv")).as("__sim"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 7)
      .select(col("__qid").as("query_id"), col("rank"),
        col("__cid").as("neighbor_id"), col("__sim").as("cosine"))
      .orderBy("query_id", "rank").collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))) ==
      expect.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))))
    // the plan must do map-side PARTIAL top-k (the point of the rewrite)
    val plan = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 7).queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k_by_score"), s"no partial aggregate in:\n$plan")
  }

  test("hybridTopK ≡ window-rank RRF reformulation, exactly") {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val corpus = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    val queries = corpus.where(col("doc_id") < 4)
    val got = Similarity.hybridTopK(corpus, "doc_id", "embedding", "text",
      queries, "doc_id", "embedding", "text", k = 5, perSide = 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(12, BigDecimal.RoundingMode.HALF_EVEN)))
      .toSeq
    // reference formulation: the window funnels the aggregate replaces
    val q = queries.select(col("doc_id").as("__qid"),
      col("text").as("__qt"), col("embedding").as("__qv"))
    val joined = corpus.crossJoin(broadcast(q)).where(col("doc_id") =!= col("__qid"))
    val w = Window.partitionBy("__qid")
    val dtoks = array_distinct(TextAnalysis.tokens(lower(col("text"))))
    val qtoks = array_distinct(TextAnalysis.tokens(lower(col("__qt"))))
    val inter = size(array_intersect(dtoks, qtoks))
    val uni = size(dtoks) + size(qtoks) - inter
    val dense = joined
      .select(col("__qid"), col("doc_id").as("__nid"),
        Similarity.cosine(col("embedding"), col("__qv")).as("__s"))
      .withColumn("__dr", row_number().over(w.orderBy(col("__s").desc, col("__nid"))))
      .where(col("__dr") <= 10).select("__qid", "__nid", "__dr")
    val sparse = joined
      .select(col("__qid"), col("doc_id").as("__nid"),
        when(uni === 0, lit(0.0))
          .otherwise(inter.cast("double") / uni.cast("double")).as("__s"))
      .withColumn("__sr", row_number().over(w.orderBy(col("__s").desc, col("__nid"))))
      .where(col("__sr") <= 10).select("__qid", "__nid", "__sr")
    val expect = dense.join(sparse, Seq("__qid", "__nid"), "full_outer")
      .select(col("__qid"), col("__nid"),
        (coalesce(lit(1.0) / (lit(60) + col("__dr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("__sr")), lit(0.0))).as("__rrf"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("__qid").orderBy(col("__rrf").desc, col("__nid"))))
      .where(col("rank") <= 5)
      .orderBy("__qid", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(12, BigDecimal.RoundingMode.HALF_EVEN)))
      .toSeq
    assert(got == expect)
    // rrf is bounded by appearing first in BOTH lists
    assert(got.forall(_._4 <= BigDecimal(2.0 / 61).setScale(12, BigDecimal.RoundingMode.HALF_EVEN)))
  }

  test("hybridTopKBm25 fuses exactly the independently-computed bm25 and dense ranks") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val corpus = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    val queries = corpus.where(col("doc_id") < 3)
    val denseRank = Similarity.bruteForceTopK(corpus, "doc_id", "embedding",
      queries, "doc_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val sparseRank = TextAnalysis.bm25(corpus, "doc_id", "text",
      queries, "doc_id", "text", topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val got = Similarity.hybridTopKBm25(corpus, "doc_id", "embedding", "text",
      queries, "doc_id", "embedding", "text", k = 5, perSide = 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    got.foreach { case (q, _, n, rrf) =>
      val expect = denseRank.get((q, n)).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        sparseRank.get((q, n)).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(rrf == expect, s"($q, $n): $rrf != $expect")
    }
    // within each query, ranks follow rrf desc then neighbor id
    got.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2).toSeq
      assert(sorted == sorted.sortBy(r => (-r._4, r._3)))
    }
  }

  test("annTopK returns a subset consistent with brute force scores") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.limit(5)
    val ann = Similarity.annTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, planes = 2)
    val got = ann.collect()
    assert(got.nonEmpty, "ann returned nothing — buckets degenerate?")
    assert(got.forall(r => r.getAs[Double]("cosine") <= 1.0 + 1e-9))
  }

  test("annTopK multi-probe recovers recall that single-probe loses") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.limit(8)
    val single = Similarity.annTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, planes = 4).collect()
    val multi = Similarity.annTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, planes = 4, probeBits = 1).collect()
    // probing hamming-1 buckets can only ADD candidates
    assert(multi.length >= single.length,
      s"multi-probe returned fewer rows: ${multi.length} < ${single.length}")
    // and candidate sets per query are supersets → per-rank cosine can
    // only improve (scores are best-first)
    val s1 = single.groupBy(_.getAs[Long]("query_id"))
    multi.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, rs) =>
      s1.get(qid).foreach { prev =>
        val pm = rs.map(r => r.getAs[Int]("rank") -> r.getAs[Double]("cosine")).toMap
        prev.foreach { p =>
          assert(pm(p.getAs[Int]("rank")) >= p.getAs[Double]("cosine") - 1e-12)
        }
      }
    }
  }

  test("ivfTopK with nprobe = nlist is exactly brute force") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.limit(4)
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8)
      .orderBy("query_id", "rank").collect().toSeq
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ivf.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))) ==
      bf.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))))
    // partial (nprobe < nlist) stays consistent: scores are a subset, so
    // per-rank cosine never exceeds brute force
    val part = Similarity.ivfTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 2).collect()
    val bfm = bf.map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    part.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Int]("rank"))
      bfm.get(key).foreach(b => assert(r.getAs[Double]("cosine") <= b + 1e-12))
    }
  }

  test("langId classifies real multilingual snippets") {
    // note: testdata documents.lang labels are random — the text is the
    // same synthetic English-ish vocabulary for every label, so accuracy
    // against them is meaningless; test on genuine language samples.
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy that the sun is out"),
      ("de", "der hund und die katze sind nicht mit dem mann in das haus gegangen"),
      ("fr", "le chat est dans la maison et les enfants sont pour une promenade"),
      ("es", "el perro y la gata que viven por la casa con los vecinos para siempre"),
      ("zh", "今天天气很好我们一起去公园散步然后吃饭")).toDF("lang", "t")
    val got = samples.select(col("lang"), TextAnalysis.langId(col("t")).as("pred"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    got.foreach { case (lang, pred) => assert(lang == pred, s"$lang predicted as $pred") }
  }

  test("embeddingNearDup finds a planted duplicate vector") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val first = emb.orderBy("vec_id").limit(1)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    val planted = Seq((9001L, first)).toDF("vec_id", "embedding")
    val all = emb.select("vec_id", "embedding").union(planted)
    val pairs = Dedup.embeddingNearDup(all, "vec_id", "embedding",
      threshold = 0.999, planes = 4)
    val hits = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.exists(_._2 == 9001L), s"planted dup not found: ${hits.toSeq}")
  }

  test("stratified sampling respects fractions roughly") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sampled = Sampling.stratified(docs, "lang",
      Map("en" -> 0.5, "de" -> 0.0, "fr" -> 1.0, "es" -> 0.0, "zh" -> 0.0))
    val counts = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("de") && !counts.contains("es"))
    val frTotal = docs.where(col("lang") === "fr").count()
    assert(counts.getOrElse("fr", 0L) == frTotal)
    assert(counts.getOrElse("en", 0L) > 0)
  }

  test("langId table form agrees with the per-row expression on the corpus") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val exprForm = docs.select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_e"))
    val tableForm = graft.operators.LangId.table(docs, "doc_id", "text")
      .withColumnRenamed("lang", "lang_t")
    val diff = exprForm.join(tableForm, Seq("doc_id"))
      .where(col("lang_e") =!= col("lang_t")).count()
    assert(diff == 0)
  }

  test("token counts and quality score behave") {
    val df = Seq((1L, "The quick brown fox, it jumped!"), (2L, "")).toDF("id", "t")
    val r = df.select(
      TextAnalysis.tokenCount(col("t")).as("tc"),
      TextAnalysis.bpeishTokenCount(col("t")).as("bc"),
      TextAnalysis.qualityScore(col("t")).as("q")).orderBy("id").collect()
    assert(r(0).getInt(0) == 6)
    assert(r(0).getInt(1) == 8) // 6 words + comma + bang
    assert(r(1).getInt(0) == 0)
    assert(r(0).getDouble(2) > r(1).getDouble(2))
  }

  test("pmiBigrams: hand-computed collocation score, minCount filter") {
    // corpus: "x y", "x y", "x z" → N=6 unigram tokens (x:3, y:2, z:1),
    // B=3 bigram tokens ((x,y):2, (x,z):1). minCount=2 keeps only (x,y):
    // pmi = ln((2·6·6)/(3·3·2)) = ln(4)
    val docs = Seq("x y", "x y", "x z").toDF("text")
    val got = TextAnalysis.pmiBigrams(docs, "text", minCount = 2)
      .as[(String, String, Long, Double)].collect()
    assert(got.toSeq == Seq(("x", "y", 2L, math.floor(math.log(4.0) * 1e6 + 0.5) / 1e6)))
    // second corpus: "a b","a b","a c","a c","b c" — N=10 (a:4,b:3,c:3),
    // B=5 ((a,b):2,(a,c):2,(b,c):1). pmi(a,b)=ln(200/60), pmi(b,c)=ln(100/45);
    // minCount=1 admits the hapax pair and the threshold drops it
    val docs2 = Seq("a b", "a b", "a c", "a c", "b c").toDF("text")
    val all = TextAnalysis.pmiBigrams(docs2, "text", minCount = 1)
      .as[(String, String, Long, Double)].collect().map(r => (r._1, r._2) -> r._4).toMap
    assert(all.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    assert(math.abs(all(("a", "b")) - math.log(200.0 / 60.0)) < 1e-6)
    assert(math.abs(all(("b", "c")) - math.log(100.0 / 45.0)) < 1e-6)
    val capped = TextAnalysis.pmiBigrams(docs2, "text", minCount = 2)
      .as[(String, String, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(capped == Set(("a", "b"), ("a", "c")))
  }

  test("psiFixedBins: identical snapshots score 0; a full shift is hand-computable") {
    import graft.operators.Drift
    val a = Seq(1L, 2L, 3L, 7L, 8L).toDF("v")
    val same = Drift.psiFixedBins(a, a, "v", lo = 0L, hi = 10L, bins = 2)
      .select("psi_term", "psi_total").as[(Double, Double)].collect()
    assert(same.forall { case (t, tot) => t == 0.0 && tot == 0.0 })
    // A all in bin 0, B all in bin 1 (2 rows each, Laplace-smoothed):
    // pa0=3/4, pb0=1/4 → term (1/2)·ln3; symmetric in bin 1 →
    // total = ln3 ≈ 1.098612 (each term nano-floored to 0.549306)
    val lo2 = Seq(0L, 0L).toDF("v")
    val hi2 = Seq(9L, 9L).toDF("v")
    val shifted = Drift.psiFixedBins(lo2, hi2, "v", 0L, 10L, 2)
      .orderBy("bin")
      .select("bin", "c_a", "c_b", "psi_term", "psi_total")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(shifted.toSeq == Seq(
      (0L, 2L, 0L, 0.549306, 1.098612),
      (1L, 0L, 2L, 0.549306, 1.098612)))
  }

  test("psiFixedBins: out-of-range values clamp into the edge bins") {
    import graft.operators.Drift
    val a = Seq(-50L, 500L).toDF("v")
    val b = Seq(5L, 5L).toDF("v")
    val bins = Drift.psiFixedBins(a, b, "v", 0L, 10L, 2)
      .orderBy("bin").select("c_a", "c_b").as[(Long, Long)].collect()
    assert(bins.toSeq == Seq((1L, 0L), (1L, 2L)))
  }

  test("samplers keep NULL-keyed rows (window-parity of the prefix-sum rewrite)") {
    import graft.operators.Sampling
    val df = Seq((Option("en"), 1L, 10L), (Option.empty[String], 2L, 10L),
      (Option.empty[String], 3L, 10L), (Option("fr"), 4L, 10L))
      .toDF("lang", "id", "toks")
    // budget 15: NULL group keeps both docs (offsets 0 and 10 < 15) —
    // a plain-equality join-back would have dropped the group entirely
    val byKey = Sampling.budgetSample(df, "lang", "id", "toks", budget = 15L)
      .groupBy("lang").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byKey == Map(Option("en") -> 1L, None -> 2L, Option("fr") -> 1L))
    assert(Sampling.perKey(df, Seq("lang"), "id", 1)
      .where(col("lang").isNull).count() == 1L)
  }

  test("Validate.check: hand-counted violations per rule class") {
    import graft.operators.Validate._
    val df = Seq(
      (1L, Some(5.0), "A", "AIR"),
      (1L, Some(60.0), "R", "air"),   // range + set violations; dup key
      (2L, None, "N", "RAIL"),        // null range violation
      (3L, Some(10.0), "A", "REG AIR")
    ).toDF("k", "q", "flag", "mode")
    val got = check(df, Seq(
      NotNull("q"), InRange("q", 1, 50), InSet("flag", Seq("A", "N")),
      MatchesRegex("mode", "[A-Z ]+"), Unique("k")))
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got(("not_null", "q")) == ((1L, 4L)))
    assert(got(("in_range", "q")) == ((2L, 4L)))       // 60.0 and NULL
    assert(got(("in_set", "flag")) == ((1L, 4L)))      // R
    assert(got(("matches_regex", "mode")) == ((1L, 4L))) // "air"
    assert(got(("unique", "k")) == ((2L, 4L)))         // both k=1 rows
  }

  test("drift binning: every in-range-or-clamped value lands in exactly one bin") {
    import graft.operators.Drift
    // pseudo-random longs spanning far outside [lo, hi) — counts must
    // total the row count (nothing dropped, nothing double-counted),
    // matching a driver-side replica of the binning
    val vals = (0 until 500).map(i => ((i * 2654435761L) % 4000L) - 1000L)
    val (lo, hi, bins) = (0L, 2000L, 8)
    def bruteBin(v: Long): Long = {
      val q = (v - lo) * bins / (hi - lo) // JVM / truncates like Spark DIV
      math.min(math.max(q, 0L), bins - 1L)
    }
    val brute = vals.groupBy(bruteBin).view.mapValues(_.size.toLong).toMap
    val got = Drift.psiFixedBins(vals.toDF("v"), vals.toDF("v"), "v", lo, hi, bins)
      .select("bin", "c_a").as[(Long, Long)].collect().toMap
    assert(got.values.sum == vals.size)
    assert((0L until bins).forall(b => got(b) == brute.getOrElse(b, 0L)))
  }

  test("ksFixedBins: identical snapshots score 0; full separation scores 1") {
    import graft.operators.Drift
    val a = Seq(1L, 2L, 7L).toDF("v")
    val same = Drift.ksFixedBins(a, a, "v", 0L, 10L, 2)
      .select("ks").as[Double].collect()
    assert(same.forall(_ == 0.0))
    // A all in bin 0, B all in bin 1: cumA = [2,2], cumB = [0,2],
    // na = nb = 2 → d_num = [|2·2−0|, |4−4|] = [4, 0]; KS = 4/4 = 1.0
    val got = Drift.ksFixedBins(Seq(0L, 0L).toDF("v"), Seq(9L, 9L).toDF("v"),
        "v", 0L, 10L, 2)
      .orderBy("bin")
      .select("bin", "c_a", "c_b", "d_num", "ks")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(got.toSeq == Seq((0L, 2L, 0L, 4L, 1.0), (1L, 0L, 2L, 0L, 1.0)))
  }

  test("ksFixedBins: localized shift registers where PSI smears — hand case") {
    import graft.operators.Drift
    // A uniform over bins {0,1,2,3}; B identical except bin1 mass moved
    // to bin2: the CDF gap opens only at bin 1 (|2·4−1·4| = 4)
    val a = Seq(0L, 3L, 5L, 8L).toDF("v")   // bins 0,1,2,3 (hi=10, 4 bins)
    val b = Seq(0L, 5L, 5L, 8L).toDF("v")   // bins 0,2,2,3
    val got = Drift.ksFixedBins(a, b, "v", 0L, 10L, 4)
      .orderBy("bin").select("d_num").as[Long].collect()
    assert(got.toSeq == Seq(0L, 4L, 0L, 0L))
  }

  test("seasonalDecompose: hand-checked phase means; pre-epoch ts floors correctly") {
    import graft.operators.WindowOps
    // period 10, 2 phases: ts 0,20 → phase 0 (mean 1.5); ts 10 and the
    // PRE-EPOCH ts -1 → phase 1 (floor(-1/10) = -1, pmod(-1,2) = 1 —
    // truncating DIV would put -1 in phase 0): mean (3+5)/2 = 4
    val ev = Seq((1L, 0L, 1.0), (2L, 10L, 3.0), (3L, 20L, 2.0),
      (4L, -1L, 5.0)).toDF("id", "ts", "v")
    val got = WindowOps.seasonalDecompose(ev, "id", "ts", "v",
        period = 10L, phases = 2)
      .orderBy("id")
      .select("id", "phase", "seasonal", "residual")
      .as[(Long, Long, Double, Double)].collect()
    assert(got.toSeq == Seq(
      (1L, 0L, 1.5, -0.5), (2L, 1L, 4.0, -1.0), (3L, 0L, 1.5, 0.5),
      (4L, 1L, 4.0, 1.0)))
  }

  test("pathTripleCounts: hand-checked triples per key, tails dropped") {
    import graft.operators.WindowOps
    // u1: A B A B  → ABA, BAB ; u2: A B  → too short for any triple
    val ev = Seq((1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "A"), (1L, 4L, "B"),
      (2L, 1L, "A"), (2L, 2L, "B")).toDF("u", "seq", "t")
    val got = WindowOps.pathTripleCounts(ev, Seq("u"), Seq("seq"), "t")
      .as[(String, String, String, Long)].collect().toSet
    assert(got == Set(("A", "B", "A", 1L), ("B", "A", "B", 1L)))
  }

  test("native cosine expression: bit-identical to HOF form, codegen'd") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val a = emb.select(col("vec_id"), col("embedding").as("va")).where(col("vec_id") < 50)
    val pairs = a.crossJoin(a.select(col("vec_id").as("id2"), col("va").as("vb")).limit(5))
    val both = pairs.select(
      Similarity.cosine(col("va"), col("vb")).as("native"),
      Similarity.cosineHof(col("va"), col("vb")).as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0)
    // the expression must not fall back: its generated code path is the
    // static kernel — spot-check via a plan containing the pretty name
    val plan = both.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_cosine"))
    // SQL registration
    graft.functions.CosineSimilarity.register(spark)
    emb.limit(3).createOrReplaceTempView("emb3")
    val sqlRes = spark.sql(
      "SELECT graft_cosine(embedding, embedding) c FROM emb3").collect()
    assert(sqlRes.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
    // top-k aggregate is SQL-registered too
    graft.functions.TopKByScore.register(spark)
    emb.limit(100).createOrReplaceTempView("emb100")
    val topSql = spark.sql(
      """SELECT graft_top_k(CAST(vec_id AS DOUBLE), vec_id, 3) t
        |FROM emb100""".stripMargin).collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(topSql.map(_.getLong(1)) == Seq(99L, 98L, 97L))
    // text kernels are SQL-registered too
    graft.functions.WordShingles.register(spark)
    graft.functions.NormalizeWs.register(spark)
    val txt = spark.sql(
      "SELECT graft_shingles('a b c d', 3) s, graft_normalize_ws('  A  b\tC ') n")
      .collect()(0)
    assert(txt.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(txt.getString(1) == "a b c")
  }

  test("graft_shingles SQL registration rejects bad arguments with AnalysisException") {
    graft.functions.WordShingles.register(spark)
    def bad(sql: String): org.apache.spark.sql.AnalysisException =
      intercept[org.apache.spark.sql.AnalysisException] { spark.sql(sql).collect() }
    // non-literal n (used to be a raw ClassCastException/NPE)
    assert(bad("SELECT graft_shingles(text, doc_id) FROM parquet.`" +
      s"$dir/documents.parquet`").getMessage.contains("foldable"))
    assert(bad("SELECT graft_shingles('a b', NULL)").getMessage
      .contains("must not be NULL"))
    assert(bad("SELECT graft_shingles('a b', 0)").getMessage
      .contains(">= 1"))
    assert(bad("SELECT graft_shingles('a b', 2, 'yes')").getMessage
      .contains("boolean"))
    assert(bad("SELECT graft_shingles('a b')").getMessage
      .contains("2 or 3"))
    // the happy path still registers and computes
    assert(spark.sql("SELECT graft_shingles('a b c', 2, false) s")
      .collect()(0).getSeq[String](0) == Seq("a b", "b c"))
  }

  test("range join: bucketized equals naive cross+filter") {
    val pts = Seq((1L, 5L), (1L, 25L), (2L, 14L)).toDF("k", "t")
    val ivs = Seq((1L, 0L, 10L), (1L, 20L, 30L), (2L, 0L, 10L)).toDF("k", "s", "e")
    val got = RangeJoin.pointInInterval(pts, ivs, Seq("k"), "t", "s", "e", 7L)
      .select("k", "t", "s").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val naive = pts.join(ivs, Seq("k"))
      .where(col("t") >= col("s") && col("t") <= col("e"))
      .select("k", "t", "s").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == naive && got == Set((1L, 5L, 0L), (1L, 25L, 20L)))
  }

  test("intervalOverlap ≡ naive overlap join; multi-bucket pairs emit once") {
    // seeded random closed intervals per key — lengths spanning several
    // buckets so the overlap-start dedup trick is actually exercised
    val rnd = new scala.util.Random(42)
    def mk(n: Int, idBase: Long) = (0 until n).map { i =>
      val k = rnd.nextInt(3).toLong
      val s = rnd.nextInt(100).toLong
      (k, idBase + i, s, s + rnd.nextInt(25).toLong)
    }
    val ls = mk(40, 1000L); val rs = mk(40, 2000L)
    val l = ls.toDF("k", "id_l", "s_l", "e_l")
    val r = rs.toDF("k", "id_r", "s_r", "e_r")
    for (w <- Seq(1L, 7L, 100L)) {
      val got = RangeJoin.intervalOverlap(l, r, Seq("k"),
          "s_l", "e_l", "s_r", "e_r", bucketWidth = w)
        .select("id_l", "id_r").collect()
        .map(x => (x.getLong(0), x.getLong(1)))
      val naive = (for {
        (k1, i1, s1, e1) <- ls; (k2, i2, s2, e2) <- rs
        if k1 == k2 && s1 <= e2 && s2 <= e1
      } yield (i1, i2))
      assert(got.length == got.toSet.size, s"duplicate pairs at width $w")
      assert(got.toSet == naive.toSet, s"pair set mismatch at width $w")
    }
    // inverted (empty) intervals contain no points -> never pair
    val inv = Seq((1L, 9L, 10L, 5L)).toDF("k", "id_l", "s_l", "e_l")
    val ok = Seq((1L, 8L, 4L, 12L)).toDF("k", "id_r", "s_r", "e_r")
    assert(RangeJoin.intervalOverlap(inv, ok, Seq("k"),
      "s_l", "e_l", "s_r", "e_r", 10L).count() == 0)
  }

  test("asof join: latest right at/before left time, null when none") {
    val l = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 10L, 100.0), (1L, 15L, 150.0), (2L, 50L, 500.0))
      .toDF("k", "rt", "v")
    val got = AsOfJoin.asof(l, r, Seq("k"), "t", "rt", Seq("v"))
      .select(col("tag"), col("v_asof")).collect()
      .map(row => row.getString(0) -> row.get(1)).toMap
    assert(got("a") == 100.0) // equal timestamp matches (inclusive)
    assert(got("b") == 150.0) // latest at/before 20
    assert(got("c") == null)  // no right row at/before 5
  }

  test("asof forward/nearest directions and tolerance (merge_asof parity)") {
    val l = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 13L, "m"), (2L, 5L, "c"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 10L, 100.0), (1L, 15L, 150.0), (2L, 50L, 500.0))
      .toDF("k", "rt", "v")
    def run(dirn: String, tol: Option[Long] = None) =
      AsOfJoin.asof(l, r, Seq("k"), "t", "rt", Seq("v"), direction = dirn,
          tolerance = tol)
        .select(col("tag"), col("v_asof")).collect()
        .map(row => row.getString(0) -> row.get(1)).toMap
    val fwd = run("forward")
    assert(fwd("a") == 100.0) // equal t inclusive in forward too
    assert(fwd("b") == null)  // nothing at/after 20
    assert(fwd("m") == 150.0) // earliest at/after 13
    assert(fwd("c") == 500.0)
    val near = run("nearest")
    assert(near("a") == 100.0)
    assert(near("b") == 150.0) // only backward exists
    assert(near("m") == 150.0) // |13-15| = 2 < |13-10| = 3
    assert(near("c") == 500.0) // only forward exists
    // tie at equal distance resolves backward (pandas' rule)
    val tie = AsOfJoin.asof(
      Seq((1L, 12L, "x")).toDF("k", "t", "tag"), r, Seq("k"), "t", "rt",
      Seq("v"), direction = "nearest")
      .select(col("v_asof")).collect()(0).getDouble(0)
    assert(tie == 100.0) // 12-10 == 15-12 -> backward wins
    // tolerance voids far matches without disturbing close ones
    val bounded = run("nearest", tol = Some(2L))
    assert(bounded("m") == 150.0 && bounded("a") == 100.0)
    assert(bounded("b") == null) // |20-15| = 5 > 2
    // TIMESTAMP time columns: normalized to epoch-µs internally, so a
    // Long tolerance (µs) binds instead of failing interval analysis
    val lt = l.withColumn("t", timestamp_seconds(col("t")))
    val rt = r.withColumn("rt", timestamp_seconds(col("rt")))
    val ts = AsOfJoin.asof(lt, rt, Seq("k"), "t", "rt", Seq("v"),
        direction = "nearest", tolerance = Some(2000000L)) // 2 s in µs
      .select(col("tag"), col("v_asof")).collect()
      .map(row => row.getString(0) -> row.get(1)).toMap
    assert(ts("m") == 150.0 && ts("a") == 100.0 && ts("b") == null)
  }

  test("resampleOhlc: deterministic open/close via tiebreak, one bar per bucket") {
    val ev = Seq(("x", 0L, 1L, 5.0), ("x", 5L, 2L, 9.0), ("x", 9L, 3L, 2.0),
                 ("x", 12L, 4L, 7.0), ("y", 3L, 5L, 1.0))
      .toDF("typ", "t", "id", "v")
    val got = WindowOps.resampleOhlc(ev, Seq("typ"), "t", "v", period = 10L,
        tieBreak = Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toMap
    assert(got(("x", 0L)) == ((3L, 5.0, 9.0, 2.0, 2.0))) // open=first, close=last
    assert(got(("x", 1L)) == ((1L, 7.0, 7.0, 7.0, 7.0)))
    assert(got(("y", 0L)) == ((1L, 1.0, 1.0, 1.0, 1.0)))
    // equal-ts rows: the tiebreak id decides open/close deterministically
    val dup = Seq(("z", 1L, 1L, 10.0), ("z", 1L, 2L, 20.0))
      .toDF("typ", "t", "id", "v")
    val bar = WindowOps.resampleOhlc(dup, Seq("typ"), "t", "v", 10L, Seq("id"))
      .collect()(0)
    assert(bar.getDouble(3) == 10.0 && bar.getDouble(6) == 20.0)
  }

  test("bucketed join is shuffle-free and matches the plain join") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    Bucketing.writeBucketed(li, "li_b", "l_orderkey", 8)
    Bucketing.writeBucketed(o, "o_b", "l_orderkey", 8)
    val joined = Bucketing.bucketedJoin(spark, "li_b", "o_b", "l_orderkey")
    joined.write.format("noop").mode("overwrite").save()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() ==
      li.join(o, Seq("l_orderkey")).count())
  }

  test("persisted IVF index: bucket-pruned probe scan, no corpus-side shuffle, exact at full probe") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", "ivfspec_idx",
      nlist = 8, buckets = 16)
    val queries = emb.where(col("vec_id") < 3)
    val probed = Similarity.ivfTopKIndexed(spark, "ivfspec_idx",
      queries, "vec_id", "embedding", k = 3, nprobe = 2)
    probed.write.format("noop").mode("overwrite").save()
    val plan = probed.queryExecution.executedPlan.toString
    // the index scan prunes to the probed lists' buckets — unprobed
    // inverted lists are never read
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"expected bucket pruning on the index scan:\n$plan")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"expected fewer than all buckets read: ${sel.get.matched}")
    // probe side broadcasts; the only exchange is the final bounded
    // top-k finisher, never a corpus repartition
    assert(!plan.contains("Exchange hashpartitioning(__cluster"),
      s"corpus side must not shuffle on the list id:\n$plan")
    // nprobe = nlist ≡ exact brute force
    val full = Similarity.ivfTopKIndexed(spark, "ivfspec_idx",
      queries, "vec_id", "embedding", k = 3, nprobe = 8)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3)
    assert(full.collect().toSet == exact.collect().toSet && full.count() == 9)
  }

  test("filtered indexed search: payload predicate pushes to the index scan, exact at full probe") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding", "label")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", "ivfspec_filt",
      nlist = 8, buckets = 16, payloadCols = Seq("label"))
    val queries = emb.where(col("vec_id") < 5)
    val got = Similarity.ivfTopKIndexed(spark, "ivfspec_filt",
      queries, "vec_id", "embedding", k = 3, nprobe = 8,
      filter = Some(col("label") === 2))
    got.write.format("noop").mode("overwrite").save()
    val plan = got.queryExecution.executedPlan.toString
    // the metadata predicate reaches the index's parquet scan — rows
    // failing it are skipped at the source, not post-joined away
    assert(plan.contains("PushedFilters") && plan.contains("label"),
      s"expected label predicate pushed to the index scan:\n$plan")
    // nprobe = nlist ≡ exact brute force over the label-filtered corpus
    val exact = Similarity.bruteForceTopK(emb.where(col("label") === 2),
      "vec_id", "embedding", queries, "vec_id", "embedding", k = 3,
      excludeSelf = true)
    assert(got.collect().toSet == exact.collect().toSet)
    val labels = emb.select("vec_id", "label")
      .withColumnRenamed("vec_id", "neighbor_id")
    assert(got.join(labels, Seq("neighbor_id"))
      .where(col("label") =!= 2).count() == 0)
  }

  test("appendToIvfIndex: appended batch joins the right lists, bucket pruning intact") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    Similarity.buildIvfIndex(emb.where(col("vec_id") < 150),
      "vec_id", "embedding", "ivfspec_app", nlist = 8, buckets = 16)
    Similarity.appendToIvfIndex(emb.where(col("vec_id") >= 150),
      "vec_id", "embedding", "ivfspec_app")
    // index now covers the full corpus: full probe ≡ brute force over ALL
    val queries = emb.where(col("vec_id") < 3)
    val got = Similarity.ivfTopKIndexed(spark, "ivfspec_app",
      queries, "vec_id", "embedding", k = 3, nprobe = 8)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3)
    assert(got.collect().toSet == exact.collect().toSet)
    // a sparse probe still bucket-prunes after the append
    val probed = Similarity.ivfTopKIndexed(spark, "ivfspec_app",
      queries, "vec_id", "embedding", k = 3, nprobe = 2)
    probed.write.format("noop").mode("overwrite").save()
    val plan = probed.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"expected bucket pruning after append:\n$plan")
    // appending into a non-bucketed table is refused
    emb.limit(1).write.mode("overwrite").saveAsTable("ivfspec_plain")
    intercept[IllegalArgumentException] {
      Bucketing.appendBucketed(emb.limit(1).select(col("vec_id")),
        "ivfspec_plain", "vec_id")
    }
  }

  test("appendToIvfPqIndex: appended codes come from the PERSISTED codebook, index ≡ from-scratch build") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    // TRAINED codebook — the case where a caller-side re-derivation
    // would silently mint different codes than the index holds
    val cb = Similarity.trainPqCodebooks(emb.where(col("vec_id") < 150),
      "vec_id", "embedding", m = 4, ksub = 8, dim = 64, lloydIters = 1)
    Similarity.buildIvfPqIndex(emb.where(col("vec_id") < 150),
      "vec_id", "embedding", "ivfpqspec_app", nlist = 8, buckets = 16,
      codebook = Some(cb))
    Similarity.appendToIvfPqIndex(emb.where(col("vec_id") >= 150),
      "vec_id", "embedding", "ivfpqspec_app")
    // every appended row's codes equal a fresh encode under the SAME
    // trained codebook (read back from the index, not re-derived)
    val want = Similarity.pqEncode(emb.where(col("vec_id") >= 150),
        "vec_id", "embedding", codebook = Some(cb))
      .select(col("vec_id").as("__cid"), col("codes").as("__want"))
    val stored = spark.table("ivfpqspec_app").where(col("__cid") >= 150)
    assert(stored.join(want, Seq("__cid"))
      .where(col("__codes") =!= col("__want")).count() == 0)
    assert(stored.count() == emb.where(col("vec_id") >= 150).count())
    // full probe over the grown index ≡ the same probe over a
    // from-scratch build of the full corpus (assignment + codes both)
    val queries = emb.where(col("vec_id") < 3)
    val grown = Similarity.ivfPqTopKIndexed(spark, "ivfpqspec_app",
      queries, "vec_id", "embedding", k = 3, nprobe = 8).collect().toSet
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      "ivfpqspec_full", nlist = 8, buckets = 16, codebook = Some(cb))
    val full = Similarity.ivfPqTopKIndexed(spark, "ivfpqspec_full",
      queries, "vec_id", "embedding", k = 3, nprobe = 8).collect().toSet
    // centroid training saw different corpora, so list SHAPES differ,
    // but at nprobe = nlist both reduce to exact ADC over all codes
    assert(grown == full)
    // a sparse probe still bucket-prunes after the append
    val probed = Similarity.ivfPqTopKIndexed(spark, "ivfpqspec_app",
      queries, "vec_id", "embedding", k = 3, nprobe = 2)
    probed.write.format("noop").mode("overwrite").save()
    val plan = probed.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"expected bucket pruning after append:\n$plan")
  }

  test("deleteFromVectorIndex: takedowns leave the IVF and IVF-PQ probes ≡ survivor rebuilds") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val dead = emb.where(col("vec_id") % 9 === 0).select("vec_id")
    val queries = emb.where(col("vec_id") < 3)
    // IVF-Flat: full-probe exactness over survivors after the delete
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", "ivfdel_idx",
      nlist = 8, buckets = 16)
    Similarity.deleteFromVectorIndex(spark, "ivfdel_idx", dead, "vec_id")
    val got = Similarity.ivfTopKIndexed(spark, "ivfdel_idx",
      queries, "vec_id", "embedding", k = 3, nprobe = 8)
    val exact = Similarity.bruteForceTopK(
      emb.where(col("vec_id") % 9 =!= 0), "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3)
    assert(got.collect().toSet == exact.collect().toSet)
    // IVF-PQ: same centroids/codebook, rows gone — probe ≡ a build
    // over the survivors with the same (corpus-independent) codebook
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", "ivfpqdel_idx",
      nlist = 8, buckets = 16)
    Similarity.deleteFromVectorIndex(spark, "ivfpqdel_idx", dead, "vec_id")
    assert(spark.table("ivfpqdel_idx")
      .where(col("__cid") % 9 === 0).count() == 0)
    val probed = Similarity.ivfPqTopKIndexed(spark, "ivfpqdel_idx",
      queries, "vec_id", "embedding", k = 3, nprobe = 8)
    assert(probed.join(dead.withColumnRenamed("vec_id", "neighbor_id"),
      Seq("neighbor_id"), "semi").count() == 0,
      "taken-down ids must never be returned")
    // bucket layout intact after the rewrite
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("ivfpqdel_idx")).bucketSpec
    assert(spec.exists(_.bucketColumnNames == Seq("__cluster")))
  }

  test("semanticDedup: planted copies dropped min-id-first, disjoint cells never prune") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").limit(100)
    val cents = emb.where(col("vec_id") < 4)
    val planted = emb.where(col("vec_id") < 30)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val survivors = Dedup.semanticDedup(emb.union(planted),
      "vec_id", "embedding", cents, "vec_id", "embedding", threshold = 0.95)
    // every planted copy has an identical (cosine 1.0) same-cell neighbor
    // at a smaller id → dropped; every original survives
    val ids = survivors.select("vec_id").as[Long].collect().toSet
    assert(ids == emb.select("vec_id").as[Long].collect().toSet)
    // survivor cells agree with the plain assignment step
    val cells = Similarity.assignCentroids(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding")
      .select(col("vec_id"), col("centroid_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    survivors.collect().foreach(r =>
      assert(r.getLong(1) == cells(r.getLong(0))))
    // a threshold above the max in-corpus cosine prunes nothing
    assert(Dedup.semanticDedup(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding", threshold = 0.9999).count() == 100)
    // over-cap cells skip pruning (keep everything) instead of running m²
    assert(Dedup.semanticDedup(emb.union(planted), "vec_id", "embedding",
      cents, "vec_id", "embedding", threshold = 0.95,
      maxCellSize = Some(1)).count() == 130)
    intercept[IllegalArgumentException] {
      Dedup.semanticDedup(emb, "vec_id", "embedding",
        cents, "vec_id", "embedding", threshold = 1.5)
    }
  }

  test("budgetSample distributed prefix sum ≡ brute-force md5-order admission") {
    // the md5-prefix sub-bucket machinery must reproduce the naive
    // single-window running sum BIT-EXACTLY: brute-force the per-key
    // (md5(id), id)-ordered exclusive prefix in Scala and compare the
    // admitted sets. 300 ids spread over many of the 256 buckets, token
    // sizes varied so admissions cut mid-bucket, budgets chosen so some
    // keys exhaust supply and others cut early.
    def md5hex(s: String): String = TestReplay.md5hex(s)
    val rows = Seq.tabulate(300)(i =>
      (i.toLong, (i % 3) match { case 0 => "en"; case 1 => "de"; case _ => "fr" },
        (i % 7 + 1) * 10L))
    val docs = rows.toDF("id", "k", "n")
    for (budget <- Seq(120L, 777L, 100000L)) {
      val got = Sampling.budgetSample(docs, "k", "id", "n", budget)
        .select("id").as[Long].collect().toSet
      val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
        val ordered = rs.sortBy(r => (md5hex(r._1.toString), r._1))
        val cum = ordered.scanLeft(0L)(_ + _._3) // exclusive prefix
        ordered.zip(cum).collect { case (r, off) if off < budget => r._1 }
      }.toSet
      assert(got == want, s"budget $budget: ${got.size} vs ${want.size}")
    }
  }

  test("mixtureSample: per-key budgets from weights, unlisted keys dropped") {
    val docs = Seq.tabulate(40)(i =>
      (i.toLong, if (i % 4 == 0) "a" else if (i % 4 == 1) "b" else
        if (i % 4 == 2) "c" else "d", 100L))
      .toDF("id", "k", "n")
    val kept = Sampling.mixtureSample(docs, "k", "id", "n",
      totalBudget = 1000L, weights = Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.0))
    val byKey = kept.groupBy("k").agg(sum("n").as("tok"), count("*").as("cnt"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // a: budget 500, docs of 100 tokens → first crossing included = 5 docs
    assert(byKey("a") == ((500L, 5L)))
    // b: budget 300 → 3 docs
    assert(byKey("b") == ((300L, 3L)))
    // c has weight 0, d is unlisted → both excluded entirely
    assert(!byKey.contains("c") && !byKey.contains("d"))
    // deterministic: same call, same keep set
    val again = Sampling.mixtureSample(docs, "k", "id", "n",
      totalBudget = 1000L, weights = Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.0))
    assert(again.select("id").as[Long].collect().sorted.toSeq ==
      kept.select("id").as[Long].collect().sorted.toSeq)
    intercept[IllegalArgumentException] {
      Sampling.mixtureSample(docs, "k", "id", "n", 1000L,
        Seq("a" -> 0.5, "a" -> 0.2))
    }
  }

  test("temperatureMixture: budgets follow tokens^alpha shares, alpha=0 is uniform") {
    // keys with 400/100 tokens: sqrt weights 20:10 → budgets 600/300 of 900
    val docs = (Seq.tabulate(8)((i: Int) => (i.toLong, "big", 50L)) ++
      Seq.tabulate(4)((i: Int) => (100L + i, "small", 25L)))
      .toDF("id", "k", "n")
    val kept = Sampling.temperatureMixture(docs, "k", "id", "n",
      totalBudget = 900L, alpha = 0.5)
    val byKey = kept.groupBy("k").agg(sum("n").as("tok")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // big: budget floor(900*20/30)=600 → 12 docs of 50... only 8 exist
    // (400 tokens) → keeps all; small: budget 300 > 100 total → keeps all
    assert(byKey == Map("big" -> 400L, "small" -> 100L))
    // tighter budget actually cuts: big gets 200 → 4 docs of 50 (first
    // crossing included ⇒ 200 exactly), small gets 100 → its full 100
    val tight = Sampling.temperatureMixture(docs, "k", "id", "n",
      totalBudget = 300L, alpha = 0.5)
    val tightKey = tight.groupBy("k").agg(sum("n").as("tok")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tightKey("big") == 200L && tightKey("small") == 100L)
    // alpha = 0: every key weight 1 → equal budgets regardless of size
    val uni = Sampling.temperatureMixture(docs, "k", "id", "n",
      totalBudget = 200L, alpha = 0.0)
    val uniKey = uni.groupBy("k").agg(sum("n").as("tok")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uniKey("big") == 100L && uniKey("small") == 100L)
    intercept[IllegalArgumentException] {
      Sampling.temperatureMixture(docs, "k", "id", "n", 900L, alpha = 2.0)
    }
  }

  test("novelAgainstBloom: never false-novel, exact at ample bits, over-drops only when tiny") {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val corpus = base.where(col("doc_id") < 300)
    val batch = base.where(col("doc_id") >= 250) // 250–299 planted as seen
    val exact = Dedup.novelAgainst(batch, corpus, "text")
      .select("doc_id").as[Long].collect().toSet
    val bloomed = Dedup.novelAgainstBloom(batch, corpus, "text")
      .select("doc_id").as[Long].collect().toSet
    // membership has no false negatives → novelty has no false positives
    assert(bloomed.subsetOf(exact))
    // at 2^23 bits over ~300 items the FP rate is ~0: equality holds
    assert(bloomed == exact)
    // the planted overlap is always recognized as seen
    assert(!bloomed.exists(_ < 300))
    // a deliberately starved filter may over-drop but stays one-sided,
    // and is deterministic call-to-call
    val tiny = Dedup.novelAgainstBloom(batch, corpus, "text",
      expectedItems = 300L, numBits = 256L)
      .select("doc_id").as[Long].collect().toSet
    assert(tiny.subsetOf(exact))
    val tiny2 = Dedup.novelAgainstBloom(batch, corpus, "text",
      expectedItems = 300L, numBits = 256L)
      .select("doc_id").as[Long].collect().toSet
    assert(tiny == tiny2)
    // empty corpus → null sketch → everything is novel
    assert(Dedup.novelAgainstBloom(batch, corpus.where(lit(false)), "text")
      .count() == batch.count())
  }

  test("vocabularyDrift: movers rank by frequency shift, stable words near zero") {
    val oldSnap = Seq((1L, "alpha beta beta gamma"), (2L, "alpha beta delta"))
      .toDF("doc_id", "text")
    val newSnap = Seq((3L, "alpha spam spam spam"), (4L, "alpha beta"))
      .toDF("doc_id", "text")
    val drift = TextAnalysis.vocabularyDrift(oldSnap, newSnap, "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // counts — old: alpha 2, beta 3, gamma 1, delta 1 (T=7)
    //          new: alpha 2, spam 3, beta 1 (T=6)
    val m = drift.map(d => d._1 -> d).toMap
    assert(m("spam")._2 == 0L && m("spam")._3 == 3L)
    // spam (0→3/6) is the biggest mover
    assert(drift.head._1 == "spam")
    // alpha moved least: |2/6 - 2/7| is the smallest nonzero shift
    assert(drift.last._1 == "alpha" || m("alpha")._4 <= drift.map(_._4).max / 10)
    // drift is symmetric-bounded: every value in [0, 1)
    assert(drift.forall(d => d._4 >= 0.0 && d._4 < 1.0))
    // words present in either side all appear (5 distinct words, topK 10)
    assert(drift.length == 5)
  }

  test("FrequentItems exact mode (capacity ≥ distinct) ≡ GROUP BY top-k; partial on map side") {
    val words = (1 to 40).flatMap(i => Seq.fill(i)(s"w$i"))
    val df = spark.createDataset(words).toDF("w").repartition(8)
    val got = TextAnalysis.heavyHitters(df, col("w"), capacity = 64, k = 7)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val expect = df.groupBy("w").count()
      .orderBy(desc("count"), col("w")).limit(7)
      .collect().zipWithIndex
      .map { case (r, i) => (i + 1, r.getString(0), r.getLong(1)) }.toSeq
    assert(got == expect)
    // the point of the sketch: map-side PARTIAL aggregation, so the
    // exchange carries sketches, not the keyspace
    val plan = TextAnalysis.heavyHitters(df, col("w"), 64, 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_frequent_items"), s"no partial aggregate in:\n$plan")
  }

  test("FrequentItems bounded mode: counts are lower bounds within N/(cap+1); heavies surface") {
    // 200 singleton items + 3 items repeated 50× each, capacity 8 — far
    // under the 203 distinct keys, so decrements must fire
    val items = (1 to 200).map(i => s"light$i") ++
      Seq.fill(50)("heavyA") ++ Seq.fill(50)("heavyB") ++ Seq.fill(50)("heavyC")
    val df = spark.createDataset(scala.util.Random.shuffle(items)).toDF("w")
      .repartition(4)
    val n = items.size.toLong
    val cap = 8
    val got = TextAnalysis.heavyHitters(df, col("w"), capacity = cap, k = cap)
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    val truth = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val slack = n / (cap + 1)
    got.foreach { case (item, c) =>
      assert(c <= truth(item), s"$item over-counted: $c > ${truth(item)}")
      assert(c >= truth(item) - slack, s"$item under bound: $c < ${truth(item)} - $slack")
    }
    // every item with true count > N/(capacity+1) is guaranteed kept
    Seq("heavyA", "heavyB", "heavyC").foreach { h =>
      assert(got.contains(h), s"true heavy hitter $h missing from $got")
    }
  }

  test("graft_frequent_items SQL registration: works on literals, validates args") {
    graft.functions.FrequentItems.register(spark)
    Seq("a", "a", "b").toDF("w").createOrReplaceTempView("hh_in")
    val row = spark.sql(
      "SELECT graft_frequent_items(w, 16, 2) AS hh FROM hh_in").collect()(0)
    val hh = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(hh == Seq(("a", 2L), ("b", 1L)))
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_frequent_items(w, w, 2) FROM hh_in").collect()
    }
    assert(e1.getMessage.contains("capacity") || e1.getMessage.contains("NON_FOLDABLE"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_frequent_items(w, 16) FROM hh_in").collect()
    }
    assert(e2.getMessage.contains("3 arguments"))
  }

  test("leakageSafeSplit: near-dup clusters never straddle splits; singletons hash-split") {
    val ids = (1L to 1000L).toDF("id")
    // clusters {1,2,3}, {10,11}, {500,501,502,503} via pair edges
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (500L, 501L), (501L, 502L), (502L, 503L)).toDF("a", "b")
    val out = Sampling.leakageSafeSplit(ids, "id", pairs, "a", "b",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val m = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 1000)
    Seq(Seq(1L, 2L, 3L), Seq(10L, 11L), Seq(500L, 501L, 502L, 503L)).foreach { c =>
      assert(c.map(m).distinct.size == 1, s"cluster $c straddles splits: ${c.map(m)}")
    }
    // the cluster draw is the MIN member's hash — identical to a
    // singleton with that id, so membership is recomputable
    val solo = Sampling.splitAssign(Seq(1L, 10L, 500L).toDF("id"), "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == solo(1L) && m(10L) == solo(10L) && m(500L) == solo(500L))
    // split fractions on the ~990 singletons are roughly honored
    val frac = m.values.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(frac("train") > 700 && frac("val") > 40 && frac("test") > 40)
    // a user column named "label" survives (cluster labels are internal)
    val labeled = Sampling.leakageSafeSplit(
      ids.withColumn("label", col("id") * 2), "id", pairs, "a", "b",
      Seq("train" -> 0.5, "test" -> 0.5))
    assert(labeled.columns.toSeq == Seq("id", "label", "split"))
    assert(labeled.where(col("label") =!= col("id") * 2).count() == 0)
  }

  test("unicodeNormalize: differential vs JDK Normalizer across all forms; SQL surface validates") {
    val tricky = Seq("café", "Å", "ﬁsh", "café mixed é",
      "", "pure ascii 123", "ẛ̣")
    val df = tricky.toDF("s")
    Seq("NFC", "NFD", "NFKC", "NFKD").foreach { form =>
      val got = df.select(TextAnalysis.unicodeNormalize(col("s"), form).as("n"))
        .collect().map(_.getString(0)).toSeq
      val expect = tricky.map(t => java.text.Normalizer.normalize(
        t, java.text.Normalizer.Form.valueOf(form)))
      assert(got == expect, s"form $form")
    }
    // NFC composes the combining acute; NFKC additionally folds the ligature
    val nfc = df.select(TextAnalysis.unicodeNormalize(col("s")).as("n"))
      .collect().map(_.getString(0))
    assert(nfc(0) == "café" && nfc(2) == "ﬁsh")
    val nfkc = df.select(TextAnalysis.unicodeNormalize(col("s"), "NFKC").as("n"))
      .collect().map(_.getString(0))
    assert(nfkc(2) == "fish")
    // nulls propagate; bad form rejected at construction
    assert(Seq[String](null).toDF("s")
      .select(TextAnalysis.unicodeNormalize(col("s"))).collect()(0).isNullAt(0))
    intercept[IllegalArgumentException] {
      TextAnalysis.unicodeNormalize(col("s"), "NFX")
    }
    // SQL surface: default form, explicit form, arg validation
    graft.functions.UnicodeNormalize.register(spark)
    df.createOrReplaceTempView("un_in")
    val viaSql = spark.sql(
      "SELECT graft_unicode_normalize(s) AS n FROM un_in").collect().map(_.getString(0))
    assert(viaSql(0) == "café")
    val viaSqlK = spark.sql(
      "SELECT graft_unicode_normalize(s, 'NFKC') AS n FROM un_in")
      .collect().map(_.getString(0))
    assert(viaSqlK(2) == "fish")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_unicode_normalize(s, 'NFX') FROM un_in").collect()
    }
    assert(e.getMessage.contains("form must be one of"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_unicode_normalize(s, s) FROM un_in").collect()
    }
    assert(e2.getMessage.contains("NON_FOLDABLE") || e2.getMessage.contains("form"))
  }

  test("saltedJoinAuto ≡ plain join under planted skew; no-hot-keys path degenerates to plain") {
    val left = spark.range(0, 5000).select(
      when(col("id") % 10 < 7, lit(0L)).otherwise(col("id") % 100).as("k"),
      col("id"))
    val right = spark.range(0, 100).select(col("id").as("k"), (col("id") * 3).as("p"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "id", "p").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expect = rows(left.join(right, Seq("k")))
    // key 0 carries 3500 of 5000 rows — over the threshold, so it salts
    val got = rows(SkewJoin.saltedJoinAuto(left, right, "k",
      factor = 4, hotThreshold = 500))
    assert(got == expect)
    // threshold nothing reaches → empty hot set → plain-join fast path
    val none = rows(SkewJoin.saltedJoinAuto(left, right, "k",
      factor = 4, hotThreshold = 1000000L))
    assert(none == expect)
    // a sketch far smaller than the key space still catches the hub
    // (lower bound ≥ threshold despite decrements) and stays correct
    val tiny = rows(SkewJoin.saltedJoinAuto(left, right, "k",
      factor = 4, hotThreshold = 500, sketchCapacity = 8))
    assert(tiny == expect)
  }

  test("bm25: postings-join scores match the formula computed by hand; only term-sharing docs appear") {
    val docs = Seq((1L, "apple banana"), (2L, "apple apple cherry"),
      (3L, "durian durian durian")).toDF("doc_id", "text")
    val queries = Seq((10L, "apple"), (11L, "apple durian")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, "doc_id", "text",
      queries, "doc_id", "text", topK = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), (r.getInt(1), r.getDouble(3))))
      .toMap
    // the same arithmetic, scalar: N=3, avglen=8/3, k1=1.2, b=0.75
    val n = 3.0; val avg = 8.0 / 3.0; val k1 = 1.2; val b = 0.75
    def idf(df: Double) = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    def tfn(tf: Double, len: Double) =
      tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len / avg))
    def q(df: Double, tf: Double, len: Double): Long =
      math.floor(idf(df) * tfn(tf, len) * 1e9).toLong
    // q10 = "apple": docs 1 (tf 1, len 2) and 2 (tf 2, len 3); df(apple)=2
    assert(got((10L, 1L))._2 == q(2, 1, 2) / 1e9)
    assert(got((10L, 2L))._2 == q(2, 2, 3) / 1e9)
    // q11 = "apple durian": doc 3 scores durian only (df 1, tf 3, len 3)
    assert(got((11L, 3L))._2 == q(1, 3, 3) / 1e9)
    assert(got((11L, 1L))._2 == q(2, 1, 2) / 1e9)
    // no query ever scores a doc sharing no term; 2+3 rows total
    assert(got.keySet == Set((10L, 1L), (10L, 2L),
      (11L, 1L), (11L, 2L), (11L, 3L)))
    // ranks order by score desc, then doc id
    assert(got((10L, 2L))._1 == 1 && got((10L, 1L))._1 == 2)
    // plan: the only nested-loop is the broadcast 1-row stats attach;
    // map-side partial top-k bounds the final shuffle
    val plan = TextAnalysis.bm25(docs, "doc_id", "text",
      queries, "doc_id", "text", topK = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(plan.contains("partial_top_k_by_score"), s"no partial top-k in:\n$plan")
  }

  test("bm25Micro: a half-way tie rounds to the same micro-unit in Spark and in the DuckDB oracle") {
    // 66,360,688,500 nano-units = 66.3606885: round(bm25, 6) gave
    // 66.360689 in Spark but 66.360688 in DuckDB, which rounds the double
    val nanos = Seq(66360688500L, 66360688499L, 1500L, 0L)
    val want = Seq(66.360689, 66.360688, 0.000002, 0.0)
    val got = nanos.map(n => Seq(n / 1e9).toDF("bm25")
      .select(TextAnalysis.bm25Micro(col("bm25"))).as[Double].head())
    assert(got == want)
    // the oracle side, evaluated by DuckDB through its Python package
    val sql = nanos.map(n => TextAnalysis.bm25MicroSql(n.toString)).mkString("SELECT ", ", ", "")
    val out = try Some(scala.sys.process.Process(Seq("python3", "-c",
      "import duckdb, sys; print(' '.join(repr(v) for v in duckdb.sql(sys.argv[1]).fetchone()))",
      sql)).!!.trim) catch { case _: Exception => None }
    assume(out.isDefined, "python3 with the duckdb package is not available")
    assert(out.get.split(' ').map(_.toDouble).toSeq == want)
  }

  test("bm25 index: probe ≡ single-shot bit for bit; postings side exchange-free; append extends") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").limit(120)
    val queries = docs.where(col("doc_id") < 3)
    TextAnalysis.buildBm25Index(docs, "doc_id", "text", "bm25spec_idx",
      buckets = 8)
    val indexed = TextAnalysis.bm25AgainstIndex(spark, "bm25spec_idx",
      queries, "doc_id", "text", topK = 10)
    val single = TextAnalysis.bm25(docs, "doc_id", "text",
      queries, "doc_id", "text", topK = 10)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(canon(indexed) == canon(single))
    // the corpus (postings) side of the probe never shuffles: the only
    // exchanges are the candidate aggregate + final top-k — no exchange
    // keyed on the term
    indexed.write.format("noop").mode("overwrite").save()
    val plan = indexed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(__t"),
      s"postings side shuffled on the term:\n${plan.take(3000)}")
    assert(plan.contains("partial_top_k_by_score"))
    // the stats row holds exact integers
    val st = spark.table("bm25spec_idx_stats").collect()(0)
    assert(st.getLong(0) > 0 && st.getLong(1) > st.getLong(0))

    // APPEND leg: build on half, append the rest — probe must equal the
    // full-corpus index bit for bit (merged df/stats ≡ from-scratch)
    TextAnalysis.buildBm25Index(docs.where(col("doc_id") < 60),
      "doc_id", "text", "bm25spec_app", buckets = 8)
    TextAnalysis.appendToBm25Index(docs.where(col("doc_id") >= 60),
      "doc_id", "text", "bm25spec_app")
    val appended = TextAnalysis.bm25AgainstIndex(spark, "bm25spec_app",
      queries, "doc_id", "text", topK = 10)
    assert(canon(appended) == canon(single))
    // merged stats equal the from-scratch stats exactly
    val stA = spark.table("bm25spec_app_stats").collect()(0)
    assert((stA.getLong(0), stA.getLong(1)) == (st.getLong(0), st.getLong(1)))
  }

  test("appendToBm25Index drops its batch postings from an explicit scratchDir") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").limit(60)
    val scratch = java.nio.file.Files.createTempDirectory("bm25-append-scratch")
    TextAnalysis.buildBm25Index(docs.where(col("doc_id") < 30),
      "doc_id", "text", "bm25spec_scratch", buckets = 4)
    TextAnalysis.appendToBm25Index(docs.where(col("doc_id") >= 30),
      "doc_id", "text", "bm25spec_scratch",
      scratchDir = Some(scratch.toString))
    val left = Option(scratch.toFile.list()).map(_.toSeq).getOrElse(Nil)
    assert(!left.contains("batch_postings"),
      s"the append left its snapshot behind: $left")
    // the merged side tables were written before the drop
    val st = spark.table("bm25spec_scratch_stats").collect()(0)
    assert(st.getLong(0) == docs.count())
  }

  test("deleteFromBm25Index: postings, df AND stats shrink exactly to the from-scratch survivor build") {
    import graft.operators.Bucketing
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").limit(120)
    val queries = docs.where(col("doc_id") < 3)
    val dead = docs.where(col("doc_id") % 5 === 0).select("doc_id")
    TextAnalysis.buildBm25Index(docs, "doc_id", "text",
      "bm25spec_del", buckets = 8)
    TextAnalysis.deleteFromBm25Index(spark, "bm25spec_del", dead, "doc_id")
    TextAnalysis.buildBm25Index(docs.where(col("doc_id") % 5 =!= 0),
      "doc_id", "text", "bm25spec_ref", buckets = 8)
    // all three index tables equal the never-ingested build's, row for
    // row — df terms that lost every posting are GONE, not zeroed
    for (suffix <- Seq("", "_df", "_stats")) {
      val got = spark.table(s"bm25spec_del$suffix")
      val want = spark.table(s"bm25spec_ref$suffix")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"table bm25spec_del$suffix drifted from the survivor rebuild")
    }
    assert(spark.table("bm25spec_del_df")
      .where(col("__df") <= 0).count() == 0)
    // probe parity + layout contract intact after the rewrite
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(canon(TextAnalysis.bm25AgainstIndex(spark, "bm25spec_del",
        queries, "doc_id", "text", topK = 10)) ==
      canon(TextAnalysis.bm25AgainstIndex(spark, "bm25spec_ref",
        queries, "doc_id", "text", topK = 10)))
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("bm25spec_del")).bucketSpec
    assert(spec.exists(s0 => s0.numBuckets == 8 &&
      s0.bucketColumnNames == Seq("__t")))
    // replayed takedowns are no-ops
    TextAnalysis.deleteFromBm25Index(spark, "bm25spec_del", dead, "doc_id")
    val st = spark.table("bm25spec_del_stats").collect()(0)
    val stRef = spark.table("bm25spec_ref_stats").collect()(0)
    assert((st.getLong(0), st.getLong(1)) == (stRef.getLong(0), stRef.getLong(1)))
    // deleting from a non-bucketed table is refused
    intercept[IllegalArgumentException] {
      Bucketing.deleteFromBucketed(spark, "bm25spec_del_df",
        dead.withColumnRenamed("doc_id", "__t"), "__t")
    }
  }

  test("image hamming index lifecycle: build → append → probe ≡ full build; delete removes matches") {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").limit(60)
    def png(d: org.apache.spark.sql.DataFrame) =
      Multimodal.withEncodedImagePayload(d, "text", "png",
        minPartitions = Some(4))
    // build on half, append the rest: the grown index must equal a
    // from-scratch build over everything (both bucketed tables)
    Multimodal.buildImageDupIndex(png(docs.where(col("doc_id") < 30)),
      "doc_id", "content", "imgidx_app", buckets = 8)
    Multimodal.appendToImageDupIndex(png(docs.where(col("doc_id") >= 30)),
      "doc_id", "content", "imgidx_app")
    Multimodal.buildImageDupIndex(png(docs), "doc_id", "content",
      "imgidx_full", buckets = 8)
    for (suffix <- Seq("_bands", "_sig")) {
      val got = spark.table(s"imgidx_app$suffix")
      val want = spark.table(s"imgidx_full$suffix")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"imgidx_app$suffix drifted from the from-scratch build")
    }
    // a JPEG batch of twins finds every original cross-container, on
    // the grown index, at its own decode cost
    val batch = Multimodal.withEncodedImagePayload(
      docs.select((col("doc_id") + 700000L).as("doc_id"), col("text")),
      "text", "jpeg", minPartitions = Some(4))
    val hits = Multimodal.imageDupAgainstIndex(spark, "imgidx_app",
      batch, "doc_id", "content", maxHamming = 3)
    val found = hits.select("batch_id").distinct().count()
    assert(found == docs.count(), s"every twin must match, got $found")
    // corpus side of the probe is exchange-free (bucketed reads)
    val plan = hits.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(__bucket"),
      s"bands side shuffled:\n${plan.take(3000)}")
    // takedown: deleted originals stop matching, survivors still do
    val dead = docs.where(col("doc_id") % 3 === 0).select("doc_id")
    graft.operators.Dedup.deleteFromHammingIndex(spark, "imgidx_app",
      dead, "doc_id")
    val after = Multimodal.imageDupAgainstIndex(spark, "imgidx_app",
      batch, "doc_id", "content", maxHamming = 3)
    assert(after.join(dead.withColumnRenamed("doc_id", "corpus_id"),
      Seq("corpus_id"), "semi").count() == 0)
    assert(after.select("corpus_id").distinct().count() ==
      docs.where(col("doc_id") % 3 =!= 0).count())
  }

  test("deleteFromNearDupIndex: post-delete probe ≡ survivor rebuild; layout preserved") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").limit(100)
    // plant near-dups of docs 0-9 so the probe has real candidates,
    // then take down the planted half
    val planted = docs.where(col("doc_id") < 10)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    Dedup.buildNearDupIndex(docs.unionByName(planted), "doc_id", "text",
      "ndspec_del", buckets = 8)
    Dedup.deleteFromNearDupIndex(spark, "ndspec_del",
      planted.select("doc_id"), "doc_id")
    Dedup.buildNearDupIndex(docs, "doc_id", "text", "ndspec_ref",
      buckets = 8)
    for (suffix <- Seq("_bands", "_sh")) {
      val got = spark.table(s"ndspec_del$suffix")
      val want = spark.table(s"ndspec_ref$suffix")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"table ndspec_del$suffix drifted from the survivor rebuild")
    }
    // a probe batch of the taken-down texts still matches the ORIGINALS
    // (they survive) but no longer the deleted ids
    val probe = Dedup.nearDupAgainstIndex(spark, "ndspec_del",
      planted.select((col("doc_id") + 1000000L).as("doc_id"), col("text")),
      "doc_id", "text", threshold = 0.9)
    val hits = probe.select("corpus_id").collect().map(_.getLong(0)).toSet
    assert((0L until 10L).toSet.subsetOf(hits),
      s"the 10 surviving originals must all match, got $hits")
    assert(hits.forall(_ < 900000L),
      s"taken-down ids must never match again, got $hits")
  }

  test("compactBucketed: file inventory shrinks to ≤ one per bucket, probe bit-identical") {
    import graft.operators.Bucketing
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").limit(120)
    val queries = docs.where(col("doc_id") < 3)
    // build + two appends: every append lands one MORE file set in the
    // touched term buckets — the debt compaction exists to clean up
    TextAnalysis.buildBm25Index(docs.where(col("doc_id") < 40),
      "doc_id", "text", "bm25spec_cpt", buckets = 8)
    TextAnalysis.appendToBm25Index(
      docs.where(col("doc_id") >= 40 && col("doc_id") < 80),
      "doc_id", "text", "bm25spec_cpt")
    TextAnalysis.appendToBm25Index(docs.where(col("doc_id") >= 80),
      "doc_id", "text", "bm25spec_cpt")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val before = Bucketing.tableFileCount(spark, "bm25spec_cpt")
    val preProbe = canon(TextAnalysis.bm25AgainstIndex(spark, "bm25spec_cpt",
      queries, "doc_id", "text", topK = 10))
    Bucketing.compactBucketed(spark, "bm25spec_cpt")
    val after = Bucketing.tableFileCount(spark, "bm25spec_cpt")
    assert(after <= 8, s"compaction left $after files for 8 buckets")
    assert(after < before, s"compaction did not shrink: $before -> $after")
    // compaction moved only the file inventory: same rows, same bytes
    val postProbe = canon(TextAnalysis.bm25AgainstIndex(spark, "bm25spec_cpt",
      queries, "doc_id", "text", topK = 10))
    assert(postProbe == preProbe)
    // layout contract intact: still a bucketed table with the same spec
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("bm25spec_cpt")).bucketSpec
    assert(spec.exists(s0 => s0.numBuckets == 8 &&
      s0.bucketColumnNames == Seq("__t")))
  }

  test("robustZScore: median/MAD by hand; MAD=0 → NULL; approx path same shape") {
    // group a: values 1..5 (med 3, |x-3| = 2,1,0,1,2 → MAD 1);
    // group b: all equal → MAD 0 → NULL
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 5.0),
      ("b", 7.0), ("b", 7.0), ("b", 7.0)).toDF("g", "v")
    val out = WindowOps.robustZScore(df, Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    out.filter(_._1 == "a").foreach { case (_, v, z) =>
      assert(z.contains((v - 3.0) / (1.4826 * 1.0)), s"$v -> $z")
    }
    assert(out.filter(_._1 == "b").forall(_._3.isEmpty))
    // approx path returns the same rows (same plan shape, bounded memory)
    val approx = WindowOps.robustZScore(df, Seq("g"), "v",
      approxAccuracy = Some(10000)).collect()
    assert(approx.length == 8)
  }

  test("edge tolerance: sketch ops and split survive nulls and empty inputs") {
    // nulls never reach the MG sketch
    val withNulls = Seq(Some("x"), None, Some("x"), None, Some("y"))
      .toDF("w")
    val hh = TextAnalysis.heavyHitters(withNulls, col("w"), 8, 8)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(hh == Seq(("x", 2L), ("y", 1L)))
    // empty input → empty result, not a crash
    assert(TextAnalysis.heavyHitters(withNulls.where(lit(false)), col("w"), 8, 8)
      .collect().isEmpty)
    // leakageSafeSplit with NO pairs = plain splitAssign
    val ids = (1L to 50L).toDF("id")
    val noPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val lhs = Sampling.leakageSafeSplit(ids, "id", noPairs, "a", "b",
      Seq("train" -> 0.5, "test" -> 0.5))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rhs = Sampling.splitAssign(ids, "id", Seq("train" -> 0.5, "test" -> 0.5))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lhs == rhs)
    // bm25 with an empty corpus returns no rows
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.bm25(emptyDocs, "doc_id", "text",
      Seq((1L, "apple")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().isEmpty)
  }

  test("tokenEntropy: hand-quantized values; uniform > repeated") {
    val df = Seq((1L, "a a a a"), (2L, "a b c d"), (3L, "a a b b"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def term(c: Long, n: Long): Long = {
      val p = c.toDouble / n.toDouble
      math.floor(-(p * math.log(p)) * 1e9).toLong
    }
    assert(got(1L) == (4L, term(4, 4) / 1e9))       // single token: H = 0
    assert(got(2L) == (4L, 4 * term(1, 4) / 1e9))   // uniform: H = ln 4
    assert(got(3L) == (4L, 2 * term(2, 4) / 1e9))   // two pairs: H = ln 2
    assert(got(2L)._2 > got(3L)._2 && got(3L)._2 > got(1L)._2)
  }

  test("dsirWeights: target-like docs outweigh off-target; resample is deterministic") {
    val targetish = (1 to 10).map(i =>
      (i.toLong, s"machine learning models train on data batch $i"))
    val offTarget = (11 to 20).map(i =>
      (i.toLong, s"cooking recipe soup onion garlic pepper salt $i"))
    val raw = (targetish ++ offTarget).toDF("doc_id", "text")
    val target = (100 to 120).map(i =>
      (i.toLong, s"deep learning training data models batch epoch $i"))
      .toDF("doc_id", "text")
    val w = TextAnalysis.dsirWeights(raw, "doc_id", "text", target, "text",
      numBuckets = 512)
    val byDoc = w.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val avgT = (1 to 10).map(i => byDoc(i.toLong)).sum / 10
    val avgO = (11 to 20).map(i => byDoc(i.toLong)).sum / 10
    assert(avgT > avgO,
      s"target-like avg $avgT should exceed off-target avg $avgO")
    // weights are partition-invariant (integer quantized sums)
    val w13 = TextAnalysis.dsirWeights(raw.repartition(13), "doc_id", "text",
      target.repartition(7), "text", numBuckets = 512)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val w1 = w.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(w13.toSeq == w1.toSeq)
    // Gumbel-top-k resample: deterministic, k rows, stable under
    // repartitioning (md5 draws, not rand())
    val r1 = TextAnalysis.dsirResample(w, "doc_id", "log_weight", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val r2 = TextAnalysis.dsirResample(w.repartition(11), "doc_id", "log_weight", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(r1.size == 5 && r1 == r2)
    // selection should lean toward the target-like half
    assert(r1.count(_ <= 10L) >= 3, s"resample picked $r1")
  }

  test("containmentPairs: excerpt-in-page scores ~1 where Jaccard stays low") {
    val page = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 12).map(i => s"w$i").mkString(" ")   // strict prefix
    val docs = Seq((1L, page), (2L, excerpt),
      (3L, "zz yy xx ww vv uu tt ss rr qq pp oo")).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.9).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(cont.head.getDouble(2) == 1.0)  // every excerpt shingle is in the page
    // same pair under symmetric Jaccard: 10/58 — invisible at any
    // meaningful threshold
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.9).collect()
    assert(jac.isEmpty)
  }

  test("editDistancePairs: char-level patch found with exact distance") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val patched = "XYZ" + base.substring(3)       // distance exactly 3
    val docs = Seq((1L, base), (2L, patched),
      (3L, "completely different content with no overlap at all here"))
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "doc_id", "text",
      n = 3, maxDist = 10, minSharedShingles = 3L).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      Set((1L, 2L, 3)))
    // maxDist below the true distance: threshold-limited levenshtein
    // abandons the pair, no rows
    assert(Dedup.editDistancePairs(docs, "doc_id", "text",
      n = 3, maxDist = 2, minSharedShingles = 3L).collect().isEmpty)
  }

  test("gopherRules: each rule fires on its planted violator") {
    val goodBody = ("the data and the model have results that align with " +
      "expectations and the method works ") * 5   // ~60 words, all rules pass
    val docs = Seq(
      1L -> goodBody,
      2L -> "too short to pass",                            // r_words
      3L -> (Seq.fill(60)("a").mkString(" ")),              // r_mwl (mwl=1)
      4L -> (goodBody + " " + Seq.fill(30)("#").mkString(" ")), // r_symbol
      5L -> (1 to 20).map(i => s"- bullet item $i").mkString("\n"), // r_bullet
      6L -> (1 to 20).map(i => s"line $i trails off...").mkString("\n"), // r_ellipsis
      7L -> (goodBody + " " + Seq.fill(30)("123456").mkString(" ")), // r_alpha
      8L -> Seq.fill(60)("zqx wvk jmp").mkString(" ")        // r_stops
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(8), r.getBoolean(9), r.getBoolean(10), r.getBoolean(11),
          r.getBoolean(12), r.getBoolean(13), r.getBoolean(14),
          r.getBoolean(15))).toMap
    // (r_words, r_mwl, r_symbol, r_bullet, r_ellipsis, r_alpha, r_stops, pass)
    assert(got(1L) == ((true, true, true, true, true, true, true, true)))
    assert(!got(2L)._1 && !got(2L)._8)
    assert(!got(3L)._2)
    assert(!got(4L)._3)
    assert(!got(5L)._4)
    assert(!got(6L)._5)
    assert(!got(7L)._6)
    assert(!got(8L)._7)
  }

  test("dominantScript: planted scripts detected; ratio flags mixed text") {
    val docs = Seq(
      1L -> "plain english text here",
      2L -> "Привет как дела сегодня",          // cyrillic
      3L -> "这是一段中文文本内容",               // han
      4L -> "これはテストです",                  // kana
      5L -> "안녕하세요 세계",                   // hangul
      6L -> "مرحبا بالعالم",                    // arabic
      7L -> "12345 !!! ???",                    // no scripted chars
      8L -> "english text שלום עולם mixed here" // latin-dominant + hebrew
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
      TextAnalysis.dominantScript(col("text")).as("s"),
      TextAnalysis.dominantScriptRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got(1L)._1 == "latin" && got(1L)._2 == 1.0)
    assert(got(2L)._1 == "cyrillic" && got(2L)._2 == 1.0)
    assert(got(3L)._1 == "han")
    assert(got(4L)._1 == "kana")
    assert(got(5L)._1 == "hangul")
    assert(got(6L)._1 == "arabic")
    assert(got(7L)._1 == "unknown")
    assert(got(8L)._1 == "latin" && got(8L)._2 < 1.0 && got(8L)._2 > 0.5)
  }

  test("quantized-sum operators are partition-invariant") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    def entropyAt(parts: Int) =
      TextAnalysis.tokenEntropy(docs.repartition(parts), "doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(entropyAt(1) == entropyAt(13))
    val queries = docs.where(col("doc_id") < 3)
    def bm25At(parts: Int) =
      TextAnalysis.bm25(docs.repartition(parts), "doc_id", "text",
        queries, "doc_id", "text", topK = 10)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(bm25At(2) == bm25At(17))
    def hhAt(parts: Int) =
      TextAnalysis.heavyHitterTokens(docs.repartition(parts), "text", 4096, 10)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(hhAt(1) == hhAt(16))
  }

  test("corpusDiff classifies added/removed/changed; unchanged excluded by default") {
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val newSnap = Seq((2L, "beta"), (3L, "gamma edited"), (4L, "delta"))
      .toDF("doc_id", "text")
    val delta = Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(delta == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    val full = Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text",
      includeUnchanged = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full(2L) == "unchanged" && full.size == 4)
    // whitespace-only edits are not changes (normalized fingerprint)
    val wsNew = Seq((1L, "  alpha  "), (2L, "beta")).toDF("doc_id", "text")
    assert(Dedup.corpusDiff(oldSnap.where(col("doc_id") <= 2), wsNew,
      "doc_id", "text").count() == 0)
  }

  test("salted join equals plain join") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(o, Seq("l_orderkey")).count()
    val salted = SkewJoin.saltedJoin(li, o, "l_orderkey", factor = 8).count()
    assert(salted == plain)
  }

  test("window ops: cumsum/shift/rolling over events") {
    val ev = spark.read.parquet(s"$dir/events.parquet").limit(1000)
    val cs = WindowOps.cumsum(ev, Seq("user_id"), Seq("ts", "event_id"), "value")
    val row = cs.orderBy("user_id", "ts", "event_id").limit(3)
      .collect().map(_.getAs[Double]("cumsum"))
    assert(row.length == 3)
    val sh = WindowOps.shift(ev, Seq("user_id"), Seq("ts", "event_id"), "value")
    assert(sh.where(col("shifted").isNull).count() > 0) // first row per user
  }

  test("duplicateClusters closes chains into components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("tfidf: tf/df/idf on a two-doc corpus") {
    val docs = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(docs, "doc_id", "text", nDocs = 2)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    assert(out((1L, "a"))._1 == 2 && out((1L, "a"))._2 == 2)
    assert(out((2L, "c"))._1 == 1 && out((2L, "c"))._2 == 1)
    // smooth idf: token in every doc -> ln(3/3)+1 = 1, so tfidf = tf
    assert(math.abs(out((1L, "a"))._3 - 2.0) < 1e-12)
    assert(math.abs(out((2L, "c"))._3 - (math.log(3.0 / 2.0) + 1)) < 1e-12)
  }

  test("shard packing: offset binning per key, manifest totals") {
    val docs = Seq((1L, "en", 600L), (2L, "en", 600L), (3L, "en", 600L),
      (4L, "de", 100L)).toDF("doc_id", "lang", "n_tokens")
    val a = ShardPack.assignShards(docs, "lang", "doc_id", "n_tokens", budget = 1000L)
    val got = a.collect().map(r => r.getLong(0) -> r.getLong(r.fieldIndex("shard"))).toMap
    // offsets: 0, 600, 1200 -> shards 0, 0, 1; de starts fresh at 0
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
    val m = ShardPack.shardManifest(a, "lang", "n_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(m(("en", 0L)) == (2L, 1200L) && m(("en", 1L)) == (1L, 600L))
    assert(m(("de", 0L)) == (1L, 100L))
  }

  test("packSequences splits docs across fixed boundaries, fragments tile exactly") {
    val docs = Seq(("en", 1L, 600L), ("en", 2L, 600L), ("en", 3L, 900L),
      ("en", 4L, 0L), ("de", 5L, 2500L))
      .toDF("lang", "doc_id", "n_tokens")
    val p = ShardPack.packSequences(docs, "lang", "doc_id", "n_tokens", 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // en: offsets 0,600,1200 -> doc1 [0,600) seq0; doc2 [600,1200) splits
    // 600..1000 seq0 + 1000..1200 seq1; doc3 [1200,2100) splits at 2000
    assert(p.filter(_._1 == "en").toSet == Set(
      ("en", 1L, 0L, 0L, 600L),
      ("en", 2L, 0L, 0L, 400L), ("en", 2L, 1L, 400L, 200L),
      ("en", 3L, 1L, 0L, 800L), ("en", 3L, 2L, 800L, 100L)))
    // de: one 2500-token doc spans seqs 0..2
    assert(p.filter(_._1 == "de").toSet == Set(
      ("de", 5L, 0L, 0L, 1000L), ("de", 5L, 1L, 1000L, 1000L),
      ("de", 5L, 2L, 2000L, 500L)))
    // zero-token doc 4 emits nothing
    assert(!p.exists(_._2 == 4L))
    // invariant: per-doc fragment lengths sum to n_tokens
    val sums = p.groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._5).sum)
    assert(sums(("en", 3L)) == 900L && sums(("de", 5L)) == 2500L)
  }

  test("native WordShingles kernel matches the HOF form on edge inputs") {
    // the declarative HOF spelling the kernel replaced — kept here as the
    // semantic oracle for the compiled implementation
    def hofAll(text: org.apache.spark.sql.Column, n: Int) = {
      val toks = TextAnalysis.tokens(text)
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", toks)))
    }
    val cases = Seq("hello world foo bar", "one two", "", "   ",
      "\ttab\tsep\n line  break ", "a a a a", "solo",
      "unicode ÊÊÊ tokens 日本語 mixed")
    val df = cases.toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      val gotAll = df.select(Dedup.shinglesAll(col("text"), n)).collect().map(_.getSeq[String](0))
      val expAll = df.select(hofAll(col("text"), n)).collect().map(_.getSeq[String](0))
      assert(gotAll.toSeq == expAll.toSeq, s"multiplicity n=$n")
      val gotD = df.select(Dedup.shingles(col("text"), n)).collect().map(_.getSeq[String](0))
      val expD = df.select(array_distinct(hofAll(col("text"), n))).collect().map(_.getSeq[String](0))
      assert(gotD.toSeq == expD.toSeq, s"distinct n=$n")
    }
    // null text stays null-tolerant (row dropped by explode)
    val withNull = Seq(Some("a b c"), None).toDF("text")
    assert(withNull.select(explode(Dedup.shingles(col("text"), 2))).count() == 2)
  }

  test("chunkTokens tiles docs with overlap; budgetSample stops past the budget") {
    val docs = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")), (2L, "a b"),
      (3L, "   ")).toDF("doc_id", "text")
    val ch = TextAnalysis.chunkTokens(docs, "doc_id", "text", chunkSize = 4,
        overlap = 1).orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // doc 1: starts 0,3,6,9 -> [w1..w4], [w4..w7], [w7..w10], [w10]
    assert(ch.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0L, "w1 w2 w3 w4", 4L), (1L, 1L, "w4 w5 w6 w7", 4L),
      (1L, 2L, "w7 w8 w9 w10", 4L), (1L, 3L, "w10", 1L)))
    assert(ch.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "a b", 2L)))
    assert(!ch.exists(_._1 == 3L)) // zero-token doc emits nothing
    // budget: md5 order is fixed; keep docs until cumulative >= budget,
    // first crossing doc included, later ones dropped
    val t = Seq(("en", 1L, 30L), ("en", 2L, 30L), ("en", 3L, 30L), ("de", 4L, 5L))
      .toDF("lang", "doc_id", "n_tokens")
    val kept = Sampling.budgetSample(t, "lang", "doc_id", "n_tokens", 40L)
      .collect().map(r => r.getLong(1)).toSet
    assert(kept.contains(4L))          // de under budget: everything kept
    assert((kept - 4L).size == 2)      // en: exactly two of three survive
    val total = Sampling.budgetSample(t, "lang", "doc_id", "n_tokens", 1L)
      .collect().length
    assert(total == 2)                 // budget 1: first doc per key only
  }

  test("exactTextPairs emits star edges: N copies -> N-1 edges, same clusters") {
    // the boilerplate-corpus regression: a clique formulation would emit
    // N^2/2 pairs from one fingerprint bucket
    val n = 500
    val dupes = (0 until n).map(i => (i.toLong, "same exact text"))
      .toDF("doc_id", "text")
      .union(Seq((9999L, "a different document entirely")).toDF("doc_id", "text"))
    val edges = Dedup.exactTextPairs(dupes, "text", "doc_id")
    assert(edges.count() == n - 1, "star must emit exactly N-1 edges")
    assert(edges.agg(org.apache.spark.sql.functions.min("id_l"),
      org.apache.spark.sql.functions.max("id_l")).collect()(0).toSeq == Seq(0L, 0L),
      "every edge anchors at the bucket's min id")
    // and the clusters are the same as the clique would give
    val labels = Dedup.duplicateClusters(edges, "id_l", "id_r")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n && labels.values.forall(_ == 0L))
  }

  test("PNG IHDR probe parses handcrafted headers and rejects mutations") {
    def png(w: Int, h: Int, colorType: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(40)
      bb.put(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      bb.putInt(13).put("IHDR".getBytes("US-ASCII"))
      bb.putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
      bb.put(0.toByte).put(0.toByte).put(0.toByte).putInt(0) // filters + CRC
      bb.array()
    }
    assert(Multimodal.ImageCodec.probe(png(640, 480, 2)) == (640, 480, 3, "png"))
    assert(Multimodal.ImageCodec.probe(png(1, 1, 6)) == (1, 1, 4, "png"))
    assert(Multimodal.ImageCodec.probe(png(32, 8, 0)) == (32, 8, 1, "png"))
    // zero dims, bad color type, truncated header, wrong first chunk
    assert(Multimodal.ImageCodec.probe(png(0, 480, 2))._4 == "unknown")
    assert(Multimodal.ImageCodec.probe(png(640, 480, 7))._4 == "unknown")
    assert(Multimodal.ImageCodec.probe(png(640, 480, 2).take(20))._4 == "unknown")
    val notIhdr = png(640, 480, 2); notIhdr(12) = 'X'.toByte
    assert(Multimodal.ImageCodec.probe(notIhdr)._4 == "unknown")
  }

  test("JPEG SOF marker walk parses handcrafted segments and rejects desync") {
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xFF.toByte, marker.toByte,
        ((payload.length + 2) >> 8).toByte, ((payload.length + 2) & 0xFF).toByte) ++ payload
    def sof(h: Int, w: Int, ncomp: Int): Array[Byte] =
      Array(8.toByte, (h >> 8).toByte, (h & 0xFF).toByte,
        (w >> 8).toByte, (w & 0xFF).toByte, ncomp.toByte) ++
        Array.fill(3 * ncomp)(0.toByte)
    val soi = Array(0xFF.toByte, 0xD8.toByte)
    // SOI, APP0, baseline SOF0, SOS header, entropy data
    val jpg = soi ++ seg(0xE0, Array.fill(14)(0.toByte)) ++
      seg(0xC0, sof(480, 640, 3)) ++ seg(0xDA, Array.fill(10)(1.toByte)) ++
      Array.fill(50)(7.toByte)
    assert(Multimodal.ImageCodec.probe(jpg) == (640, 480, 3, "jpeg"))
    // progressive SOF2, grayscale
    val jpg2 = soi ++ seg(0xC2, sof(33, 17, 1)) ++ Array.fill(5)(0.toByte)
    assert(Multimodal.ImageCodec.probe(jpg2) == (17, 33, 1, "jpeg"))
    // restart markers (standalone, no length) are stepped over
    val jpg3 = soi ++ Array(0xFF.toByte, 0xD0.toByte) ++ seg(0xC0, sof(10, 20, 3))
    assert(Multimodal.ImageCodec.probe(jpg3) == (20, 10, 3, "jpeg"))
    // marker desync (non-FF where a marker must start) → unknown
    val bad = soi ++ Array(0x00.toByte, 0x12.toByte)
    assert(Multimodal.ImageCodec.probe(bad)._4 == "unknown")
    // SOF truncated mid-header → unknown, never a throw
    assert(Multimodal.ImageCodec.probe(
      (soi ++ seg(0xC0, sof(480, 640, 3))).take(9))._4 == "unknown")
  }

  test("writeClusteredBySimhash: roundtrip intact, similarity-ordered file layout") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-cluster")
      .toString + "/out"
    Bucketing.writeClusteredBySimhash(docs, "text", tmp, partitions = 4)
    val back = spark.read.parquet(tmp)
    assert(back.count() == docs.count())
    assert(back.columns.toSet == Set("doc_id", "text"), "helper column must not leak")
    // per-file recomputed signature ranges are disjoint (range
    // partitioning) and rows within each file are signature-sorted —
    // the layout contract that makes near-dups adjacent for compression
    val files = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 2)
    val ranges = files.map { f =>
      val sigs = spark.read.parquet(f.getAbsolutePath)
        .select(graft.operators.Dedup.simhash64(col("text")).as("s"))
        .collect().map(_.getLong(0))
      assert(sigs.sameElements(sigs.sorted),
        s"rows in ${f.getName} not signature-sorted")
      (sigs.min, sigs.max)
    }
    ranges.sortBy(_._1).sliding(2).foreach {
      case Array((_, amax), (bmin, _)) =>
        assert(amax <= bmin, "file signature ranges must not interleave")
      case _ => ()
    }
  }

  test("GIF logical-screen-descriptor probe parses both signatures, rejects junk") {
    // GIF89a, 320x240 LE, global color table present (2^3 = 8 entries)
    val gct = new Array[Byte](24)
    val b = "GIF89a".getBytes("US-ASCII") ++ Array[Byte](0x40, 0x01,
      0xF0.toByte, 0x00, (0x80 | 0x02).toByte, 0, 0) ++ gct
    assert(Multimodal.ImageCodec.probe(b) == (320, 240, 3, "gif"))
    // GIF87a, minimal 1x1, no color table
    val b87 = "GIF87a".getBytes("US-ASCII") ++ Array[Byte](1, 0, 1, 0, 0, 0, 0)
    assert(Multimodal.ImageCodec.probe(b87) == (1, 1, 3, "gif"))
    // truncated descriptor and zero dims probe as unknown, never throw
    assert(Multimodal.ImageCodec.probe("GIF89a".getBytes("US-ASCII")) ==
      (0, 0, 0, "unknown"))
    val z = "GIF89a".getBytes("US-ASCII") ++ Array[Byte](0, 0, 1, 0, 0, 0, 0)
    assert(Multimodal.ImageCodec.probe(z) == (0, 0, 0, "unknown"))
  }

  test("PublicSuffix.registeredDomainPsl: exact / wildcard / exception / implicit-star rules, per the PSL algorithm") {
    import spark.implicits._
    val cases = Seq(
      // exact 2-label suffix
      "www.site1.example.co.uk" -> "example.co.uk",
      "example.co.uk" -> "example.co.uk",
      "co.uk" -> "", // IS a public suffix
      // wildcard *.ck: any label under ck is a public suffix
      "blog.shop.ck" -> "blog.shop.ck",
      "x.blog.shop.ck" -> "blog.shop.ck",
      "shop.ck" -> "", // public suffix itself
      // exception !www.ck beats the wildcard
      "www.ck" -> "www.ck",
      "a.www.ck" -> "www.ck",
      // wildcard on a 2-label base + its exception
      "host.ward.kawasaki.jp" -> "host.ward.kawasaki.jp",
      "ward.kawasaki.jp" -> "",
      "city.kawasaki.jp" -> "city.kawasaki.jp",
      "sub.city.kawasaki.jp" -> "city.kawasaki.jp",
      // a host EQUAL to a wildcard base: '*.X' (labels(X)+1 labels)
      // cannot match an labels(X)-label host, so the implicit '*'
      // prevails — kawasaki.jp is registrable under 'jp'
      "kawasaki.jp" -> "kawasaki.jp",
      "ck" -> "",
      // implicit '*' rule: unknown TLD counts one label
      "a.b.unknowntld" -> "b.unknowntld",
      "unknowntld" -> "",
      "localhost" -> "",
      // IP literals are never registrable names
      "192.168.0.1" -> "",
      "fe80::1" -> "",
      // plain known TLD with no multi-label rule
      "cdn.example.com" -> "example.com",
      // 3-label wildcard base: *.compute.amazonaws.com — one label
      // under it is a 4-label public suffix
      "vm1.region2.compute.amazonaws.com" ->
        "vm1.region2.compute.amazonaws.com",
      "x.vm1.region2.compute.amazonaws.com" ->
        "vm1.region2.compute.amazonaws.com",
      "region2.compute.amazonaws.com" -> "", // IS a public suffix
      // base itself falls through past the wildcard to lower rules —
      // amazonaws.com registers under the implicit 'com'
      "compute.amazonaws.com" -> "amazonaws.com",
      // 4-label wildcard base (*.compute.amazonaws.com.cn): the host
      // equal to a 5-label covered suffix has no registered domain,
      // and com.cn still resolves the base's own registration
      "i1.cn-north-1.compute.amazonaws.com.cn" ->
        "i1.cn-north-1.compute.amazonaws.com.cn",
      "cn-north-1.compute.amazonaws.com.cn" -> "",
      "compute.amazonaws.com.cn" -> "amazonaws.com.cn", // via exact com.cn
      // 5-label exact rules (the s3 dualstack family — deepest tails)
      "bkt.s3.dualstack.eu-west-1.amazonaws.com" ->
        "bkt.s3.dualstack.eu-west-1.amazonaws.com",
      "s3.dualstack.eu-west-1.amazonaws.com" -> "",
      // private-section 2-label families
      "user.github.io" -> "user.github.io",
      "github.io" -> "",
      // punycode IDN registries match in xn-- form
      "shop3.xn--55qx5d.cn" -> "shop3.xn--55qx5d.cn",
      "xn--55qx5d.cn" -> "",
      "a.b.xn--od0alg.hk" -> "b.xn--od0alg.hk")
    val got = graft.operators.PublicSuffix.registeredDomainPsl(
        cases.map(_._1).toDF("host"), "host")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (h, want) =>
      assert(got(h) == want, s"host $h: got ${got(h)}, want $want") }
    // NULL host stays NULL, and the host stream is never shuffled (the
    // rules join is broadcast at every tail)
    val df = graft.operators.PublicSuffix.registeredDomainPsl(
      Seq(Option.empty[String]).toDF("host"), "host")
    assert(df.collect().head.isNullAt(1))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
  }

  test("PublicSuffix: differential sweep — every snapshot rule at 0/1/2 extra labels vs a driver-side reference matcher") {
    import spark.implicits._
    val rules = graft.operators.PublicSuffix.Rules
    val exact = rules.collect { case (r, false, false) => r }.toSet
    val wild = rules.collect { case (r, false, true) => r }.toSet
    val exc = rules.collect { case (r, true, false) => r }.toSet
    // the PSL algorithm, straight from the spec: exceptions (deepest
    // first), then the longest match, then the implicit '*' rule —
    // written over ALL tail depths up to the deepest rule, so the
    // sweep stays exhaustive as the snapshot grows
    val maxTail = graft.operators.PublicSuffix.MaxTail
    def ref(host: String): String = {
      if (host.matches("^[0-9.]+$") || host.contains(":")) return ""
      val labels = host.split('.')
      val n = labels.length
      def tail(k: Int) = labels.takeRight(k).mkString(".")
      val excDepth = (maxTail to 2 by -1)
        .find(k => n >= k && exc(tail(k)))
      val psLen = excDepth.map(_ - 1).getOrElse(
        ((1 to maxTail).flatMap { k =>
          Seq(
            if (n >= k && exact(tail(k))) k else 0,
            // '*.X' needs labels(X)+1 host labels to match at all
            if (n >= k + 1 && wild(tail(k))) k + 1 else 0)
        } :+ 1).max)
      if (n >= psLen + 1) labels.takeRight(psLen + 1).mkString(".")
      else ""
    }
    val hosts = (rules.map(_._1) ++
      rules.map(r => "x0." + r._1) ++
      rules.map(r => "y1.x0." + r._1) ++
      Seq("localhost", "a.b.c.notatld", "x.y", "com", "uk",
        "10.0.0.1", "255.255.255.255", "fe80::1")).distinct
    val got = graft.operators.PublicSuffix.registeredDomainPsl(
        hosts.toDF("host"), "host")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    hosts.foreach { h =>
      assert(got(h) == ref(h), s"host $h: got ${got(h)}, ref ${ref(h)}") }
  }

  test("withPngPayload round-trips through the byte-level PNG probe") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(50)
    val probed = Multimodal.probeImages(
      Multimodal.withPngPayload(docs, "text").repartition(3), "content")
    assert(probed.where(col("probed_meta.width") =!= col("meta.width") ||
      col("probed_meta.height") =!= col("meta.height") ||
      col("probed_meta.channels") =!= lit(3) ||
      col("probed_meta.format") =!= lit("png")).count() == 0)
  }

  test("multimodal decode/probe honor the minPartitions parallelism floor") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .limit(40).coalesce(1)
    val mm = Multimodal.withImagePayload(docs, "text")
    assert(mm.rdd.getNumPartitions == 1)
    val probed = Multimodal.probeImages(mm, "content", minPartitions = Some(4))
    assert(probed.rdd.getNumPartitions >= 4)
    val decoded = Multimodal.decodeImages(mm, "content", dim = 8,
      minPartitions = Some(4))
    assert(decoded.rdd.getNumPartitions >= 4)
    // already-parallel inputs are left alone
    val wide = Multimodal.probeImages(mm.repartition(8), "content",
      minPartitions = Some(4))
    assert(wide.rdd.getNumPartitions == 8)
    assert(decoded.count() == 40)
  }

  test("container codecs never throw on fuzzed garbage payloads") {
    val rnd = new scala.util.Random(42)
    val payloads = (0 until 400).map { i =>
      val b = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(b)
      // bias some toward magic prefixes so the parsers walk further in
      if (i % 4 == 0 && b.length >= 12) {
        val m = i % 8 match {
          case 0 => "RIFFxxxxWAVE"; case 1 => "YUV4MPEG2 W4"
          case 2 => "P6\n99999999 "
          case 3 => new String(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A,
            0x1A, 0x0A, 0x00, 0x00, 0x00, 0x0D).map(_.toChar))
          case 4 => new String(Array(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x09,
            0x08, 0xFF, 0xFF, 0xFF, 0xFF, 0x03).map(_.toChar))
          case 5 => new String(Array(0xFF, 0xFB, 0x90, 0x00, 0xFF, 0xFB,
            0x90, 0x00, 0x49, 0x44, 0x33, 0x03).map(_.toChar)) // mp3 + ID3
          case 6 => new String(Array(0x00, 0x00, 0x00, 0x10, 0x66, 0x74,
            0x79, 0x70, 0x69, 0x73, 0x6F, 0x6D).map(_.toChar)) // ftyp
          case _ => new String(Array(0x1A, 0x45, 0xDF, 0xA3, 0x87, 0x42,
            0x82, 0x84, 0x77, 0x65, 0x62, 0x6D).map(_.toChar)) // EBML/webm
        }
        val mb = m.toCharArray.map(_.toByte)
        System.arraycopy(mb, 0, b, 0, math.min(12, b.length))
      }
      b
    }
    payloads.foreach { b =>
      Multimodal.ImageCodec.probe(b)
      Multimodal.AudioCodec.probe(b)
      Multimodal.VideoCodec.probe(b)
      Multimodal.ImageCodec.features(b, 8)
      Multimodal.AudioCodec.features(b, 8)
    }
    succeed
  }

  test("container codecs never throw on MUTATED valid payloads (deep-path fuzz)") {
    // random byte flips inside VALID MP3/MP4/WebM/WAV/Y4M payloads reach
    // the parsers' deep branches (mid-walk sizes, varints, strides) that
    // prefix-seeded garbage never exercises; every mutant must parse to
    // SOME answer without throwing, and truncations of valid payloads
    // must too (the crawl posture: arbitrary corruption, never a crash)
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(12)
    val valids: Seq[Array[Byte]] = Seq(
      Multimodal.withMp3Payload(docs, "text"),
      Multimodal.withMp4Payload(docs, "text"),
      Multimodal.withWebmPayload(docs, "text"),
      Multimodal.withAudioPayload(docs, "text"),
      Multimodal.withVideoPayload(docs, "text"),
      Multimodal.withVideoPayload2(docs, "text"))
      .flatMap(_.select("content").collect().map(_.getAs[Array[Byte]](0)))
    val rnd = new scala.util.Random(7)
    valids.foreach { v =>
      (0 until 20).foreach { _ =>
        val m = v.clone()
        (0 until 1 + rnd.nextInt(4)).foreach { _ =>
          m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        }
        Multimodal.AudioCodec.probe(m)
        Multimodal.VideoCodec.probe(m)
        Multimodal.ImageCodec.probe(m)
      }
      (0 until 5).foreach { _ =>
        val cut = v.take(rnd.nextInt(v.length + 1))
        Multimodal.AudioCodec.probe(cut)
        Multimodal.VideoCodec.probe(cut)
      }
    }
    succeed
  }

  test("minhashSignatures (table form) ≡ minhashSignature (per-row HOF form)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(40)
    val table = Dedup.minhashSignatures(docs, "doc_id", "text", 32, 3, 7L)
    val hof = docs.select(col("doc_id").as("__id"),
      Dedup.minhashSignature(col("text"), 32, 3, 7L).as("__sig"))
    assert(table.join(hof.withColumnRenamed("__sig", "__sig2"), "__id")
      .where(col("__sig") =!= col("__sig2")).count() == 0,
      "the two MinHash formulations must share one hash family")
  }

  test("native NormalizeWs kernel is byte-identical to the regex form") {
    val cases = Seq("  Hello   WORLD  ", "\tTabs\nand\r\nbreaks here ",
      "", "   ", "NoWs", "Ünïcode ÅÄÖ  Text", "日本語\tテスト", "a\fb")
    val df = cases.toDF("text")
    val got = df.select(TextAnalysis.normalizeWs(col("text"))).collect().map(_.getString(0))
    val exp = df.select(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .collect().map(_.getString(0))
    assert(got.toSeq == exp.toSeq)
  }

  test("JaroWinkler kernel matches DuckDB's jaro/jaro_winkler values") {
    // expected values probed from DuckDB jaro_similarity /
    // jaro_winkler_similarity (the oracle engine) — pins the match
    // window, transposition rule, empty-string posture, and the 0.7
    // boost threshold with its 4-char prefix cap
    val cases = Seq(
      ("martha", "marhta", 0.9444444444444445, 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8222222222222223, 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.7666666666666666, 0.8133333333333332),
      ("abc", "abc", 1.0, 1.0),
      ("", "abc", 0.0, 0.0),
      ("", "", 0.0, 0.0),
      ("ab", "ba", 0.0, 0.0),
      ("CRATE", "TRACE", 0.7333333333333334, 0.7333333333333334),
      ("xy", "xz", 0.6666666666666666, 0.6666666666666666), // < 0.7: no boost
      ("aab", "aba", 0.5555555555555555, 0.5555555555555555),
      ("abcd", "abdc", 0.9166666666666666, 0.9333333333333333),
      ("aaaaaaaaaa", "aaaaaaaaab", 0.9333333333333332, 0.96),
      ("abcdefghij", "abcdefghji", 0.9666666666666667, 0.98),
      ("prefixaaa", "prefixbbb", 0.7777777777777777, 0.8666666666666666))
    val df = cases.map { case (a, b, _, _) => (a, b) }.toDF("a", "b")
    val got = df.select(
        graft.functions.JaroWinkler.jaro(col("a"), col("b")),
        graft.functions.JaroWinkler.jaroWinkler(col("a"), col("b")))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    cases.zip(got).foreach { case ((a, b, ej, ew), (gj, gw)) =>
      assert(gj == ej, s"jaro($a, $b)")
      assert(gw == ew, s"jaro_winkler($a, $b)")
    }
    // SQL surface + null propagation
    graft.functions.JaroWinkler.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_jaro_winkler('martha', 'marhta'), graft_jaro(CAST(NULL AS STRING), 'x')")
      .collect()(0)
    assert(viaSql.getDouble(0) == 0.9611111111111111 && viaSql.isNullAt(1))
  }

  test("fuzzyLinkage pairs within blocks only, drops oversized blocks") {
    val recs = Seq(
      (1L, "acme corp", "a"), (2L, "acme corp.", "a"), (3L, "ajax ltd", "a"),
      (4L, "acme corp", "b"), // other block: never pairs with 1/2
      (5L, "zzz", null.asInstanceOf[String])) // null block: never pairs
      .toDF("id", "name", "blk")
    val got = Dedup.fuzzyLinkage(recs, "id", "name", col("blk"), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L))) // acme~acme. high; ajax below threshold
    // a block over the cap drops whole — no partial pair list survives
    val big = (0 until 30).map(i => (i.toLong, s"name$i", "blk")).toDF("id", "name", "blk")
    assert(Dedup.fuzzyLinkage(big, "id", "name", col("blk"),
      threshold = 0.0, maxBlockSize = 10).count() == 0L)
  }

  test("transitionEntropy: deterministic successor → 0 bits, uniform → log2(k)") {
    // one user, sequence a,b,a,c: transitions a→b, b→a, a→c
    val ev = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "c"))
      .toDF("user_id", "t", "event_type")
    val got = WindowOps.transitionEntropy(ev, Seq("user_id"), Seq("t"), "event_type")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("a") == ((2L, 2L, 1.0)))   // {b:1, c:1} → 1 bit
    assert(got("b") == ((1L, 1L, 0.0)))   // {a:1} → 0 bits
    assert(!got.contains("c"))            // no successor
  }

  test("interArrivalStats: gaps attributed to the later event's type") {
    val ev = Seq((1L, 0L, "x"), (1L, 10L, "y"), (1L, 30L, "x"),
                 (2L, 5L, "x"), (2L, 9L, "x"))
      .toDF("user_id", "t", "event_type")
    val got = WindowOps.interArrivalStats(ev, Seq("user_id"), Seq("t"),
        "event_type", "t", tickSeconds = 1.0)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // x gaps: 20 (user 1), 4 (user 2) → n=2, p50 = 12.0 interpolated
    assert(got("x") == ((2L, 12.0)))
    assert(got("y") == ((1L, 10.0)))
  }

  test("robustOutliers flags by the median/MAD rule, immune to the outlier") {
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0), ("g", 100.0))
      .toDF("k", "v")
    val r = Profile.robustOutliers(df, Seq("k"), "v").collect()(0)
    assert(r.getLong(1) == 5L && r.getDouble(2) == 3.0 && r.getDouble(3) == 1.0)
    assert(r.getLong(4) == 1L) // only 100 exceeds 3·1.4826·1 from the median
    // mean/stddev would have been dragged by the 100; median/MAD is not
  }

  test("calibrationReport: per-bin confidence vs accuracy, gaps sum to ECE") {
    val df = Seq((0.05, false), (0.15, true), (0.15, false), (0.95, true))
      .toDF("score", "label")
    // weighted_gap rounded to 12 places: the last-ulp of the double
    // division chain is engine-noise the query layer rounds away too
    val rows = Profile.calibrationReport(df, "score", "label", bins = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3),
          BigDecimal(r.getDouble(4)).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)).toMap
    assert(rows(0L) == ((1L, 0.05, 0.0, 0.0125)))
    assert(rows(1L) == ((2L, 0.15, 0.5, 0.175)))
    assert(rows(9L) == ((1L, 0.95, 1.0, 0.0125)))
    assert(rows.size == 3)
    // bin edges: score 1.0 clamps into the top bin, not bins; an
    // out-of-range score pins to an edge bin instead of minting bin -1
    val edge = Profile.calibrationReport(
      Seq((1.0, true), (-0.05, false), (1.7, true)).toDF("score", "label"),
      "score", "label", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(edge == Map(9L -> 2L, 0L -> 1L))
    // abstentions (null score or label) are excluded, not binned
    val withNulls = Seq((Some(0.5), Some(true)), (None, Some(true)),
        (Some(0.5), None))
      .toDF("score", "label")
    val kept = Profile.calibrationReport(withNulls, "score", "label", 10)
      .collect()
    assert(kept.length == 1 && kept(0).getLong(1) == 1L)
  }

  test("attribution: journeys close at conversions, credit by model") {
    // user 1: view, click, BUY, view, BUY, click(after last conv: dropped)
    val ev = Seq((1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "buy"),
                 (1L, 4L, "view"), (1L, 5L, "buy"), (1L, 6L, "click"))
      .toDF("user_id", "t", "event_type")
    def run(model: String) =
      WindowOps.attribution(ev, Seq("user_id"), Seq("t"), "event_type",
          "buy", model)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
    // linear: journey 1 = {view, click} (0.5 each), journey 2 = {view} (1.0)
    val lin = run("linear")
    assert(lin("view") == ((2L, 1.5)) && lin("click") == ((1L, 0.5)))
    // last touch: journey 1 -> click, journey 2 -> view
    val last = run("last")
    assert(last("click") == ((1L, 1.0)) && last("view") == ((1L, 1.0)))
    // first touch: journey 1 -> view, journey 2 -> view
    val first = run("first")
    assert(first("view") == ((2L, 2.0)) && !first.contains("click"))
  }

  test("kaplanMeier: product-limit estimate with censoring and S=0 tail") {
    // durations: 2(event), 2(censored), 3(event), 5(event) — textbook:
    // t=2: r=4 d=1 S=0.75; t=3: r=2 d=1 S=0.375; t=5: r=1 d=1 S=0
    val df = Seq((2L, 1), (2L, 0), (3L, 1), (5L, 1)).toDF("dur", "ev")
    val got = WindowOps.kaplanMeier(df, "dur", "ev")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // exp(Σln) carries last-ulp noise: compare survival to 1e-12
    assert(got(2L)._1 == 4L && got(2L)._2 == 1L && got(2L)._3 == 1L &&
      math.abs(got(2L)._4 - 0.75) < 1e-12)
    assert(math.abs(got(3L)._4 - 0.375) < 1e-12 && got(3L)._1 == 2L)
    assert(got(5L) == ((1L, 1L, 0L, 0.0))) // d = r: survival exactly 0
    assert(got.size == 3) // censored-only durations emit no row
  }

  test("functionalDeps: holds vs violated, null lhs is its own group") {
    val df = Seq(("a", "x", "p"), ("a", "x", "q"), ("b", "y", "p"),
                 (null.asInstanceOf[String], "z", "p"))
      .toDF("k", "v", "w")
    val got = Profile.functionalDeps(df, Seq(("k", "v"), ("k", "w")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(got(("k", "v")) == ((3L, 0L, 1L, true)))   // k -> v holds
    assert(got(("k", "w")) == ((3L, 1L, 2L, false)))  // a maps to {p, q}
    // mixed determinants keep input-order rows grouped by lhs
    val rows = Profile.functionalDeps(df, Seq(("k", "v"), ("v", "k"), ("k", "w")))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("k", "v"), ("k", "w"), ("v", "k")))
    // shared-lhs pairs FUSE: 2 dependents of one determinant = ONE scan
    // (AQE off so the pre-execution plan exposes the scan nodes)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val scans = Profile.functionalDeps(ev,
          Seq(("user_id", "event_type"), ("user_id", "value")))
        .queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
      assert(scans.size == 1, s"expected 1 fused scan, got ${scans.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("latestByKey keeps the newest version per key") {
    val changelog = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "x"))
      .toDF("k", "v", "payload")
    val got = Dedup.latestByKey(changelog, Seq("k"), Seq("v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got == Map(1L -> ((20L, "b")), 2L -> ((5L, "x"))))
  }

  test("scrubPii replaces emails, urls and digit runs") {
    val df = Seq((1L, "mail a.b@x.org or https://ex.com/p?q=1 ref 12345678 ok 123"))
      .toDF("id", "t")
    val out = df.select(TextAnalysis.scrubPii(col("t"))).collect()(0).getString(0)
    assert(out == "mail [EMAIL] or [URL] ref [NUM] ok 123")
  }

  test("weighted sampling: deterministic, biased toward heavy rows") {
    val rows = (1L to 1000L).map(i => (i, if (i <= 10) 1000.0 else 1.0))
    val df = rows.toDF("id", "w")
    val s1 = Sampling.weighted(df, "id", "w", 50).collect().map(_.getLong(0)).toSet
    val s2 = Sampling.weighted(df, "id", "w", 50).collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "same input must give the same sample")
    // the 10 heavy rows (1000x weight) should essentially all be picked
    assert((1L to 10L).count(s1.contains) >= 8)
    val plan = Sampling.weighted(df, "id", "w", 50).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("native dot expression: bit-identical to the HOF fold") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet").limit(200)
    val p = typedlit((0 until 64).map(i => math.sin(i.toDouble)))
    val both = e.select(Similarity.dot(col("embedding"), p).as("native"),
      Similarity.dotHof(col("embedding"), p).as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0)
    assert(both.where(col("native").isNotNull).count() == 200)
  }

  test("canonicalize picks highest score then highest id; singletons survive") {
    val docs = Seq((1L, 100L), (2L, 200L), (3L, 200L), (9L, 50L))
      .toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("node", "label")
    val got = Dedup.canonicalize(docs, clusters, "doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    // cluster 1: max (n_chars, id) = (200, 3); singleton 9 keeps itself
    assert(got == Map(1L -> ((3L, 3L)), 9L -> ((9L, 1L))))
  }

  test("cohortRetention: first-touch cohorts, distinct per (cohort, age)") {
    val ev = Seq((1L, 5L), (1L, 15L), (1L, 7L), (1L, 35L),
      (2L, 12L), (2L, 25L), (3L, 9L)).toDF("user_id", "ts")
    val out = WindowOps.cohortRetention(ev, "user_id", "ts", period = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // u1,u3 cohort 0; u2 cohort 1. u1 active periods {0,1,3}; u2 {1,2}
    assert(out == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L))
  }

  test("profile: one-pass nulls/distincts/min/max in long format") {
    val df = Seq((Some(1L), "a"), (Some(2L), "b"), (None, "a"), (Some(2L), "c"))
      .toDF("k", "s")
    val out = graft.operators.Profile.profile(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
      .toMap
    assert(out("k") == ((4L, 1L, 2L, "1", "2"))) // nulls excluded from distinct/min/max
    assert(out("s") == ((4L, 0L, 3L, "a", "c")))
    // single scan: exploding the aggregate row, not one agg per column
    val plan = graft.operators.Profile.profile(df, Seq("k", "s"))
      .queryExecution.executedPlan.toString
    assert("LocalTableScan|Scan ExistingRDD".r.findAllIn(plan).size <= 1, plan)
  }

  test("funnel: strict step ordering, horizon bound") {
    val ev = Seq(
      (1L, "view", 1L), (1L, "click", 2L), (1L, "purchase", 3L),
      (2L, "click", 1L), (2L, "view", 2L), // click precedes view: stops at step 1
      (3L, "view", 1L), (3L, "click", 5L), (3L, "purchase", 4L), // purchase too early
      (4L, "view", 1L), (4L, "click", 2L), (4L, "purchase", 100L)
    ).toDF("user_id", "event_type", "ts")
    val noH = WindowOps.funnel(ev, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(noH == Map(1 -> 4L, 2 -> 3L, 3 -> 2L))
    // horizon 10 from the previous step's earliest ts: u4's purchase at
    // 100 (click at 2) falls out; everything else unchanged
    val h = WindowOps.funnel(ev, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"), horizon = Some(10L))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(h == Map(1 -> 4L, 2 -> 3L, 3 -> 1L))
  }

  test("batch sessionIds split on inactivity gaps per key") {
    val ev = Seq((1L, 100L), (1L, 200L), (1L, 5000L), (2L, 10L))
      .toDF("user_id", "ts")
    val s = WindowOps.sessionIds(ev, Seq("user_id"), Seq("ts"), "ts", gap = 1000L)
    val got = s.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(r.fieldIndex("session"))).toMap
    assert(got == Map((1L, 100L) -> 1L, (1L, 200L) -> 1L, (1L, 5000L) -> 2L,
      (2L, 10L) -> 1L))
  }

  test("ewmaBounded: truncated geometric weights, one window node") {
    val ev = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 30.0), (2L, 1L, 5.0))
      .toDF("k", "t", "v")
    val out = WindowOps.ewmaBounded(ev, Seq("k"), Seq("t"), "v",
      alpha = 0.5, horizon = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // weights 0.5, 0.25; leading rows have fewer terms (no renorm)
    assert(math.abs(out((1L, 1L)) - 5.0) < 1e-12)
    assert(math.abs(out((1L, 2L)) - (10.0 + 2.5)) < 1e-12)
    assert(math.abs(out((1L, 3L)) - (15.0 + 5.0)) < 1e-12)
    assert(math.abs(out((2L, 1L)) - 2.5) < 1e-12)
    // all horizon terms share ONE Window node (one shuffle)
    val plan = WindowOps.ewmaBounded(ev, Seq("k"), Seq("t"), "v", 0.5, 8)
      .queryExecution.optimizedPlan.toString
    assert(plan.split("\n").count(_.contains("Window [")) == 1, plan)
  }

  test("transitionCounts: successor pairs per key, corpus-wide counts") {
    val ev = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"),
      (2L, 1L, "a"), (2L, 2L, "b"), (3L, 9L, "c"))
      .toDF("k", "t", "e")
    val out = WindowOps.transitionCounts(ev, Seq("k"), Seq("t"), "e")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // (a->b) twice (keys 1,2), (b->a) once; the lone key-3 event emits none
    assert(out == Map(("a", "b") -> 2L, ("b", "a") -> 1L))
  }

  test("rollingActiveUsers: trailing-k distinct users, observed periods only") {
    val ev = Seq((1L, 0L), (1L, 5L), (2L, 5L), (3L, 25L))
      .toDF("u", "ts") // period 10 -> activity periods: u1:{0},u1:{0},u2:{0},u3:{2}
    val out = WindowOps.rollingActiveUsers(ev, "u", "ts",
      period = 10L, windowPeriods = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // period 0: users {1,2}; period 2: {3} (period 1 absent from data ->
    // dropped even though period-0 activity falls in its window)
    assert(out == Map(0L -> 2L, 2L -> 1L))
  }

  test("scd2: consecutive-unchanged compaction + validity intervals") {
    val ev = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), (1L, 30L, 3L, "B"),
      (1L, 40L, 4L, "A"), (2L, 5L, 5L, "X"))
      .toDF("k", "ts", "id", "attr")
    val out = WindowOps.scd2(ev, Seq("k"), Seq("ts", "id"), "ts", "attr")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4))).toSet
    assert(out == Set(
      (1L, "A", 10L, Some(30L), false),  // run A@10..20 compacts to one version
      (1L, "B", 30L, Some(40L), false),
      (1L, "A", 40L, None, true),        // A returns: a NEW version, not merged
      (2L, "X", 5L, None, true)))
  }

  test("decontaminationReport: planted eval excerpt flags its source; eval side broadcasts") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, "totally unrelated words nothing shared here at all ever once"))
      .toDF("doc_id", "text")
    // eval doc 100 = an 8-gram excerpt of train doc 1; eval 101 matches nothing
    val evalSet = Seq(
      (100L, "beta gamma delta epsilon zeta eta theta iota"),
      (101L, "completely disjoint benchmark question text goes right here"))
      .toDF("doc_id", "text")
    val rep = graft.operators.Dedup.decontaminationReport(
      train, "doc_id", "text", evalSet, "doc_id", "text", n = 8, minHits = 1L)
    val got = rep.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // train 1 contains eval 100's single 8-gram (words 2..9); nothing else hits
    assert(got == Set((1L, 100L, 1L)), s"got $got")
    // the benchmark side must broadcast — the 100 TB contract
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("Incremental: merged state ≡ one-shot aggregate; merge chains; empty delta is identity") {
    import graft.operators.Incremental
    val ev = Seq((1L, 1L, 1.5), (2L, 1L, 2.25), (3L, 2L, 3.0), (4L, 3L, -1.0),
      (5L, 1L, 0.125), (6L, 2L, -2.5)).toDF("id", "k", "v")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("n"), col("s").cast("double"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = Incremental.aggregateState(ev, Seq("k"), "v")
    val a = Incremental.aggregateState(ev.where(col("id") % 2 === 0), Seq("k"), "v")
    val b = Incremental.aggregateState(ev.where(col("id") % 3 === 0 && col("id") % 2 =!= 0), Seq("k"), "v")
    val c = Incremental.aggregateState(ev.where(col("id") % 2 =!= 0 && col("id") % 3 =!= 0), Seq("k"), "v")
    // three deltas merged pairwise (chaining: output of merge is input to merge)
    val merged = Incremental.mergeState(Incremental.mergeState(a, b, Seq("k")), c, Seq("k"))
    assert(canon(merged) == canon(oneShot))
    // empty delta is the monoid identity
    val empty = Incremental.aggregateState(ev.where(lit(false)), Seq("k"), "v")
    assert(canon(Incremental.mergeState(oneShot, empty, Seq("k"))) == canon(oneShot))
  }

  test("Incremental histogram state: merge-invisible, clamped, one-bin error") {
    import graft.operators.Incremental
    val rnd = new scala.util.Random(11)
    val rows = (1L to 300L).map(i =>
      (i, (i % 3) + 1, rnd.nextDouble() * 120 - 10)) // some outside [0,100)
    val ev = rows.toDF("id", "k", "v")
    val (lo, hi, bins) = (0.0, 100.0, 20)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val oneShot = Incremental.aggregateHistState(ev, Seq("k"), "v", lo, hi, bins)
      .select(col("k"), col("bin"), col("n"))
    // three arbitrary deltas merged in two different orders == one-shot
    val parts = Seq(0, 1, 2).map(m =>
      Incremental.aggregateHistState(ev.where(col("id") % 3 === m),
        Seq("k"), "v", lo, hi, bins))
    val m1 = Incremental.mergeHistState(
      Incremental.mergeHistState(parts(0), parts(1), Seq("k")), parts(2), Seq("k"))
    val m2 = Incremental.mergeHistState(
      Incremental.mergeHistState(parts(2), parts(0), Seq("k")), parts(1), Seq("k"))
    assert(canon(m1.select(col("k"), col("bin"), col("n"))) == canon(oneShot))
    assert(canon(m2.select(col("k"), col("bin"), col("n"))) == canon(oneShot))
    // clamping: every bin in range, total mass preserved (outliers count)
    val binsSeen = oneShot.collect().map(_.getLong(1))
    assert(binsSeen.forall(b => b >= 0 && b < bins))
    assert(oneShot.agg(sum("n")).first().getLong(0) == 300L)
    // readout within one bin width of the exact quantile (for in-range
    // mass; clamped outliers pull the estimate, which is the documented
    // contract — compare on a key restricted to in-range values)
    val inRange = ev.where(col("v") >= lo && col("v") < hi)
    val st = Incremental.aggregateHistState(inRange, Seq("k"), "v", lo, hi, bins)
    val q = Incremental.histQuantiles(st, Seq("k"),
        Seq("p50" -> 0.5), lo, hi, bins)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val width = (hi - lo) / bins
    val exact = inRange.collect().map(r => (r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (k, vs) =>
        val sorted = vs.map(_._2).sorted
        k -> sorted((math.ceil(0.5 * sorted.size) - 1).toInt.max(0))
      }
    exact.foreach { case (k, e) =>
      assert(math.abs(q(k) - e) <= width, s"k=$k got ${q(k)} exact $e") }
  }

  test("time-windowed operators accept a typed TIMESTAMP ts column (µs units)") {
    // same events twice: epoch-µs longs vs the equivalent TIMESTAMP
    // column — sessionIds/cohortRetention/funnel/rollingRangeAgg must
    // agree (typed path goes through unix_micros internally)
    val base = Seq((1L, "view", 100L), (1L, "click", 200L),
      (1L, "view", 5000L), (2L, "view", 10L), (2L, "click", 3000L))
    val asLong = base.toDF("user_id", "event_type", "tsu")
    val asTyped = asLong.withColumn("tst",
      org.apache.spark.sql.functions.timestamp_micros(col("tsu")))
    def canonSess(df: org.apache.spark.sql.DataFrame, tsCol: String) =
      WindowOps.sessionIds(df, Seq("user_id"), Seq("tsu"), tsCol, gap = 1000L)
        .select("user_id", "tsu", "session").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(canonSess(asLong, "tsu") == canonSess(asTyped, "tst"))
    def canonCohort(df: org.apache.spark.sql.DataFrame, tsCol: String) =
      WindowOps.cohortRetention(df, "user_id", tsCol, period = 1000L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(canonCohort(asLong, "tsu") == canonCohort(asTyped, "tst"))
    def canonFunnel(df: org.apache.spark.sql.DataFrame, tsCol: String) =
      WindowOps.funnel(df, "user_id", "event_type", tsCol,
        Seq("view", "click"), horizon = Some(500L))
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(canonFunnel(asLong, "tsu") == canonFunnel(asTyped, "tst"))
    def canonRange(df: org.apache.spark.sql.DataFrame, tsCol: String) =
      WindowOps.rollingRangeAgg(df, Seq("user_id"), tsCol,
        org.apache.spark.sql.functions.count(lit(1)), 1000L, "n")
        .select("user_id", "tsu", "n").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(canonRange(asLong, "tsu") == canonRange(asTyped, "tst"))
  }

  test("int8 quantization: scale and floor-clamped codes") {
    val df = Seq((1L, Seq(0.5f, -1.0f, 0.25f, 0.0f))).toDF("id", "v")
    val r = df.select(Similarity.quantScale(col("v")).as("s"),
      Similarity.quantizeInt8(col("v")).as("q")).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getSeq[Int](1) == Seq(63, -127, 31, 0))
    val z = Seq((1L, Seq(0.0f, 0.0f))).toDF("id", "v")
      .select(Similarity.quantizeInt8(col("v")).as("q")).collect()(0)
    assert(z.getSeq[Int](0) == Seq(0, 0))
  }

  test("random projection is deterministic and outDim-sized") {
    val df = Seq((1L, (0 until 64).map(_.toFloat / 64))).toDF("id", "v")
    val cols = Similarity.randomProjection(col("v"), outDim = 4, dim = 64, seed = 7L)
    assert(cols.length == 4)
    val a = df.select(cols: _*).collect()(0)
    val b = df.select(Similarity.randomProjection(col("v"), 4, 64, 7L): _*).collect()(0)
    assert((0 until 4).forall(i => a.getDouble(i) == b.getDouble(i)))
  }

  test("rollingAgg: same-spec rolling calls fuse into ONE Window node") {
    val ev = spark.read.parquet(s"$dir/events.parquet").limit(200)
    val part = Seq("user_id"); val ord = Seq("ts", "event_id")
    val out = WindowOps.rollingAgg(
      WindowOps.rollingAgg(ev, part, ord, min(col("value")), 5, "rmin"),
      part, ord, max(col("value")), 5, "rmax")
    val top = out.queryExecution.executedPlan
    val inner = top match { // AQE wrapper hides children from collect
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val windows = inner.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.length == 1, s"expected one fused Window, got ${windows.length}")
    val r = out.where(col("rmin") > col("rmax")).count()
    assert(r == 0)
  }

  test("window ops: ffill/bfill/cummax/cummin/pct_change") {
    val df = Seq((1, 1, Option(2.0)), (1, 2, Option.empty[Double]),
      (1, 3, Option(8.0)), (1, 4, Option.empty[Double]))
      .toDF("k", "t", "v")
    def vals(d: org.apache.spark.sql.DataFrame, c: String): Seq[Option[Double]] =
      d.orderBy("t").collect().map(r =>
        if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c)))).toSeq
    assert(vals(WindowOps.ffill(df, Seq("k"), Seq("t"), "v", "f"), "f")
      == Seq(Some(2.0), Some(2.0), Some(8.0), Some(8.0)))
    assert(vals(WindowOps.bfill(df, Seq("k"), Seq("t"), "v", "b"), "b")
      == Seq(Some(2.0), Some(8.0), Some(8.0), None))
    val base = Seq((1, 1, 2.0), (1, 2, 1.0), (1, 3, 4.0)).toDF("k", "t", "v")
    assert(vals(WindowOps.cummax(base, Seq("k"), Seq("t"), "v", "cm"), "cm")
      == Seq(Some(2.0), Some(2.0), Some(4.0)))
    assert(vals(WindowOps.cummin(base, Seq("k"), Seq("t"), "v", "cn"), "cn")
      == Seq(Some(2.0), Some(1.0), Some(1.0)))
    assert(vals(WindowOps.pctChange(base, Seq("k"), Seq("t"), "v", "p"), "p")
      == Seq(None, Some(-0.5), Some(3.0)))
  }

  test("splitAssign: deterministic, exhaustive, roughly proportional") {
    val df = spark.range(2000).toDF("id")
    val out = Sampling.splitAssign(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000L)
    assert(counts("train") > 1500 && counts("train") < 1700)
    assert(counts("val") > 120 && counts("val") < 280)
    // re-evaluation is identical (hash-based, not rand())
    val again = Sampling.splitAssign(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(out.union(again).distinct().count() == 2000L)
    intercept[IllegalArgumentException](
      Sampling.splitAssign(df, "id", Seq("a" -> 0.5)))
  }

  test("assignCentroids: centroid vectors assign to themselves") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = emb.where(col("vec_id") < 4)
    val out = Similarity.assignCentroids(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding")
    val self = out.where(col("vec_id") < 4).collect()
    assert(self.length == 4)
    self.foreach { r =>
      assert(r.getLong(0) == r.getLong(1)) // nearest centroid is itself
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
    assert(out.count() == emb.count())
  }

  test("stripMarkup: containers whole, tags dropped, entities one level, fragments not text") {
    val cases = Seq(
      // script content (with tags-in-strings and operators) removed whole
      ("<p>keep</p><script>if(a<b && c>d){x=\"<i>no</i>\"}</script><b>this</b>",
        "keep this"),
      // style + comment containers; attribute-laden tags
      ("<style type=\"text/css\">p>a { color: red }</style><a href=\"x?a=1&amp;b=2\">link</a><!-- gone -->",
        "link"),
      // entity decode is ONE level, amp last: &amp;lt; -> &lt;, not <
      ("Tom &amp; Jerry &amp;lt;3 &lt;ok&gt; &quot;q&quot; &#39;a&#39;&nbsp;end",
        "Tom & Jerry &lt;3 <ok> \"q\" 'a' end"),
      // unclosed script degrades to fragments, never dropped body text
      ("<script>var x = 1; trailing body text", "var x = 1; trailing body text"),
      // whitespace collapse across removed blocks
      ("a\n\n<p>\n</p>\t b", "a b"))
    val df = cases.zipWithIndex.map { case ((in, _), i) => (i, in) }.toDF("i", "t")
    val got = df.select(col("i"), TextAnalysis.stripMarkup(col("t")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((_, want), i) =>
      assert(got(i) == want, s"case $i: got '${got(i)}' want '$want'")
    }
  }

  test("unigramScore: model counts, OOV penalty, empty dropout, partition-invariant bits") {
    val corpus = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val model = TextAnalysis.unigramModel(corpus, "text")
    val m = model.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(m("a")._1 == 3 && m("b")._1 == 1 && m("c")._1 == 1)
    assert(math.abs(m("a")._2 - math.log(3.0 / 5)) < 1e-12)
    val docs = Seq((10L, "a b"), (11L, "zz"), (12L, "   ")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramScore(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(12L), "zero-token doc must drop out")
    val expect10 = (math.floor(math.log(3.0 / 5) * 1e9) +
      math.floor(math.log(1.0 / 5) * 1e9)) / (2 * 1e9)
    assert(out(10L)._1 == 2L && math.abs(out(10L)._2 - expect10) < 1e-15)
    assert(out(11L) == ((1L, -20.0))) // OOV floor, exact
    // the nano-quantized integer sum makes scores BIT-identical across
    // partitionings (double summation would drift in the last ulps)
    val docs2 = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val model2 = TextAnalysis.unigramModel(docs2, "text")
    val a = TextAnalysis.unigramScore(docs2.repartition(7), "doc_id", "text", model2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b = TextAnalysis.unigramScore(docs2.repartition(2), "doc_id", "text", model2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a == b)
  }

  test("stupidBackoffScore: seen-bigram / backoff / OOV branches, dropout, partition-invariant bits") {
    // model: a:3 b:2 c:1 (N=6); bigrams (a,b):2 (a,c):1
    val model = Seq("a b", "a b", "a c").toDF("text")
    val docs = Seq((10L, "a b"), (11L, "b z c"), (12L, "zz"), (13L, " "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.stupidBackoffScore(docs, model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(13L), "zero-token doc must drop out")
    def nq(x: Double): Long = math.floor(x * 1e9).toLong
    // head a = ln(3/6); (a,b) seen = ln(2/3)
    val e10 = (nq(math.log(3.0 / 6)) + nq(math.log(2.0 / 3))) / (2 * 1e9)
    assert(out(10L)._1 == 2L && math.abs(out(10L)._2 - e10) < 1e-15)
    // head b = ln(2/6); (b,z): z unseen -> OOV; (z,c): backoff ln(0.4*(1/6))
    val e11 = (nq(math.log(2.0 / 6)) + nq(-20.0) +
      nq(math.log(0.4 * (1.0 / 6)))) / (3 * 1e9)
    assert(out(11L)._1 == 3L && math.abs(out(11L)._2 - e11) < 1e-15)
    assert(out(12L) == ((1L, -20.0))) // single OOV head, exact
    // nano-quantized integer sums: scores bit-identical across partitionings
    val docs2 = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    val en = docs2.where(col("lang") === "en").select("text")
    def score(parts: Int) = TextAnalysis.stupidBackoffScore(
        docs2.repartition(parts).select("doc_id", "text"), en, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(score(7) == score(2))
  }

  test("persisted near-dup index: probe equals batch cross-pairs, corpus never shuffles") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.where(col("doc_id") >= 50)
    val batch = docs.where(col("doc_id") < 50)
      .union(docs.where(col("doc_id") >= 50 && col("doc_id") < 55)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text")))
    graft.operators.Dedup.buildNearDupIndex(corpus, "doc_id", "text",
      "ndspec_idx", buckets = 4)
    val probed = graft.operators.Dedup.nearDupAgainstIndex(spark,
      "ndspec_idx", batch, "doc_id", "text", threshold = 0.8)
    probed.write.format("noop").mode("overwrite").save()
    val got = probed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // parity: exhaustive batch near-dup over the union, restricted to
    // (corpus, batch) cross pairs — id ranges are disjoint so membership
    // is decidable from the id alone
    val isBatch = (id: Long) => id < 50 || id >= 900000L
    val full = graft.operators.Dedup.nearDuplicates(
      corpus.union(batch), "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cross = full.collect {
      case (l, r, j) if !isBatch(l) && isBatch(r) => (l, r, j)
      case (l, r, j) if isBatch(l) && !isBatch(r) => (r, l, j)
    }.toSet
    assert(got == cross, s"probe=${got.size} cross=${cross.size}")
    // the five planted copies are found at jaccard 1.0
    assert((50L until 55L).forall(i => got.contains((i, i + 900000L, 1.0))))
    // both index tables read as bucketed scans, and the corpus bands
    // side NEVER shuffles on the packed bucket: at most one __bucket
    // exchange may appear (the batch side; AQE may broadcast it away
    // entirely at this scale — two would mean the bucketed corpus table
    // shuffled too)
    val plan = probed.queryExecution.executedPlan.toString
    assert("Bucketed: true".r.findAllIn(plan).size == 2,
      s"expected two bucketed index scans:\n${plan.take(3000)}")
    assert("Exchange hashpartitioning\\(__bucket".r.findAllIn(plan).size <= 1,
      s"corpus bands table must not shuffle:\n${plan.take(3000)}")
  }

  test("pqEncode recovers exact codes on vectors built from the codebook") {
    // a vector whose every 16-dim subspace IS codebook centroid c_j must
    // encode to exactly (c_0+1, ..., c_3+1): its sub-distance there is 0
    val m = 4; val ksub = 8; val dim = 64
    val cb = Similarity.pqCodebook(m, ksub, dim / m, 42L)
    val combos = Seq(Seq(0, 0, 0, 0), Seq(1, 2, 3, 4), Seq(7, 7, 7, 7))
    val rows = combos.zipWithIndex.map { case (cs, i) =>
      (i.toLong, cs.zipWithIndex.flatMap { case (c, j) => cb(j)(c) }
        .map(_.toFloat).toArray)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.pqEncode(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    combos.zipWithIndex.foreach { case (cs, i) =>
      assert(got(i.toLong) == cs.map(_ + 1), s"combo $cs")
    }
  }

  test("pqTopK: ADC ties break by neighbor id; corpus side stays codes-only") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 3)
    val out = Similarity.pqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val rows = out.orderBy("query_id", "rank").collect()
    assert(rows.length == 30)
    // ranks contiguous; adc non-decreasing; equal adc => ascending id
    rows.grouped(10).foreach { g =>
      g.sliding(2).foreach { case Array(a, b) =>
        val (da, db) = (a.getDouble(3), b.getDouble(3))
        assert(da <= db)
        if (da == db) assert(a.getLong(2) < b.getLong(2), "tie must break by id")
      }
    }
    // ADC ties actually occur in this corpus (4096 code combos) — the
    // tiebreak assertion above is exercised, not vacuous
    val adcs = rows.map(r => (r.getLong(0), r.getDouble(3)))
    assert(adcs.groupBy(identity).exists(_._2.length > 1) ||
      adcs.distinct.length < adcs.length)
    // ONE exchange total: the final per-query top-k aggregate. The
    // corpus side (encode + broadcast ADC join + partial top-k) never
    // shuffles
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(2000))
  }

  test("IVF-PQ index: bucket-pruned codes-only probe; full probe ≡ pqTopK") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", "ivfpqspec_idx",
      nlist = 8, buckets = 16)
    // the index stores codes, not vectors
    val cols = spark.table("ivfpqspec_idx").columns.toSet
    assert(cols == Set("__cid", "__codes", "__cluster"))
    val queries = emb.where(col("vec_id") < 3)
    val partial = Similarity.ivfPqTopKIndexed(spark, "ivfpqspec_idx",
      queries, "vec_id", "embedding", k = 3, nprobe = 2)
    partial.write.format("noop").mode("overwrite").save()
    val plan = partial.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"expected bucket pruning:\n${plan.take(3000)}")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt, sel.get.matched)
    assert(!plan.contains("Exchange hashpartitioning(__cluster"),
      s"corpus side must not shuffle on the list id:\n${plan.take(3000)}")
    // nprobe = nlist ≡ pqTopK over the whole corpus, bit for bit
    val full = Similarity.ivfPqTopKIndexed(spark, "ivfpqspec_idx",
      queries, "vec_id", "embedding", k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val flat = Similarity.pqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(full.sortBy(t => (t._1, t._2)).toSeq == flat.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("IVF-PQ index persists its codebook: a TRAINED index round-trips build → probe") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val centers = typedlit(graft.queries.SimilarityQueries.PqClusterCenters)
    val ce = emb.select(col("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        element_at(element_at(centers, (col("vec_id") % 16).cast("int") + 1), i) +
          element_at(col("embedding"), i).cast("double") * lit(0.1))
        .as("embedding"))
    val cb = Similarity.trainPqCodebooks(ce, "vec_id", "embedding",
      lloydIters = 1)
    Similarity.buildIvfPqIndex(ce, "vec_id", "embedding", "ivfpqtr_idx",
      nlist = 8, buckets = 8, codebook = Some(cb))
    // the persisted codebook holds exactly the trained literals
    val stored = spark.table("ivfpqtr_idx_codebook").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    assert(stored.size == 4 * 8 * 16)
    for (j <- 0 until 4; c <- 0 until 8; p <- 0 until 16)
      assert(stored((j, c + 1, p + 1)) == cb(j)(c)(p))
    // full probe of the trained index ≡ flat pqTopK with the trained
    // codebook — the probe reads the index's own codebook, never
    // re-deriving seed planes
    val queries = ce.where(col("vec_id") < 3)
    val full = Similarity.ivfPqTopKIndexed(spark, "ivfpqtr_idx",
      queries, "vec_id", "embedding", k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val flat = Similarity.pqTopK(ce, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, codebook = Some(cb))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(full.sortBy(t => (t._1, t._2)).toSeq ==
      flat.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("ivfPqTopKRefined: exact re-rank never loses to raw ADC; raw-vector fetch is candidate-bounded and broadcast") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val centers = typedlit(graft.queries.SimilarityQueries.PqClusterCenters)
    val ce = emb.select(col("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        element_at(element_at(centers, (col("vec_id") % 16).cast("int") + 1), i) +
          element_at(col("embedding"), i).cast("double") * lit(0.1))
        .as("embedding"))
    Similarity.buildIvfPqIndex(ce, "vec_id", "embedding", "ivfpqrr_idx",
      nlist = 8, buckets = 16)
    val queries = ce.where(col("vec_id") < 5)
    val (k, refine) = (5, 4)
    val refined = Similarity.ivfPqTopKRefined(spark, "ivfpqrr_idx",
      queries, "vec_id", "embedding", ce, "vec_id", "embedding",
      k = k, refine = refine, nprobe = 8)
    val rows = refined.orderBy("query_id", "rank").collect()
    assert(rows.length == 5 * k)
    // cosine non-increasing within a query; ties break by ascending id
    rows.grouped(k).foreach { g =>
      g.sliding(2).foreach { case Array(a, b) =>
        assert(a.getDouble(3) >= b.getDouble(3))
        if (a.getDouble(3) == b.getDouble(3))
          assert(a.getLong(2) < b.getLong(2))
      }
    }
    // the re-ranked scores ARE exact cosines: every emitted pair matches
    // brute force's value bit for bit, and recall vs brute-force top-k
    // is >= the unrefined ADC top-k's recall (re-ranking cannot hurt)
    val brute = Similarity.bruteForceTopK(ce, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val bruteAll = Similarity.bruteForceTopK(ce, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(math.abs(bruteAll(key) - r.getDouble(3)) == 0.0,
        s"re-rank score not exact at $key")
    }
    val refinedHits = rows.map(r => (r.getLong(0), r.getLong(2)))
      .count(brute.contains)
    val adcHits = Similarity.ivfPqTopKIndexed(spark, "ivfpqrr_idx",
      queries, "vec_id", "embedding", k = k, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).count(brute.contains)
    assert(refinedHits >= adcHits,
      s"re-rank lost recall: $refinedHits < $adcHits")
    // scale posture: the candidate list and query vectors broadcast; the
    // raw-vector corpus is never shuffled for the fetch (its join keys
    // arrive map-side), so the fetch touches <= refine*k*|queries| rows
    val plan = refined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(__cid"),
      s"raw-vector fetch must not shuffle the corpus:\n${plan.take(3000)}")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(3000))
  }

  test("trainPqCodebooks: partition-invariant, shrinks quantization distortion vs seed planes, feeds the same ADC chain") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val centers = typedlit(graft.queries.SimilarityQueries.PqClusterCenters)
    val ce = emb.select(col("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        element_at(element_at(centers, (col("vec_id") % 16).cast("int") + 1), i) +
          element_at(col("embedding"), i).cast("double") * lit(0.1))
        .as("embedding"))
    val cb = Similarity.trainPqCodebooks(ce, "vec_id", "embedding",
      m = 4, ksub = 8, dim = 64, lloydIters = 2)
    assert(cb.size == 4 && cb.forall(_.size == 8) &&
      cb.forall(_.forall(_.size == 16)))
    // partition-invariance: the exact-long sums make the trained
    // literals independent of data layout
    val cb7 = Similarity.trainPqCodebooks(ce.repartition(7), "vec_id",
      "embedding", m = 4, ksub = 8, dim = 64, lloydIters = 2)
    assert(cb == cb7, "codebook must not depend on partitioning")
    // distortion = mean squared-L2 between each vector and its encoded
    // reconstruction; trained codebooks must beat the seed planes on
    // the clustered corpus (the entire point of training)
    def distortion(codebook: Option[Seq[Seq[Seq[Double]]]]): Double = {
      val enc = Similarity.pqEncode(ce, "vec_id", "embedding",
        codebook = codebook).withColumnRenamed("vec_id", "eid")
      ce.join(enc, col("vec_id") === col("eid"))
        .select(col("embedding").as("v"), col("codes")).collect()
        .map { r =>
          val v = r.getSeq[Double](0)
          val codes = r.getSeq[Int](1)
          val cbUsed = codebook.getOrElse(
            Similarity.pqCodebook(4, 8, 16, 42L))
          (0 until 4).map { j =>
            val cent = cbUsed(j)(codes(j) - 1)
            (0 until 16).map { p =>
              val d = v(j * 16 + p) - cent(p); d * d }.sum
          }.sum
        }.sum
    }
    val trained = distortion(Some(cb))
    val seeded = distortion(None)
    assert(trained < seeded,
      s"training must shrink distortion: $trained >= $seeded")
  }

  test("clustered PQ fixture is non-degenerate: codes vary across clusters") {
    // the q_ivfpq_recall fixture exists because the raw corpus
    // embeddings collapse the codebook (one code combo corpus-wide —
    // zero ADC discrimination); pin that the synthesized clusters
    // actually spread the codes, or the recall contract tests nothing
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val centers = typedlit(graft.queries.SimilarityQueries.PqClusterCenters)
    val ce = emb.select(col("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        element_at(element_at(centers, (col("vec_id") % 16).cast("int") + 1), i) +
          element_at(col("embedding"), i).cast("double") * lit(0.1))
        .as("embedding"))
    val rawCombos = Similarity.pqEncode(emb, "vec_id", "embedding")
      .select(col("codes").cast("array<int>").cast("string")).distinct().count()
    val ceCombos = Similarity.pqEncode(ce, "vec_id", "embedding")
      .select(col("codes").cast("array<int>").cast("string")).distinct().count()
    assert(ceCombos >= 8, s"clustered fixture yields only $ceCombos code combos")
    assert(ceCombos > rawCombos,
      s"fixture ($ceCombos) must spread codes beyond the raw corpus ($rawCombos)")
  }

  test("kmeansIterate ≡ assignCentroids + join + centroids, exactly") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").limit(200)
    val cents = emb.where(col("vec_id") < 4)
    val fused = Similarity.kmeansIterate(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding")
    val assigned = Similarity.assignCentroids(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding").select("vec_id", "centroid_id")
    val composed = Similarity.centroids(
      emb.join(assigned, "vec_id"), Seq("centroid_id"), "embedding")
    assert(fused.count() % 64 == 0)
    assert(fused.except(composed).count() == 0)
    assert(composed.except(fused).count() == 0)
  }

  test("contaminationPairs: shared-shingle counts vs probe set") {
    val corpus = Seq((1L, "x y z w q"), (2L, "a b c d e")).toDF("doc_id", "text")
    val probes = Seq((10L, "x y z w")).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(corpus, "doc_id", "text",
      probes, "doc_id", "text", n = 3, minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1 shares "x y z" and "y z w"; doc 2 shares nothing
    assert(out == Seq((1L, 10L, 2L)))
  }

  test("repetitionStats: dup and top n-gram fractions") {
    val docs = Seq((1L, "a b a b a"), (2L, "p q r s")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
    // doc 1: grams [a b, b a, a b, b a] → 4 total, 2 distinct
    assert(out(0).getLong(1) == 4L && out(0).getLong(2) == 2L)
    assert(math.abs(out(0).getDouble(3) - 0.5) < 1e-12)
    assert(math.abs(out(0).getDouble(4) - 0.5) < 1e-12)
    // doc 2: all distinct → dup_frac 0
    assert(out(1).getDouble(3) == 0.0)
  }

  test("rank methods on ties; time-range rolling sum") {
    val df = Seq((1, 1L, 10.0), (1, 2L, 10.0), (1, 3L, 20.0))
      .toDF("k", "t", "v")
    val ranked = Seq(
      (d: org.apache.spark.sql.DataFrame) => WindowOps.rank(d, Seq("k"), Seq("v"), "r"),
      (d: org.apache.spark.sql.DataFrame) => WindowOps.denseRank(d, Seq("k"), Seq("v"), "dr"),
      (d: org.apache.spark.sql.DataFrame) => WindowOps.percentRank(d, Seq("k"), Seq("v"), "pr"))
      .foldLeft(df)((d, f) => f(d)).orderBy("t").collect()
    assert(ranked.map(_.getInt(ranked.head.fieldIndex("r"))).toSeq == Seq(1, 1, 3))
    assert(ranked.map(_.getInt(ranked.head.fieldIndex("dr"))).toSeq == Seq(1, 1, 2))
    assert(ranked.map(_.getDouble(ranked.head.fieldIndex("pr"))).toSeq == Seq(0.0, 0.0, 1.0))
    // trailing range 10: at t-units ts 0/5/20, lookback 10 covers {0,5}, {0,5}, {20}
    val tdf = Seq((1, 0L, 1.0), (1, 5L, 2.0), (1, 20L, 4.0)).toDF("k", "ts", "v")
    val hs = WindowOps.rollingRangeAgg(tdf, Seq("k"), "ts", sum(col("v")), 10L, "s")
      .orderBy("ts").collect().map(_.getDouble(3)).toSeq
    assert(hs == Seq(1.0, 3.0, 4.0))
  }

  test("interpolate: linear gap fill, leading nulls kept, trailing carried") {
    val df = Seq((1, 1, Option.empty[Double]), (1, 2, Option(2.0)),
      (1, 3, Option.empty[Double]), (1, 4, Option.empty[Double]),
      (1, 5, Option(8.0)), (1, 6, Option.empty[Double]))
      .toDF("k", "t", "v")
    val out = WindowOps.interpolate(df, Seq("k"), Seq("t"), "v", "vi")
      .orderBy("t").collect().map(r =>
        if (r.isNullAt(r.fieldIndex("vi"))) None
        else Some(r.getDouble(r.fieldIndex("vi")))).toSeq
    // t=1 leading → null; t=3,4 blend 2.0→8.0 at 1/3, 2/3; t=6 trailing → 8.0
    assert(out == Seq(None, Some(2.0), Some(4.0), Some(6.0), Some(8.0), Some(8.0)))
    assert(!out.headOption.flatten.isDefined)
  }

  test("cusum: reflection identity matches the recursion, nulls skip") {
    // target=10, slack=2: y+ = x-12, y- = 8-x
    val rows = Seq((1L, 1L, 10.0), (1L, 2L, 10.0), (1L, 3L, 25.0),
        (1L, 4L, 30.0), (1L, 5L, 10.0),
        (2L, 1L, 2.0), (2L, 2L, 3.0), (2L, 3L, 20.0))
      .toDF("k", "t", "v")
    val out = WindowOps.cusum(rows, Seq("k"), Seq("t"), "v",
        target = 10.0, slack = 2.0, threshold = 20.0)
      .orderBy("k", "t")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Double]("s_hi"),
        r.getAs[Double]("s_lo"), r.getAs[Boolean]("alarm")))
    // brute-force recursion for every row
    def brute(xs: Seq[Double]): Seq[(Double, Double)] =
      xs.scanLeft((0.0, 0.0)) { case ((h, l), x) =>
        (math.max(0, h + x - 12.0), math.max(0, l + 8.0 - x)) }.tail
    val exp1 = brute(Seq(10, 10, 25, 30, 10))
    val exp2 = brute(Seq(2, 3, 20))
    (out.take(5).zip(exp1) ++ out.drop(5).zip(exp2)).foreach {
      case ((_, h, l, a), (eh, el)) =>
        assert(math.abs(h - eh) < 1e-9 && math.abs(l - el) < 1e-9)
        assert(a == (eh > 20.0 || el > 20.0))
    }
    // a NULL measurement: null scores, no alarm, recursion resumes
    val withNull = Seq((1L, 1L, Some(25.0)), (1L, 2L, None),
        (1L, 3L, Some(25.0))).toDF("k", "t", "v")
    val nOut = WindowOps.cusum(withNull, Seq("k"), Seq("t"), "v",
        10.0, 2.0, 20.0).orderBy("t").collect()
    assert(nOut(1).isNullAt(nOut(1).fieldIndex("s_hi")))
    assert(!nOut(1).getAs[Boolean]("alarm"))
    // 13 + 13 = 26: the null row did not reset the running sum
    assert(math.abs(nOut(2).getAs[Double]("s_hi") - 26.0) < 1e-9)
  }

  test("rollingCorr: exact on perfect trends, null on degenerate windows") {
    val up = (1 to 6).map(i => (1L, i.toLong, i.toDouble, 2.0 * i + 1))
    val down = (1 to 6).map(i => (2L, i.toLong, i.toDouble, -3.0 * i))
    val flat = (1 to 6).map(i => (3L, i.toLong, i.toDouble, 7.0))
    val df = (up ++ down ++ flat).toDF("k", "t", "x", "y")
    val out = WindowOps.rollingCorr(df, Seq("k"), Seq("t"), "x", "y", 3)
      .orderBy("k", "t").collect()
    out.foreach { r =>
      val k = r.getAs[Long]("k"); val t = r.getAs[Long]("t")
      val c = if (r.isNullAt(r.fieldIndex("corr"))) None
        else Some(r.getAs[Double]("corr"))
      if (t == 1) assert(c.isEmpty, s"n=1 window must be NULL at k=$k")
      else if (k == 1L) assert(math.abs(c.get - 1.0) < 1e-9)
      else if (k == 2L) assert(math.abs(c.get + 1.0) < 1e-9)
      else assert(c.isEmpty, "zero-variance side must be NULL")
    }
    // pairwise null exclusion: a null y row contributes nothing
    val withNull = Seq((1L, 1L, 1.0, Some(3.0)), (1L, 2L, 2.0, None),
        (1L, 3L, 3.0, Some(5.0)), (1L, 4L, 4.0, Some(6.0)))
      .toDF("k", "t", "x", "y")
    val c4 = WindowOps.rollingCorr(withNull, Seq("k"), Seq("t"), "x", "y", 4)
      .orderBy("t").collect().last.getAs[Double]("corr")
    // pairs (1,3),(3,5),(4,6) are collinear
    assert(math.abs(c4 - 1.0) < 1e-9)
  }

  test("applyChangelog: deletes tombstone, re-inserts resurrect, null op kept") {
    val log = Seq(
      (1L, 1L, 10.0, Some("I")),   // plain insert -> kept
      (2L, 1L, 20.0, Some("I")), (2L, 2L, 21.0, Some("U")), // update wins
      (3L, 1L, 30.0, Some("I")), (3L, 2L, 0.0, Some("D")),  // deleted
      (4L, 1L, 40.0, Some("I")), (4L, 2L, 0.0, Some("D")),
      (4L, 3L, 41.0, Some("I")),   // re-insert after delete -> resurrected
      (5L, 1L, 50.0, None))        // connector that leaves op NULL on insert
      .toDF("id", "ver", "v", "op")
    val snap = Dedup.applyChangelog(log, Seq("id"), Seq("ver"), "op")
      .orderBy("id").collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[Double]("v"))).toSeq
    assert(snap == Seq((1L, 10.0), (2L, 21.0), (4L, 41.0), (5L, 50.0)))
    assert(!Dedup.applyChangelog(log, Seq("id"), Seq("ver"), "op")
      .columns.contains("op"))
  }

  test("gainsTable: captures order, ties stay in one band, totals conserve") {
    // 10 rows, scores 0.0..0.9, positives are the top 3 scores
    val rows = (0 until 10).map(i => (i.toLong, i / 10.0, i >= 7))
      .toDF("id", "score", "label")
    val g = Profile.gainsTable(rows, "score", "label", buckets = 2)
      .orderBy("bucket").collect()
    assert(g.length == 2)
    val top = g(0)
    assert(top.getAs[Int]("bucket") == 1 && top.getAs[Long]("n") == 5)
    assert(top.getAs[Long]("n_pos") == 3)
    assert(math.abs(top.getAs[Double]("gain") - 1.0) < 1e-9)
    // lift = (3/5)/(3/10) = 2.0
    assert(math.abs(top.getAs[Double]("lift") - 2.0) < 1e-9)
    val bot = g(1)
    assert(bot.getAs[Long]("cum_n") == 10 && bot.getAs[Long]("cum_pos") == 3)
    assert(math.abs(bot.getAs[Double]("lift") - 1.0) < 1e-9)
    // tied scores never split across bands: constant score -> ONE band
    val tied = (0 until 8).map(i => (i.toLong, 0.5, i % 2 == 0))
      .toDF("id", "score", "label")
    val tg = Profile.gainsTable(tied, "score", "label", buckets = 4).collect()
    assert(tg.length == 1 && tg(0).getAs[Long]("n") == 8)
    // all-negative labels: NULL gain/lift, never a division blow-up
    val neg = (0 until 6).map(i => (i.toLong, i / 6.0, false))
      .toDF("id", "score", "label")
    val ng = Profile.gainsTable(neg, "score", "label", buckets = 2).collect()
    assert(ng.forall(r => r.isNullAt(r.fieldIndex("gain")) &&
      r.isNullAt(r.fieldIndex("lift"))))
    // gini over the 2-band curve: points (0,0) -> (0.5, 1) -> (1, 1)
    // give AUC .75, gini .5; a perfectly anti-ranked input goes negative
    val g2 = Profile.giniFromGains(
      Profile.gainsTable(rows, "score", "label", 2)).collect()(0)
    assert(math.abs(g2.getDouble(0) - 0.5) < 1e-9)
    val anti = (0 until 10).map(i => (i.toLong, i / 10.0, i < 3))
      .toDF("id", "score", "label")
    val ga = Profile.giniFromGains(
      Profile.gainsTable(anti, "score", "label", 2)).collect()(0)
    assert(ga.getDouble(0) < 0, "anti-ranking must score negative")
    // no positives anywhere -> NULL gini
    val gn = Profile.giniFromGains(
      Profile.gainsTable(neg, "score", "label", 2)).collect()(0)
    assert(gn.isNullAt(0))
  }

  test("coVisitationLift: margins from the capped set, minSupport prunes") {
    val rel = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
        (3L, "a"), (3L, "c"), (4L, "b"))
      .toDF("k", "item")
    val all = GraphOps.coVisitationLift(rel, "k", "item", maxPerKey = 10)
      .collect().map(r => ((r.getAs[String]("item_a"), r.getAs[String]("item_b")),
        (r.getAs[Long]("n"), r.getAs[Double]("lift")))).toMap
    // margins: a=3, b=3, c=1; N=4 keys
    // lift(a,b) = 2*4/(3*3); lift(a,c) = 1*4/(3*1)
    assert(all(("a", "b"))._1 == 2L)
    assert(math.abs(all(("a", "b"))._2 - 8.0 / 9.0) < 1e-12)
    assert(math.abs(all(("a", "c"))._2 - 4.0 / 3.0) < 1e-12)
    // minSupport prunes the singleton pair BEFORE the margin joins
    val pruned = GraphOps.coVisitationLift(rel, "k", "item", 10, minSupport = 2L)
      .collect()
    assert(pruned.length == 1 && pruned(0).getAs[Long]("n") == 2L)
  }

  test("profileDrift: null-rate delta, null-safe range drift") {
    val old = Seq((Some(1L), Some("x")), (Some(2L), Some("y")),
        (Some(3L), None), (Some(4L), Some("y"))).toDF("a", "b")
    val nw = Seq((Some(1L), Some("x")), (Some(9L), None),
        (Some(2L), None), (Some(3L), Some("z"))).toDF("a", "b")
    val d = Profile.profileDrift(old, nw, Seq("a", "b"))
      .orderBy("col_name").collect()
    val a = d(0); val b = d(1)
    // a: max 4 -> 9 drifted, null rate 0 -> 0
    assert(a.getAs[Boolean]("range_drifted"))
    assert(math.abs(a.getAs[Double]("null_rate_delta")) < 1e-12)
    // b: null rate 1/4 -> 2/4 (+0.25), max y -> z drifted
    assert(math.abs(b.getAs[Double]("null_rate_delta") - 0.25) < 1e-12)
    assert(b.getAs[Boolean]("range_drifted"))
    // identical snapshots: nothing drifts
    val same = Profile.profileDrift(old, old, Seq("a", "b")).collect()
    assert(same.forall(r => !r.getAs[Boolean]("range_drifted") &&
      math.abs(r.getAs[Double]("null_rate_delta")) < 1e-12))
  }

  test("anomaly composition: spike flagged, constant phase yields no alarm") {
    // phase 0 (period 10, phases 2): varied baseline + one spike (an
    // all-identical baseline would put MAD at 0 and NULL the gate —
    // that degenerate path is phase 1's constant 5s: rz NULL, no flag)
    val ev = Seq((1L, 0L, 10.0), (2L, 20L, 12.0), (3L, 40L, 14.0),
        (4L, 60L, 16.0), (5L, 80L, 18.0), (6L, 100L, 1000.0),
        (7L, 10L, 5.0), (8L, 30L, 5.0), (9L, 50L, 5.0))
      .toDF("event_id", "tsu", "value")
    val dec = WindowOps.seasonalDecompose(ev, "event_id", "tsu", "value",
      period = 10L, phases = 2)
    val out = WindowOps.robustZScore(dec, Seq("phase"), "residual", "rz")
      .withColumn("anomaly", coalesce(abs(col("rz")) > 3.5, lit(false)))
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[Boolean]("anomaly")).toMap
    assert(out(6L), "the planted spike must flag")
    assert((1L to 5L).forall(!out(_)), "baseline rows must not flag")
    assert((7L to 9L).forall(!out(_)), "MAD-0 phase must not flag")
  }

  test("rollingQuantile: trailing exact median, interpolation, null skip") {
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 90.0),
        (1L, 4L, 30.0)).toDF("k", "t", "v")
    val med = WindowOps.rollingQuantile(df, Seq("k"), Seq("t"), "v", 0.5, 3)
      .orderBy("t").collect().map(_.getDouble(3)).toSeq
    // windows: [10] -> 10; [10,20] -> 15 (interpolated); [10,20,90] ->
    // 20; [20,90,30] -> 30
    assert(med == Seq(10.0, 15.0, 20.0, 30.0))
    val withNull = Seq((1L, 1L, Some(4.0)), (1L, 2L, None),
        (1L, 3L, Some(8.0))).toDF("k", "t", "v")
    val m2 = WindowOps.rollingQuantile(withNull, Seq("k"), Seq("t"), "v",
        0.5, 3).orderBy("t").collect()
    assert(m2(1).getDouble(3) == 4.0, "null skipped, not poisoning")
    assert(m2(2).getDouble(3) == 6.0, "median of {4, 8} interpolates to 6")
  }

  test("mergeState under bucketed state tables runs without an exchange") {
    import graft.operators.{Bucketing, Incremental}
    // the SURVEY claim made checkable: snapshot and delta state tables
    // bucketed on the key merge through a SortMergeJoin with ZERO
    // hash-partitioning exchanges — a refresh never reshuffles history
    val snap = (1L to 50L).map(k => (k, k * 2)).toDF("k", "v")
    val delta = (26L to 75L).map(k => (k, k * 3)).toDF("k", "v")
    Bucketing.writeBucketed(
      Incremental.aggregateState(snap, Seq("k"), "v"), "incr_snap_b", "k", 8)
    Bucketing.writeBucketed(
      Incremental.aggregateState(delta, Seq("k"), "v"), "incr_delta_b", "k", 8)
    val merged = Incremental.mergeState(
      spark.table("incr_snap_b"),
      spark.table("incr_delta_b"), Seq("k"))
    merged.write.format("noop").mode("overwrite").save()
    val plan = merged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed state merge should not shuffle:\n$plan")
    // and the merge is still correct: overlap keys sum both sides
    val m = merged.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDecimal(2).longValue())).toMap
    assert(m(30L) == (2L, 30L * 2 + 30L * 3))
    assert(m(10L) == (1L, 20L) && m(70L) == (1L, 210L))
  }

  test("incremental distinct state: overlap never double-counts, merges chain") {
    import graft.operators.Incremental
    // halves OVERLAP on users 51..100 — the case where a naive
    // mergeable count-of-distincts would report 200, not 150
    val h1 = (1 to 100).map(u => ("a", u.toLong)).toDF("k", "u")
    val h2 = (51 to 150).map(u => ("a", u.toLong)).toDF("k", "u")
    val st = Incremental.mergeDistinctState(
      Incremental.aggregateDistinctState(h1, Seq("k"), "u"),
      Incremental.aggregateDistinctState(h2, Seq("k"), "u"), Seq("k"))
    val est = Incremental.distinctEstimate(st, Seq("k"))
      .collect()(0).getLong(1)
    assert(math.abs(est - 150L) <= 150 * 0.05 + 5, s"estimate $est vs 150")
    assert(est < 180, "overlap must not double-count toward 200")
    // a key present only in the delta appears; only in the snapshot stays
    val d2 = Seq(("b", 1L), ("b", 2L)).toDF("k", "u")
    val st2 = Incremental.mergeDistinctState(st,
      Incremental.aggregateDistinctState(d2, Seq("k"), "u"), Seq("k"))
    val m = Incremental.distinctEstimate(st2, Seq("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("b") == 2L, "small cardinalities are exact")
    assert(math.abs(m("a") - est) <= est * 0.01 + 1,
      "merging an unrelated key's delta must not disturb existing state")
  }

  test("kFold: deterministic residues; leakage-safe variant co-folds dupes") {
    val ids = (1L to 200L).map(Tuple1(_)).toDF("id")
    val f1 = Sampling.kFold(ids, "id", 5).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val f2 = Sampling.kFold(ids, "id", 5).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(f1 == f2, "assignment must be deterministic")
    assert(f1.values.toSet.subsetOf((0 until 5).toSet))
    // every fold populated at n=200 (multinomial — astronomically sure)
    assert(f1.values.toSet.size == 5)
    // leakage safety: exact copies land in the SAME fold
    val docs = Seq((1L, "alpha beta gamma"), (2L, "wholly different text"),
        (3L, "alpha beta gamma"), (4L, "third unrelated content"))
      .toDF("doc_id", "text")
    val pairs = Dedup.exactTextPairs(docs, "text", "doc_id")
    val folds = Sampling.leakageSafeKFold(docs.select("doc_id"), "doc_id",
        pairs, "id_l", "id_r", k = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(folds(1L) == folds(3L), "near-dup cluster must share a fold")
  }

  test("embeddingDrift: per-dim mean shift between snapshots") {
    val old = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(3.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val nw = Seq((3L, Seq(4.0f, 1.0f)), (4L, Seq(6.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val d = Similarity.embeddingDrift(old, nw, "embedding")
      .orderBy("pos").collect()
    // dim 1: mean 2 -> 5 (shift +3); dim 2: 0 -> 1 (shift +1)
    assert(d.length == 2)
    assert(math.abs(d(0).getAs[Double]("mean_shift") - 3.0) < 1e-6)
    assert(math.abs(d(1).getAs[Double]("mean_shift") - 1.0) < 1e-6)
    assert(d(0).getAs[Long]("old_n") == 2 && d(0).getAs[Long]("new_n") == 2)
  }

  test("crossSpans: verbatim span located, eval-side hub cap drops") {
    val train = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "nothing shared here at all zz yy xx ww vv uu tt"))
      .toDF("doc_id", "text")
    val ev = Seq((10L, "x c d e f g h i j k y")).toDF("eval_id", "text")
    val spans = Dedup.crossSpans(train, "doc_id", "text", ev, "eval_id",
        "text", minTokens = 8)
      .collect().map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id"),
        r.getAs[Long]("start_train"), r.getAs[Long]("start_eval"),
        r.getAs[Long]("len"))).toSeq
    // shared run "c d e f g h i j k" = 9 tokens at train pos 3, eval pos 2
    assert(spans == Seq((1L, 10L, 3L, 2L, 9L)))
    // an eval window repeated within the benchmark beyond the cap drops
    val hubEval = Seq((11L, "a b c d e f g h zz a b c d e f g h"))
      .toDF("eval_id", "text")
    val capped = Dedup.crossSpans(train, "doc_id", "text", hubEval,
      "eval_id", "text", minTokens = 8, maxEvalWindowFreq = 1)
    assert(capped.count() == 0, "the duplicated benchmark window must drop")
    val uncapped = Dedup.crossSpans(train, "doc_id", "text", hubEval,
      "eval_id", "text", minTokens = 8, maxEvalWindowFreq = 2)
    assert(uncapped.count() == 2, "both occurrences match when under cap")
  }

  test("luhn kernel + pii report: typed counts, validated candidates") {
    import graft.functions.LuhnCheck
    // known-valid card numbers (public test numbers), a 1-digit perturbation,
    // non-digits, too-short
    assert(LuhnCheck.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("4532015112830366")))
    assert(LuhnCheck.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("79927398713")))
    assert(!LuhnCheck.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("79927398710")))
    assert(!LuhnCheck.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("4532-0151")))
    assert(!LuhnCheck.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("5")))
    val docs = Seq(
      (1L, "mail me at a.b@example.com or c@d.org, server 10.0.0.1"),
      (2L, "card 4532015112830366 expires soon; fake 1234567890123 here"),
      (3L, "call +14155552671 or 415-555-2671; bad ip 999.1.2.3"),
      (4L, "nothing here")).toDF("doc_id", "text")
    val rep = TextAnalysis.piiReport(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Int]("n_email"), r.getAs[Int]("n_ipv4"),
        r.getAs[Int]("n_phone"), r.getAs[Int]("n_card"))).toSeq
    // doc 3: "999.1.2.3" — \b fencing refuses to carve "99.1.2.3" out of
    // the run; "+14155552671" is ALSO an 11-digit run but 11 < 13 so it
    // is not a card candidate
    assert(rep == Seq((2, 1, 0, 0), (0, 0, 0, 1), (0, 0, 2, 0), (0, 0, 0, 0)))
    // SQL surface
    LuhnCheck.register(spark)
    assert(spark.sql("SELECT graft_luhn('79927398713') AS ok")
      .first().getBoolean(0))
  }

  test("referentialIntegrity: orphans, NULL FKs, and a clean edge") {
    import spark.implicits._
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    val fact = Seq(Some(1L), Some(1L), Some(9L), Some(9L), Some(8L), None)
      .toDF("fk")
    val r = Validate.referentialIntegrity(fact, "fk", dim, "pk").first()
    assert(r.getAs[Long]("n_rows") == 6L)
    assert(r.getAs[Long]("n_null_fk") == 1L)      // NULL is not an orphan
    assert(r.getAs[Long]("n_orphan_rows") == 3L)  // 9, 9, 8
    assert(r.getAs[Long]("n_orphan_keys") == 2L)  // {9, 8}
    assert(!r.getAs[Boolean]("holds"))
    val clean = Validate.referentialIntegrity(
      Seq(1L, 2L).toDF("fk"), "fk", dim, "pk").first()
    assert(clean.getAs[Boolean]("holds") &&
      clean.getAs[Long]("n_orphan_rows") == 0L)
  }

  test("woeTable: hand-computed WOE/IV with cell smoothing") {
    import spark.implicits._
    // cat a: 3 pos, 1 neg; cat b: 0 pos, 2 neg (zero cell -> smoothing
    // keeps it finite); one NULL-label row is excluded entirely
    val df = Seq(("a", Some(true)), ("a", Some(true)), ("a", Some(true)),
      ("a", Some(false)), ("b", Some(false)), ("b", Some(false)),
      ("b", None)).toDF("cat", "label")
    val got = FeatureEng.woeTable(df, "cat", "label")
      .orderBy("cat").collect()
      .map(r => (r.getAs[String]("cat"), r.getAs[Long]("n"),
        r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
        r.getAs[Double]("woe"), r.getAs[Double]("iv")))
    val (tp, tn) = (3.0, 3.0)
    def woe(p: Long, n: Long) = math.log(((p + 0.5) / tp) / ((n + 0.5) / tn))
    def iv(p: Long, n: Long) = ((p + 0.5) / tp - (n + 0.5) / tn) * woe(p, n)
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq ==
      Seq(("a", 4L, 3L, 1L), ("b", 2L, 0L, 2L)))
    assert(math.abs(got(0)._5 - woe(3, 1)) < 1e-12)
    assert(math.abs(got(1)._5 - woe(0, 2)) < 1e-12)
    assert(math.abs(got(0)._6 - iv(3, 1)) < 1e-12)
    assert(got(1)._5 < 0 && got(1)._6 > 0) // negative evidence, positive IV
  }

  test("targetEncode: LOO arithmetic, singleton -> prior, NULL label") {
    import spark.implicits._
    val df = Seq((1L, "a", Some(true)), (2L, "a", Some(true)),
      (3L, "a", Some(false)), (4L, "b", Some(true)),
      (5L, "a", None)).toDF("id", "cat", "label")
    val m = 2.0
    val prior = 3.0 / 4.0 // 3 of 4 labeled rows true
    val got = FeatureEng.targetEncode(df, "cat", "label", m)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("te"))).toMap
    // cat a: sy = 2, ny = 3
    assert(math.abs(got(1L) - (2.0 - 1 + prior * m) / (3 - 1 + m)) < 1e-12)
    assert(math.abs(got(3L) - (2.0 - 0 + prior * m) / (3 - 1 + m)) < 1e-12)
    // singleton cat b: LOO leaves nothing -> pure prior
    assert(math.abs(got(4L) - prior) < 1e-12)
    // NULL label: nothing subtracted, full-category mean shrunk
    assert(math.abs(got(5L) - (2.0 + prior * m) / (3 + m)) < 1e-12)
    assertThrows[IllegalArgumentException](
      FeatureEng.targetEncode(df, "cat", "label", 0.0))
  }

  test("quantileNormalize: identity on a single group; shifted group maps onto pooled") {
    import spark.implicits._
    // one group: group CDF == pooled CDF at every bin → each row maps
    // to its OWN bin midpoint (identity up to binning)
    val one = Seq.tabulate(20)(i => (i.toLong, "a", i.toDouble))
      .toDF("id", "g", "v")
    val idGot = FeatureEng.quantileNormalize(one, "id", "g", "v",
      lo = 0.0, hi = 20.0, bins = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    (0L until 20L).foreach { i =>
      assert(idGot(i) == (i / 2) * 2.0 + 1.0, s"id $i") // own midpoint
    }
    // two groups, b shifted +10 vs a over [0,20), 2-wide bins: a's
    // rank-p value must map to the pooled bin holding pooled rank p
    val a = Seq.tabulate(10)(i => (i.toLong, "a", i.toDouble))
    val b = Seq.tabulate(10)(i => (100L + i, "b", 10.0 + i))
    val got = FeatureEng.quantileNormalize((a ++ b).toDF("id", "g", "v"),
      "id", "g", "v", lo = 0.0, hi = 20.0, bins = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // a's first bin {0,1}: group CDF 2/10; pooled CDF reaches 2/20 at
    // bin 0, 4/20 at bin 1 → first pooled bin with cum·n ≥ cum_g·N is
    // bin 1 (4·10 ≥ 2·20) → midpoint 3.0
    assert(got(0L) == 3.0 && got(1L) == 3.0)
    // a's last bin {8,9}: group CDF 1 → pooled bin where cum=20: bin 9
    assert(got(8L) == 19.0 && got(9L) == 19.0)
    // b's first bin {10,11} (group CDF 2/10) maps to the same pooled
    // position as a's first → the groups now share a scale
    assert(got(100L) == got(0L) && got(101L) == got(1L))
    // monotone within each group
    val aVals = (0 until 10).map(i => got(i.toLong))
    assert(aVals == aVals.sorted)
  }

  test("wilsonRates: textbook interval and [0,1] clamping at extremes") {
    import spark.implicits._
    val df = (1 to 10).map(i => ("g", i <= 5)) ++ (1 to 3).map(_ => ("h", true))
    val got = Profile.wilsonRates(df.toDF("g", "s"), Seq("g"), "s")
      .orderBy("g").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("n"),
        r.getAs[Double]("rate"), r.getAs[Double]("wilson_lo"),
        r.getAs[Double]("wilson_hi")))
    // n=10, s=5: the standard worked example ~ [0.2366, 0.7634]
    assert(got(0)._2 == 10L && got(0)._3 == 0.5)
    assert(math.abs(got(0)._4 - 0.236584) < 1e-4)
    assert(math.abs(got(0)._5 - 0.763416) < 1e-4)
    // n=3, s=3: rate 1.0 but the interval stays inside [0, 1] with a
    // meaningfully pessimistic lower bound — the small-n point of Wilson
    assert(got(1)._3 == 1.0 && got(1)._5 <= 1.0 + 1e-12 && got(1)._4 < 0.9)
  }

  test("Privacy: k-anonymity report flags and suppression boundary") {
    import spark.implicits._
    // classes: (a,1) n=3 users{10,11} | (a,2) n=1 | (b,1) n=2 users{10}
    // | (NULL,1) n=2 — NULLs form their OWN class (SQL GROUP BY)
    val rows = Seq(
      (1L, Some("a"), 1L, 10L), (2L, Some("a"), 1L, 11L),
      (3L, Some("a"), 1L, 10L),
      (4L, Some("a"), 2L, 12L),
      (5L, Some("b"), 1L, 10L), (6L, Some("b"), 1L, 10L),
      (7L, None, 1L, 13L), (8L, None, 1L, 14L))
      .toDF("id", "qa", "qb", "uid")
    val rep = Privacy.kAnonymityReport(rows, Seq("qa", "qb"),
        Some("uid"), k = 2, l = 2)
      .collect().map(r => ((Option(r.getAs[String]("qa")), r.getAs[Long]("qb")),
        (r.getAs[Long]("n"), r.getAs[Long]("n_sensitive"),
          r.getAs[Boolean]("k_anonymous"), r.getAs[Boolean]("l_diverse"))))
      .toMap
    assert(rep((Some("a"), 1L)) == ((3L, 2L, true, true)))
    assert(rep((Some("a"), 2L)) == ((1L, 1L, false, false)))
    // k-anonymous but NOT l-diverse: 2 rows, one distinct user
    assert(rep((Some("b"), 1L)) == ((2L, 1L, true, false)))
    assert(rep((None, 1L)) == ((2L, 2L, true, true)))
    // no sensitive column: n_sensitive 0, l vacuously true
    assert(Privacy.kAnonymityReport(rows, Seq("qa"), None, k = 4)
      .collect().forall(r => r.getAs[Long]("n_sensitive") == 0L &&
        r.getAs[Boolean]("l_diverse")))
    // suppression: k = 2 drops ONLY the singleton class (boundary n ==
    // k survives); k = 3 keeps just (a,1)
    assert(Privacy.suppressBelowK(rows, Seq("qa", "qb"), 2)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 5L, 6L, 7L, 8L))
    assert(Privacy.suppressBelowK(rows, Seq("qa", "qb"), 3)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("epochExpand: floor copies + md5-threshold extra, epoch indexing, drops") {
    import spark.implicits._
    val rows = (1L to 40L).map(i =>
      (i, if (i <= 20) "a" else if (i <= 30) "b" else "x")).toDF("id", "k")
    val got = Sampling.epochExpand(rows, "k", "id",
        Seq("a" -> 1.5, "b" -> 0.5))
      .as[(Long, String, Long)].collect().toSeq.sorted
    // driver-side replay: same fold, same integer threshold
    def copies(id: Long, k: String, e: Double): Long = {
      val full = math.floor(e).toLong
      val thresh = ((e - full) * 281474976710656.0).toLong
      full + (if (TestReplay.md5Long48(s"$id|epoch|$k") < thresh) 1L else 0L)
    }
    val want = (1L to 30L).flatMap { i =>
      val k = if (i <= 20) "a" else "b"
      val e = if (k == "a") 1.5 else 0.5
      (0L until copies(i, k, e)).map(ep => (i, k, ep))
    }.sorted
    assert(got == want)
    // unlisted key x dropped entirely; every 'a' row appears 1 or 2
    // times (floor 1 + Bernoulli), 'b' rows 0 or 1 times
    assert(!got.exists(_._2 == "x"))
    val aCounts = got.filter(_._2 == "a").groupBy(_._1).map(_._2.size).toSet
    assert(aCounts.subsetOf(Set(1, 2)) && aCounts.contains(2))
    val bIds = got.filter(_._2 == "b").map(_._1).distinct
    assert(bIds.nonEmpty && bIds.size < 10) // ~half of the 10 b rows
    // epoch indices are dense 0..copies-1 per row
    got.groupBy(r => (r._1, r._2)).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted == (0L until rs.size).toSeq) }
  }

  test("dpGroupRelease: driver-side Laplace replay, clipping, determinism") {
    import spark.implicits._
    val rows = Seq(Some("a") -> 100.0, Some("a") -> 700.0,
      Some("a") -> -50.0, Some("b") -> 10.0, Some("b") -> 20.0,
      None -> 5.0).toDF("g", "v")
    // driver-side replay of the exact noise pipeline (shared spec twin)
    def lap(key: String, b: Double): Double = TestReplay.laplace(key, b)
    val got = Privacy.dpGroupRelease(rows, Seq("g"), "v",
        lo = 0.0, hi = 500.0, epsCount = 1.0, epsSum = 0.5, seed = "s1")
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    // NULL key class draws via the cross-engine sentinel
    assert(math.abs(got(None)._1 - (1.0 + lap("s1|n|<NULL>", 1.0))) < 1e-9)
    assert(math.abs(got(None)._2 - (5.0 + lap("s1|s|<NULL>", 1000.0))) < 1e-9)
    // group a: n=3; clipped sum = 100 + 500 + 0 = 600 (clip BEFORE sum)
    assert(math.abs(got(Some("a"))._1 - (3.0 + lap("s1|n|a", 1.0))) < 1e-9)
    assert(math.abs(got(Some("a"))._2 - (600.0 + lap("s1|s|a", 1000.0))) < 1e-9)
    // group b: n=2, sum=30
    assert(math.abs(got(Some("b"))._1 - (2.0 + lap("s1|n|b", 1.0))) < 1e-9)
    assert(math.abs(got(Some("b"))._2 - (30.0 + lap("s1|s|b", 1000.0))) < 1e-9)
    // determinism: repartitioned input releases the identical bytes
    val again = Privacy.dpGroupRelease(rows.repartition(7), Seq("g"), "v",
        lo = 0.0, hi = 500.0, epsCount = 1.0, epsSum = 0.5, seed = "s1")
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(again == got)
    // a different seed is a DIFFERENT release (new draw)
    val reseeded = Privacy.dpGroupRelease(rows, Seq("g"), "v",
        lo = 0.0, hi = 500.0, epsCount = 1.0, epsSum = 0.5, seed = "s2")
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(reseeded(Some("a")) != got(Some("a"))._1)
  }

  test("neymanSample: variance-proportional allocation by hand") {
    // stratum a: values {0, 2} -> sigma = 1, w = 2e6;
    // stratum b: {5, 5, 5} -> sigma = 0, w = 0 (zero-variance drop)
    val df = Seq(("a", 1L, 0.0), ("a", 2L, 2.0),
      ("b", 3L, 5.0), ("b", 4L, 5.0), ("b", 5L, 5.0))
      .toDF("st", "id", "v")
    val r = Sampling.neymanSample(df, "st", "v", "id", budget = 2L)
      .collect().map(x => x.getLong(1) ->
        (x.getString(0), x.getLong(3), x.getDouble(4), x.getLong(5)))
      .toMap
    assert(r.keySet == Set(1L, 2L))          // both a-rows, no b-rows
    assert(r(1L)._2 == 2 && r(1L)._3 == 1.0 && r(1L)._4 == 2L)
  }

  test("neymanSample: allocation caps at the budget split; md5 order stable") {
    val df = Seq.tabulate(20)(i =>
      ("s" + (i % 2), i.toLong, (i * 7 % 5).toDouble)).toDF("st", "id", "v")
    val out = Sampling.neymanSample(df, "st", "v", "id", budget = 6L)
    assert(out.count() <= 6)
    val again = Sampling.neymanSample(df.repartition(7), "st", "v", "id",
      budget = 6L)
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }
}
