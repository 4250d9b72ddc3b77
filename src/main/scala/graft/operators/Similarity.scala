package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (array<float>).
  *
  * The scalar kernels (dot / norm / cosine) are higher-order array
  * expressions — codegen'd, no UDFs. Two search paths:
  *
  *  - [[bruteForceTopK]]: exact. Queries are broadcast (they are top-k
  *    *queries*, small by construction); the corpus streams map-side, a
  *    per-query top-k window finishes. Corpus-side cost O(n·q·d) flops but
  *    zero corpus shuffle beyond the final per-query k rows.
  *  - [[annTopK]]: approximate. Random-hyperplane LSH buckets both sides;
  *    only same-bucket candidates are scored. The bucket join is an
  *    equi-join → hash-partitioned, scales with executors. Recall is
  *    tunable by `planes` (fewer planes → bigger buckets → higher recall).
  */
object Similarity {

  /** Native codegen'd kernel (see [[graft.functions.DotProduct]]);
    * bit-identical to the HOF fold it replaced. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct(a, b)

  /** Interpreted HOF form, kept for differential testing. */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** sqrt of the native self-dot — same sequential square accumulation as
    * the HOF transform+fold it replaced, so bit-identical. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Composition-of-built-ins cosine (interpreted lambdas) — kept for
    * differential testing against the native expression. */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0.0, 0.0).otherwise(d / nn)
  }

  /** Cosine similarity — native codegen'd Catalyst expression
    * ([[graft.functions.CosineSimilarity]]); bit-identical to
    * [[cosineHof]], one fused pass. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Per-group element-wise centroid of an embedding column, computed as
    * posexplode → groupBy (group, position) → mean over 1e-9-quantized
    * values (floor(v·1e9) accumulated as exact longs). The quantization
    * makes the result bit-reproducible regardless of aggregation order or
    * engine (float→decimal casts round differently across engines) at a
    * precision far below float input noise. Output: (groupCols..., pos
    * 1-based, mean). Shuffle carries one row per (group, dim). */
  def centroids(df: DataFrame, groupCols: Seq[String], vecCol: String): DataFrame = {
    val ex = df.select(groupCols.map(col) :+ posexplode(col(vecCol)).as(Seq("__pos", "__v")): _*)
    val scaled = floor(col("__v").cast("double") * 1e9).cast("long")
    ex.groupBy(groupCols.map(col) :+ (col("__pos") + 1).as("pos"): _*)
      .agg((org.apache.spark.sql.functions.sum(scaled).cast("double") /
        (count(lit(1)) * lit(1e9))).as("mean"))
  }

  /** Deterministic random hyperplanes (dim doubles each) from a seed. */
  private[operators] def planesFor(planes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH bucket id: integer whose bit j = sign(dot(v, r_j)). */
  def lshBucket(v: Column, planes: Int, dim: Int, seed: Long): Column =
    planesFor(planes, dim, seed).zipWithIndex.map { case (p, j) =>
      when(dot(v, typedlit(p)) >= 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Random-projection dimensionality reduction: `outDim` deterministic
    * Gaussian planes (seeded) → out(i) = dot(v, p_i), the Johnson-
    * Lindenstrauss cheap pre-step before ANN when the source dim is large.
    * Pure per-row expressions, zero shuffle; the planes inline into the
    * DuckDB oracle as literals, and the sequential double accumulation is
    * bit-identical across engines. */
  def randomProjection(v: Column, outDim: Int, dim: Int, seed: Long): Seq[Column] =
    planesFor(outDim, dim, seed).map(p => dot(v, typedlit(p)))

  def randomProjectionOracleSqlExprs(vecRef: String, outDim: Int, dim: Int,
                                     seed: Long): Seq[String] =
    planesFor(outDim, dim, seed).map { p =>
      val lits = p.map(_.toString).mkString("[", ", ", "]")
      s"list_sum(list_transform(list_zip($vecRef, $lits), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    }

  /** Symmetric int8 quantization scale: max |x| over the vector. */
  def quantScale(v: Column): Column =
    array_max(transform(v, x => abs(x.cast("double"))))

  /** Symmetric int8 quantization: q_j = clamp(floor(x_j·127/scale)).
    * floor, not round — floor is engine-exact, while half-up rounding of
    * a double quotient is not portable bit-for-bit. Zero vectors (scale
    * 0) quantize to zeros. The scale rides in via zip_with/array_repeat
    * so it is computed ONCE per row — a subexpression inside a HOF
    * lambda is re-evaluated per ELEMENT, which made the original
    * transform form O(d²) interpreted work per vector. */
  def quantizeInt8(v: Column): Column =
    zip_with(v, array_repeat(quantScale(v), size(v)), (x, s) =>
      when(s === 0.0, lit(0)).otherwise(
        greatest(lit(-127.0), least(lit(127.0),
          floor(x.cast("double") * 127.0 / s))).cast("int")))

  /** [[lshBucket]] rendered as DuckDB SQL: the hyperplanes are
    * deterministic from (planes, dim, seed), so they inline as double
    * literals and an external engine reproduces the exact bucket ids —
    * double dot products are bit-identical (same literals, same
    * sequential accumulation), so the sign tests agree. */
  def lshBucketOracleSqlExpr(vecRef: String, planes: Int, dim: Int, seed: Long): String =
    planesFor(planes, dim, seed).zipWithIndex.map { case (p, j) =>
      val lits = p.map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(list_zip($vecRef, $lits), " +
        s"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) >= 0.0 " +
        s"THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Per-query top-k finisher over a scored relation keyed by __qid —
    * the one group → [[graft.functions.TopKByScore]] → posexplode →
    * rank tail of every top-k path (cosine, ADC, BM25). `score` ranks
    * descending (ties by `id` ascending); `scoreOut` maps the kept
    * `__e.score` back to the output column. Map-side partial
    * aggregation truncates each partition's state to k pairs BEFORE
    * the shuffle, so the exchange carries ≤ k·partitions rows per
    * query — the previous `row_number() OVER (PARTITION BY __qid)` form
    * shuffled the entire n·q scored relation into q reducer partitions,
    * a handful of hot reducers at corpus scale. Output: (query_id,
    * rank, `idOut`, `scoreOut`). */
  private[operators] def finishTopK(scored: DataFrame, k: Int,
      score: Column = col("__sim"), id: String = "__cid",
      idOut: String = "neighbor_id",
      scoreOut: Column = col("__e.score").as("cosine")): DataFrame =
    scored.groupBy("__qid")
      .agg(graft.functions.TopKByScore(score, col(id).cast("long"), k).as("__top"))
      .select(col("__qid"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("__qid").as("query_id"), (col("__pos") + 1).as("rank"),
        col("__e.id").as(idOut), scoreOut)

  /** Exact cosine top-k: for each row of `queries`, the k nearest corpus
    * rows. Output: (queryId, rank, neighborId, cosine). */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int, excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv"))
    val q = queries.select(col(qidCol).as("__qid"), col(qvecCol).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .where(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid"), col("__cid"), cosine(col("__cv"), col("__qv")).as("__sim"))
    finishTopK(scored, k)
  }

  /** Semantic (embedding-space) decontamination — the paraphrase-robust
    * companion to [[graft.operators.Dedup.decontaminationReport]]'s
    * exact n-gram check: a training row whose embedding reaches
    * `threshold` cosine of ANY benchmark embedding is flagged,
    * catching reworded/translated benchmark leakage lexical checks
    * miss — the SemDeDup geometry pointed across the train/eval
    * boundary.
    *
    * Shape: the benchmark is eval-set-sized → it BROADCASTS; the
    * train corpus streams map-side through one codegen'd cosine +
    * threshold filter — ZERO shuffles, output bounded by the
    * contamination mass (the q_decontaminate posture with embeddings
    * instead of shingles). The threshold applies to the UNROUNDED
    * cosine in both engines. At corpus×corpus scale, run the probe
    * over [[ivfTopKIndexed]] candidates instead — the thresholding is
    * candidate-set-local either way.
    *
    * @return (train_id, eval_id, cosine), one row per flagged pair. */
  def semanticDecontaminate(train: DataFrame, idCol: String,
                            vecCol: String, evalDf: DataFrame,
                            evalIdCol: String, evalVecCol: String,
                            threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val c = train.select(col(idCol).as("train_id"), col(vecCol).as("__cv"))
    val q = evalDf.select(col(evalIdCol).as("eval_id"),
      col(evalVecCol).as("__qv"))
    c.crossJoin(broadcast(q))
      .select(col("train_id"), col("eval_id"),
        cosine(col("__cv"), col("__qv")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * `k` corpus vectors MOST similar to it among rows whose `labelCol`
    * differs from the anchor's — the negatives nearest the decision
    * boundary, the ones a contrastive loss learns most from (random
    * negatives are trivially separable; see [[DetRandom.negativeSample]]
    * for that cheap complement — real batches mix the two).
    *
    * Same scale shape as [[bruteForceTopK]]: anchors broadcast (a
    * training batch, small by construction), the corpus streams map-side
    * with the label-mismatch predicate applied BEFORE any scoring, and
    * the bounded-heap partial top-k ([[graft.functions.TopKByScore]])
    * truncates every partition's state to k before the single per-anchor
    * shuffle — corpus-side cost O(n·a·d) flops, corpus shuffle ≤
    * k·partitions rows per anchor. Output: (anchor_id, rank, neg_id,
    * cosine), rank 1 = hardest, ties broken by id ascending. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String,
                    anchors: DataFrame, aidCol: String, avecCol: String,
                    alabelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv"),
      col(labelCol).as("__clab"))
    val a = anchors.select(col(aidCol).as("__qid"), col(avecCol).as("__qv"),
      col(alabelCol).as("__qlab"))
    val scored = c.crossJoin(broadcast(a))
      .where(col("__clab") =!= col("__qlab"))
      .select(col("__qid"), col("__cid"), cosine(col("__cv"), col("__qv")).as("__sim"))
    finishTopK(scored, k)
      .select(col("query_id").as("anchor_id"), col("rank"),
        col("neighbor_id").as("neg_id"), col("cosine"))
  }

  /** Margin-based pair mining between two embedding corpora — the
    * ratio-margin criterion behind web-scale bitext mining (Artetxe &
    * Schwenk 2019, "Margin-based Parallel Corpus Mining with
    * Multilingual Sentence Embeddings"; the CCMatrix recipe): a raw
    * cosine threshold can't separate true pairs from hubs (vectors
    * close to EVERYTHING), so each candidate cosine is normalized by
    * the average of both endpoints' k-NN cosines —
    *   margin(x, y) = cos(x, y) / ((avgₖ(x→B) + avgₖ(y→A)) / 2)
    * — and each x keeps only its best-margin y at/above `threshold`.
    *
    * Shape: `a` is the QUERY BATCH (broadcastable — a retrieval or
    * mining batch); `b` is the corpus and only ever STREAMS. Both
    * exact top-k passes broadcast A and stream B map-side — the
    * forward pass is [[bruteForceTopK]]; the backward pass (each b's
    * k-NN within A) groups the same broadcast-stream by the b id, so
    * the corpus is never broadcast and the per-pass exchange carries
    * ≤ k rows per endpoint (bounded-heap partial top-k). Candidate
    * joins are id-keyed over ≤ k rows per a — never |A|×|B|
    * materialized. At 100 TB corpus×corpus scale the same margin
    * arithmetic runs over [[annTopK]]/[[ivfTopK]] candidate lists
    * batch-by-batch — the rescoring is candidate-set-local either way.
    * Determinism: per-endpoint k-NN cosines nano-quantize (floor·1e9)
    * before the k-average so the denominator is an exact integer sum
    * in any fold order; ties on margin break by smaller candidate id.
    * Output: (a_id, b_id, cosine, margin), one row per a with a
    * qualifying pair. */
  def marginPairs(a: DataFrame, b: DataFrame, idCol: String, vecCol: String,
                  k: Int, threshold: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val fwd = bruteForceTopK(b, idCol, vecCol, a, idCol, vecCol, k,
        excludeSelf = false)
      .select(col("query_id").as("a_id"), col("neighbor_id").as("b_id"),
        col("cosine"))
    // backward k-NN (each b within A) with B STREAMING: same broadcast
    // side as the forward pass — bruteForceTopK(corpus = a, queries = b)
    // would broadcast the corpus-sized B
    val bwdScored = b.select(col(idCol).as("__qid"), col(vecCol).as("__qv"))
      .crossJoin(broadcast(a.select(col(idCol).as("__cid"),
        col(vecCol).as("__cv"))))
      .select(col("__qid"), col("__cid"),
        cosine(col("__cv"), col("__qv")).as("__sim"))
    val bwd = finishTopK(bwdScored, k)
    def avgQ(top: DataFrame, outId: String, outAvg: String): DataFrame =
      top.groupBy(col("query_id").as(outId))
        .agg((sum(floor(col("cosine") * 1e9).cast("long")).cast("double") /
          (count(lit(1)) * 1e9)).as(outAvg))
    val avgA = avgQ(fwd.select(col("a_id").as("query_id"), col("cosine")),
      "a_id", "__avg_a")
    val avgB = avgQ(bwd, "b_id", "__avg_b")
    val scored = fwd.join(avgA, Seq("a_id")).join(avgB, Seq("b_id"))
      .withColumn("margin",
        col("cosine") / ((col("__avg_a") + col("__avg_b")) / 2))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("a_id"))
      .orderBy(col("margin").desc, col("b_id"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && col("margin") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"), col("margin"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion: a dense ranking
    * (exact cosine over the embedding column) and a sparse ranking
    * (Jaccard over distinct lowercase tokens of the text column) are
    * each truncated to `perSide` candidates per query, then fused by
    * rrf = Σ_side 1/(fuseK + rank_side) (Cormack et al., SIGIR'09 —
    * rank-only fusion needs no score calibration between the two
    * spaces, which is why it is the standard hybrid-search combiner).
    *
    * Scale shape: both sides are the broadcast-queries × corpus stream
    * with map-side partial top-k ([[graft.functions.TopKByScore]] — the
    * exchange carries ≤ perSide·partitions rows per query per side);
    * the fusion full-outer join then touches ≤ 2·perSide rows per query
    * — candidate-set-sized, independent of the corpus. Deterministic:
    * both ranks break ties (score desc, id asc), and rrf ties break by
    * neighbor id. Output: (query_id, rank, neighbor_id, rrf). */
  def hybridTopK(corpus: DataFrame, idCol: String, vecCol: String,
                 textCol: String,
                 queries: DataFrame, qidCol: String, qvecCol: String,
                 qtextCol: String,
                 k: Int, fuseK: Int = 60, perSide: Int = 50,
                 excludeSelf: Boolean = true): DataFrame = {
    val dense = bruteForceTopK(corpus, idCol, vecCol,
      queries, qidCol, qvecCol, perSide, excludeSelf)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("__dr"))
    val c = corpus.select(col(idCol).as("__cid"),
      array_distinct(TextAnalysis.tokens(lower(col(textCol)))).as("__ct"))
    val q = queries.select(col(qidCol).as("__qid"),
      array_distinct(TextAnalysis.tokens(lower(col(qtextCol)))).as("__qt"))
    val inter = size(array_intersect(col("__ct"), col("__qt")))
    val union = size(col("__ct")) + size(col("__qt")) - inter
    val scoredSparse = c.crossJoin(broadcast(q))
      .where(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid"), col("__cid"),
        when(union === 0, lit(0.0))
          .otherwise(inter.cast("double") / union.cast("double")).as("__sim"))
    val sparse = finishTopK(scoredSparse, perSide)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("__sr"))
    rrfFuse(dense, sparse, k, fuseK)
  }

  /** Reciprocal-rank fusion of two (query_id, neighbor_id, rank)
    * candidate lists: rrf = Σ_side 1/(fuseK + rank_side), top-k per
    * query. The join touches only candidate rows — corpus-independent. */
  private def rrfFuse(dense: DataFrame, sparse: DataFrame,
                      k: Int, fuseK: Int): DataFrame = {
    val fused = dense.join(sparse, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id").as("__qid"), col("neighbor_id").as("__cid"),
        (coalesce(lit(1.0) / (lit(fuseK) + col("__dr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(fuseK) + col("__sr")), lit(0.0))).as("__sim"))
    finishTopK(fused, k).withColumnRenamed("cosine", "rrf")
  }

  /** [[hybridTopK]] with BM25 as the sparse ranker instead of token
    * Jaccard — the standard dense + BM25 RRF hybrid. The sparse side is
    * [[TextAnalysis.bm25]]'s postings join (only term-sharing docs are
    * scored; order-exact quantized sums), so unlike the Jaccard variant
    * its candidate generation never streams the full corpus per query
    * either. Output: (query_id, rank, neighbor_id, rrf). */
  def hybridTopKBm25(corpus: DataFrame, idCol: String, vecCol: String,
                     textCol: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     qtextCol: String,
                     k: Int, fuseK: Int = 60, perSide: Int = 50,
                     k1: Double = 1.2, b: Double = 0.75,
                     excludeSelf: Boolean = true): DataFrame = {
    val dense = bruteForceTopK(corpus, idCol, vecCol,
      queries, qidCol, qvecCol, perSide, excludeSelf)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("__dr"))
    val sparse = TextAnalysis.bm25(corpus, idCol, textCol,
      queries, qidCol, qtextCol, k1, b, perSide, excludeSelf)
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        col("rank").as("__sr"))
    rrfFuse(dense, sparse, k, fuseK)
  }

  /** k-means assignment step: nearest centroid (by cosine) per vector.
    * Centroids broadcast (k is small by definition), the corpus streams
    * map-side through a broadcast nested-loop join, and the per-vector
    * argmax folds in a partial aggregation before the one n-row shuffle —
    * the Lloyd's-iteration building block at 100 TB ([[centroids]] is the
    * matching update step). Output: (vec_id, centroid_id, cosine). */
  def assignCentroids(vectors: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, cidCol: String,
                      cvecCol: String): DataFrame = {
    val v = vectors.select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
    val c = centroids.select(col(cidCol).as("__cid"), col(cvecCol).as("__cv"))
    v.crossJoin(broadcast(c))
      .select(col("vec_id"), col("__cid"),
        cosine(col("__v"), col("__cv")).as("__cos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("__cid"), col("__cos")).as("centroid_id"),
        max(col("__cos")).as("cosine"))
  }

  /** One full Lloyd's k-means iteration: assign every vector to its
    * nearest centroid (cosine), then recompute per-cluster quantized-exact
    * means ([[centroids]]). The vector rides THROUGH the argmax
    * aggregation (all k scored copies of a row are co-partitioned, so
    * map-side partials collapse them before the one n-row shuffle) — no
    * assignment-back join, two shuffles total regardless of corpus size.
    * Output: (centroid_id, pos, mean) — feed back as the next iteration's
    * centroid table after a collect-free pivot or as-is to a driver loop. */
  def kmeansIterate(vectors: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame, cidCol: String,
                    cvecCol: String): DataFrame = {
    val v = vectors.select(col(idCol).as("vec_id"), col(vecCol).as("__vec"))
    val c = cents.select(col(cidCol).as("__cid"), col(cvecCol).as("__cv"))
    val assigned = v.crossJoin(broadcast(c))
      .select(col("vec_id"), col("__vec"), col("__cid"),
        cosine(col("__vec"), col("__cv")).as("__cos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("__cid"), col("__cos")).as("centroid_id"),
        first(col("__vec")).as("__vec"))
    centroids(assigned, Seq("centroid_id"), "__vec")
  }

  /** Approximate top-k via LSH bucketing with MULTI-PROBE: the query side
    * also probes every bucket within hamming distance `probeBits` of its
    * own bucket (near misses land in sign-adjacent buckets, so probing
    * them recovers most of the recall a single probe loses — the standard
    * fix for the single-probe recall cliff on sparse buckets). Probe count
    * is Σ_{i≤probeBits} C(planes, i); the corpus keeps ONE bucket per row,
    * so a (query, corpus) pair can match at most once — no dedup needed.
    * Recall/cost dials: `planes` (bucket granularity) and `probeBits`. */
  def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, planes: Int = 4, dim: Int = 64,
              seed: Long = 42L, probeBits: Int = 0): DataFrame = {
    require(probeBits >= 0 && probeBits <= planes)
    val c = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv"),
      lshBucket(col(vecCol), planes, dim, seed).as("__bucket"))
    val qb = lshBucket(col(qvecCol), planes, dim, seed)
    val masks: Seq[Long] = (0 to probeBits).flatMap(i =>
      (0 until planes).combinations(i).map(
        _.foldLeft(0L)((m, j) => m | (1L << j))))
    val q = queries.select(col(qidCol).as("__qid"), col(qvecCol).as("__qv"),
      explode(array(masks.map(m => qb.bitwiseXOR(lit(m))): _*)).as("__bucket"))
    val scored = c.join(q, Seq("__bucket"))
      .where(col("__cid") =!= col("__qid"))
      .select(col("__qid"), col("__cid"), cosine(col("__cv"), col("__qv")).as("__sim"))
    finishTopK(scored, k)
  }

  /** Assign each row the `n` nearest of `centroids` by cosine, via the
    * bounded partial top-k aggregate (broadcast centroids, one argmax
    * pass, no window funnel). `payload` columns ride through the argmax
    * (first() — functionally dependent on the id, like the vector).
    * Output: (idCol, vecCol, payload…, __cluster). */
  private def assignClusters(df: DataFrame, idCol: String, vecCol: String,
                             centroids: DataFrame, n: Int,
                             payload: Seq[String] = Nil): DataFrame = {
    val base = Seq(col(idCol), col(vecCol)) ++ payload.map(col)
    df.select(base: _*)
      .crossJoin(broadcast(centroids))
      .select(base ++ Seq(col("__cent_id"),
        cosine(col(vecCol), col("__cent_v")).as("__sim")): _*)
      .groupBy(col(idCol))
      .agg(
        first(col(vecCol)).as(vecCol), // functionally dependent on idCol
        payload.map(p => first(col(p)).as(p)) :+
          graft.functions.TopKByScore(col("__sim"), col("__cent_id"), n).as("__cl"): _*)
      .select(base :+ explode(col("__cl.id")).as("__cluster"): _*)
  }

  /** IVF-Flat approximate top-k — the scale path when the query set is
    * large or repeated. `nlist` deterministic seed vectors (lowest
    * md5(id), a stand-in for trained k-means centroids) partition the
    * corpus into inverted lists; each query probes its `nprobe` nearest
    * lists and scores only those corpus rows.
    *
    * Cost model vs [[bruteForceTopK]] (n corpus rows, q queries, d dims):
    * brute force is O(n·q·d) flops every time; IVF pays O(n·nlist·d) once
    * to build the index, then O(n·q·d·nprobe/nlist) per query sweep — the
    * win whenever q ≫ nlist·nprobe. The cluster equi-join hash-partitions
    * on the list id (AQE handles skewed lists); with the index persisted
    * (bucketed by __cluster in a real deployment) the probe side touches
    * only nprobe/nlist of the corpus. nprobe = nlist degrades gracefully
    * to exact brute force. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, nlist: Int = 256, nprobe: Int = 8): DataFrame = {
    val cent = lloydCentroids(corpus, idCol, vecCol, nlist, 0)
    val c = assignClusters(
      corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv")),
      "__cid", "__cv", cent, 1)
    val q = assignClusters(
      queries.select(col(qidCol).as("__qid"), col(qvecCol).as("__qv")),
      "__qid", "__qv", cent, nprobe)
    val scored = c.join(q, Seq("__cluster"))
      .where(col("__cid") =!= col("__qid"))
      .select(col("__qid"), col("__cid"), cosine(col("__cv"), col("__qv")).as("__sim"))
    finishTopK(scored, k)
  }

  /** IVF coarse centroids as a (__cent_id, __cent_v) table: the `nlist`
    * corpus rows with the lowest md5(id) as deterministic seeds, then
    * `lloydIters` collect-free k-means (Lloyd) passes. */
  private def lloydCentroids(corpus: DataFrame, idCol: String,
                             vecCol: String, nlist: Int,
                             lloydIters: Int): DataFrame = {
    val seeds = corpus
      .select(col(idCol).as("__cent_id"), col(vecCol).as("__cent_v"),
        md5(col(idCol).cast("string")).as("__m"))
      .orderBy("__m").limit(nlist).drop("__m")
    (0 until lloydIters).foldLeft(seeds) { (cent, _) => centroidVectors(
      kmeansIterate(corpus, idCol, vecCol, cent, "__cent_id", "__cent_v")) }
  }

  /** (centroid_id, pos, mean) long-form [[kmeansIterate]] output pivoted
    * back into a (__cent_id, __cent_v) centroid table — collect-free
    * (one nlist-row aggregate), ready to feed the next Lloyd pass or the
    * corpus assignment. */
  private def centroidVectors(km: DataFrame): DataFrame =
    km.groupBy(col("centroid_id").as("__cent_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
        s => s.getField("mean")).as("__cent_v"))

  /** Build and PERSIST an IVF-Flat index: `lloydIters` k-means passes
    * from deterministic seeds (lowest md5(id)) train the coarse
    * centroids, every corpus vector is assigned to its nearest list, and
    * the assigned corpus is written BUCKETED by the list id
    * ([[Bucketing.writeBucketed]]) as `table`, with the trained centroids
    * alongside as `table_centroids`.
    *
    * This is the amortization step [[ivfTopK]]'s cost model asks for:
    * ivfTopK re-derives centroid stand-ins and re-assigns the whole
    * corpus on EVERY call — O(n·nlist·d) flops per query sweep. Built
    * once here, a sweep via [[ivfTopKIndexed]] pays only the probe-side
    * work, and the bucketed-by-list layout means the probe scan READS
    * only the probed lists' buckets (bucket pruning) instead of the whole
    * corpus — the difference between touching nprobe/nlist of 100 TB and
    * all of it.
    *
    * `payloadCols` are metadata columns stored ALONGSIDE the vectors in
    * the index (what vector stores call filterable attributes): a
    * metadata predicate at query time ([[ivfTopKIndexed]]'s `filter`)
    * then pushes to the index's parquet scan — filtered vector search
    * without a second table or a post-join. Index table schema:
    * (__cid, __cv, payloadCols…, __cluster). */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    table: String, nlist: Int = 256, buckets: Int = 32,
                    lloydIters: Int = 1,
                    payloadCols: Seq[String] = Nil): DataFrame = {
    require(nlist > 0 && buckets > 0 && lloydIters >= 0)
    require(!payloadCols.exists(Set(idCol, vecCol, "__cluster")),
      "payloadCols must not collide with the id/vector/cluster columns")
    val spark = corpus.sparkSession
    Seq(table, s"${table}_centroids").foreach(Bucketing.dropForRewrite(spark, _))
    lloydCentroids(corpus, idCol, vecCol, nlist, lloydIters)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_centroids")
    val assigned = assignClusters(
      corpus.select(Seq(col(idCol).as("__cid"), col(vecCol).as("__cv")) ++
        payloadCols.map(col): _*),
      "__cid", "__cv", spark.table(s"${table}_centroids"), 1, payloadCols)
    val idxCols = Seq("__cid", "__cv") ++ payloadCols :+ "__cluster"
    Bucketing.writeBucketed(assigned.select(idxCols.map(col): _*),
      table, "__cluster", buckets)
    spark.table(table)
  }

  /** Incremental index growth: assign a NEW batch of vectors to the
    * EXISTING trained centroids and append it into the bucketed index
    * table — the ingest path for a live corpus. The batch pays only its
    * own assignment cost, O(|batch|·nlist·d); the indexed corpus is
    * never re-read or re-shuffled, and appended files land in the right
    * hash buckets ([[Bucketing.appendBucketed]]) so bucket pruning and
    * the zero-exchange probe join keep working over old + new rows.
    * Centroids are NOT retrained (standard IVF posture — lists drift
    * slowly; retrain on schedule with a fresh [[buildIvfIndex]]).
    * `payloadCols` must match the index's schema. */
  def appendToIvfIndex(newVectors: DataFrame, idCol: String, vecCol: String,
                       table: String,
                       payloadCols: Seq[String] = Nil): Unit = {
    val spark = newVectors.sparkSession
    val assigned = assignClusters(
      newVectors.select(Seq(col(idCol).as("__cid"), col(vecCol).as("__cv")) ++
        payloadCols.map(col): _*),
      "__cid", "__cv", spark.table(s"${table}_centroids"), 1, payloadCols)
    val idxCols = Seq("__cid", "__cv") ++ payloadCols :+ "__cluster"
    Bucketing.appendBucketed(assigned.select(idxCols.map(col): _*),
      table, "__cluster")
  }

  /** Deterministic product-quantization codebook: `m` subspaces × `ksub`
    * centroids × `subDim` dims, seeded Gaussian — the oracle-replayable
    * DEFAULT. The encode/ADC machinery is codebook-agnostic: the
    * production path trains real sub-k-means codebooks with
    * [[trainPqCodebooks]] and passes them through the same expressions
    * via the `codebook` parameter (q_pq_trained's recall contract). */
  private[graft] def pqCodebook(m: Int, ksub: Int, subDim: Int,
                                seed: Long): Seq[Seq[Seq[Double]]] =
    (0 until m).map(j => planesFor(ksub, subDim, seed + 7919L * j))

  /** Squared L2 distance to a literal centroid — sequential double
    * accumulation, bit-reproducible across engines (the PQ twin of the
    * dot-product form the randomProjection oracle relies on). */
  private def l2sq(a: Column, cent: Seq[Double]): Column =
    aggregate(zip_with(a, typedlit(cent),
      (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, x) => acc + x)

  private def l2sqOracleSqlExpr(vecRef: String, cent: Seq[Double]): String = {
    val lits = cent.map(_.toString).mkString("[", ", ", "]")
    s"list_sum(list_transform(list_zip($vecRef, $lits), " +
      "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
  }

  /** Train the per-subspace PQ codebooks IN-ENGINE — Lloyd iterations on
    * squared-L2 over each subspace's sliced vectors, the production
    * replacement for [[pqCodebook]]'s seed planes. Returns the same
    * literal structure, so the encode/ADC expression chain is untouched:
    * pass the result to [[pqEncode]]/[[pqTopK]] via their `codebook`
    * parameter.
    *
    * Scale shape: the codebook is MODEL-sized (m·ksub·subDim doubles)
    * and hops between iterations as a one-row BROADCAST of data (the
    * LinearModel posture — never per-iteration literals, so the
    * assign+mean job's generated code is identical across iterations
    * and compiles once); each iteration is ONE job over the corpus —
    * vectors explode into m (subspace, subvector) rows, a codegen'd
    * struct-argmin assigns every row to its subspace's nearest code
    * from the broadcast codebook, and one (subspace, code, pos)
    * aggregate of 1e-9-quantized sums recomputes all m codebooks at
    * once. Codes that captured no rows keep their previous centroid
    * (standard empty-cluster rule).
    *
    * Deterministic: init is each subspace's slice of the ksub
    * md5-smallest vector ids ([[buildIvfIndex]]'s seed posture); sums
    * accumulate as exact longs on the 1e-9 grid and the means
    * re-quantize to it, so the trained codebook is partition-invariant
    * and re-run-stable (spec-pinned). */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       m: Int = 4, ksub: Int = 8, dim: Int = 64,
                       lloydIters: Int = 2): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    require(lloydIters >= 0, s"lloydIters must be >= 0, got $lloydIters")
    val subDim = dim / m
    def q9(x: Double): Double = math.floor(x * 1e9) / 1e9
    val base = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val sub = base.select(explode(array((0 until m).map { j =>
        struct(lit(j).as("j"),
          transform(slice(col("__v"), j * subDim + 1, subDim),
            x => x.cast("double")).as("sv"))
      }: _*)).as("__e"))
      .select(col("__e.j").as("__j"), col("__e.sv").as("__sv"))
    val seedRows = base
      .withColumn("__m", md5(col("__id").cast("string")))
      .orderBy("__m", "__id").limit(ksub)
      .select(col("__m"), col("__v")).collect()
      .sortBy(_.getString(0))
    require(seedRows.length == ksub,
      s"need at least ksub=$ksub corpus rows, got ${seedRows.length}")
    def elem(v: Any): Double = v match {
      case f: java.lang.Float => f.toDouble
      case d: java.lang.Double => d
      case n: java.lang.Number => n.doubleValue()
    }
    var cb: Seq[Seq[Seq[Double]]] = (0 until m).map { j =>
      seedRows.toSeq.map { r =>
        val v = r.getSeq[Any](1)
        (0 until subDim).map(p => q9(elem(v(j * subDim + p))))
      }
    }
    // nearest code per (row, subspace), first minimum wins (matching
    // pqEncode's struct-argmin) — against the codebook riding IN as a
    // one-row BROADCAST of DATA, never per-iteration literals: the
    // expression tree below is bit-identical across Lloyd iterations
    // (only the broadcast row's values change), so the assign+mean job
    // whole-stage-codegen-compiles ONCE instead of once per iteration
    // (the LinearModel parameter-server posture; guide §1.2 per-task
    // work / codegen). Same IEEE subtract/multiply/add sequence per
    // element, same (d, c) struct-min tie-break — trajectories
    // unchanged (spec-pinned, oracle green).
    val cents = element_at(col("__cb"), col("__j") + 1)
    val assignCol = array_min(array((0 until ksub).map { c =>
      struct(l2sqData(col("__sv"), element_at(cents, c + 1)).as("d"),
        lit(c + 1).as("c"))
    }: _*)).getField("c")
    val spark = corpus.sparkSession
    import spark.implicits._
    var it = 0
    while (it < lloydIters) {
      val model = broadcast(Seq(Tuple1(cb)).toDF("__cb"))
      val meanRows = sub.crossJoin(model).withColumn("__c", assignCol)
        .select(col("__j"), col("__c"),
          posexplode(col("__sv")).as(Seq("__pos", "__x")))
        .groupBy("__j", "__c", "__pos")
        .agg((sum(floor(col("__x") * 1e9).cast("long")).cast("double") /
          (count(lit(1)) * lit(1e9))).as("__mean"))
        .collect()
      val byKey = meanRows.map(r => (r.getInt(0), r.getInt(1),
        r.getInt(2)) -> r.getDouble(3)).toMap
      cb = (0 until m).map { j =>
        (0 until ksub).map { c =>
          (0 until subDim).map { p =>
            byKey.get((j, c + 1, p)).fold(cb(j)(c)(p))(q9)
          }
        }
      }
      it += 1
    }
    cb
  }

  /** [[l2sq]] against a centroid COLUMN (broadcast data, not a literal)
    * — identical per-element IEEE sequence; the training loop's
    * codegen-stable form. */
  private def l2sqData(a: Column, cent: Column): Column =
    aggregate(zip_with(a, cent,
      (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, x) => acc + x)

  /** The PQ shape contract every encode/ADC/index path checks before
    * any Spark work: `m` divides `dim`, and a caller codebook is `m` ×
    * `ksub` × subDim. A wrong subDim would not fail later: zip_with pads
    * the slice against the centroid with nulls and every distance goes
    * null — garbage codes with no error. Returns subDim = dim / m. */
  private def pqSubDim(m: Int, ksub: Int, dim: Int,
                       codebook: Option[Seq[Seq[Seq[Double]]]]): Int = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    require(codebook.forall(c => c.size == m && c.forall(s =>
      s.size == ksub && s.forall(_.size == subDim))),
      s"codebook shape must be $m x $ksub x $subDim")
    subDim
  }

  /** A query's m×ksub ADC distance table over its vector `__qv`:
    * element (j, c) is the squared L2 distance of subvector j to code c
    * — computed ONCE per query, the same [[l2sq]] chain [[pqEncode]]
    * minted the codes with. */
  private def adcTable(cb: Seq[Seq[Seq[Double]]], m: Int, ksub: Int,
                       subDim: Int): Column =
    array((0 until m).map(j =>
      array((0 until ksub).map(c =>
        l2sq(slice(col("__qv"), j * subDim + 1, subDim), cb(j)(c))): _*)): _*)

  /** ADC scoring + top-k over (query, candidate) rows carrying __qid,
    * __cid, the query's `__tbl` ([[adcTable]]) and the candidate's
    * stored `__codes`: m table lookups + m−1 adds per row, smallest
    * distance first (ties by id). The one tail of [[pqTopK]] and
    * [[ivfPqTopKIndexed]] — only the candidate join differs. Output:
    * (query_id, rank, neighbor_id, adc). */
  private def adcTopK(candidates: DataFrame, m: Int, k: Int): DataFrame =
    finishTopK(candidates.select(col("__qid"), col("__cid"),
        (0 until m).map(j => element_at(element_at(col("__tbl"), j + 1),
          element_at(col("__codes"), j + 1))).reduce(_ + _).as("__adc")),
      k, negate(col("__adc")), scoreOut = negate(col("__e.score")).as("adc"))

  /** Product-quantization encoding: compress each `dim`-float vector to
    * `m` small codes (one byte each at ksub ≤ 256) — the standard 10–50×
    * memory cut that makes billion-vector ANN fit a cluster's RAM. Each
    * subspace j picks the nearest (squared-L2) of its `ksub` codebook
    * centroids; codes are 1-based. Pure per-row expressions — zero
    * shuffle, and each centroid distance is evaluated ONCE per row (the
    * argmin folds over an array of (distance, code) structs, not a
    * recomputed array_position probe). Output: (vec_id, codes
    * array<int>). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               m: Int = 4, ksub: Int = 8, dim: Int = 64,
               seed: Long = 42L,
               codebook: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val subDim = pqSubDim(m, ksub, dim, codebook)
    val cb = codebook.getOrElse(pqCodebook(m, ksub, subDim, seed))
    val codes = array((0 until m).map { j =>
      val sub = slice(col(vecCol), j * subDim + 1, subDim)
      array_min(array((0 until ksub).map(c =>
        struct(l2sq(sub, cb(j)(c)).as("d"), lit(c + 1).as("c"))): _*))
        .getField("c")
    }: _*)
    df.select(col(idCol).as("vec_id"), codes.as("codes"))
  }

  /** [[pqEncode]]'s code array as DuckDB SQL: identical literal
    * codebooks, identical sequential-double distances; `list_position(d,
    * list_min(d))` picks the same first-minimum code the struct-argmin
    * does. */
  def pqCodesOracleSqlExpr(vecRef: String, m: Int = 4, ksub: Int = 8,
                           dim: Int = 64, seed: Long = 42L): String = {
    val subDim = dim / m
    val cb = pqCodebook(m, ksub, subDim, seed)
    (0 until m).map { j =>
      val sub = s"list_slice($vecRef, ${j * subDim + 1}, ${(j + 1) * subDim})"
      val ds = (0 until ksub).map(c => l2sqOracleSqlExpr(sub, cb(j)(c)))
        .mkString("[", ", ", "]")
      s"list_position($ds, list_min($ds))"
    }.mkString("[", ", ", "]")
  }

  /** ADC score of one (query vector, corpus code array) pair as DuckDB
    * SQL — the same per-subspace distance lists as
    * [[pqCodesOracleSqlExpr]], indexed by the (1-based) stored code and
    * left-associatively summed, mirroring [[pqTopK]]'s lookup chain. */
  def pqAdcOracleSqlExpr(qvecRef: String, codesRef: String, m: Int = 4,
                         ksub: Int = 8, dim: Int = 64,
                         seed: Long = 42L): String = {
    val subDim = dim / m
    val cb = pqCodebook(m, ksub, subDim, seed)
    (0 until m).map { j =>
      val sub = s"list_slice($qvecRef, ${j * subDim + 1}, ${(j + 1) * subDim})"
      val ds = (0 until ksub).map(c => l2sqOracleSqlExpr(sub, cb(j)(c)))
        .mkString("[", ", ", "]")
      s"($ds)[$codesRef[${j + 1}]]"
    }.mkString("(", " + ", ")")
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query computes
    * its m×ksub distance table ONCE (per-row expression on the
    * broadcast query side), then every corpus row's approximate distance
    * is m table lookups + m−1 adds — no float vector is touched on the
    * corpus side, which is the entire point: at scale the corpus is the
    * CODES table ([[pqEncode]] output, m bytes/vector), not the
    * embeddings. Smallest-distance top-k with (adc asc, id asc)
    * determinism via the bounded-heap partial aggregate. Output:
    * (query_id, rank, neighbor_id, adc). */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, qidCol: String, qvecCol: String,
             k: Int, m: Int = 4, ksub: Int = 8, dim: Int = 64,
             seed: Long = 42L,
             codebook: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val subDim = pqSubDim(m, ksub, dim, codebook)
    val cb = codebook.getOrElse(pqCodebook(m, ksub, subDim, seed))
    val enc = pqEncode(corpus, idCol, vecCol, m, ksub, dim, seed, codebook)
      .select(col("vec_id").as("__cid"), col("codes").as("__codes"))
    val q = queries.select(col(qidCol).as("__qid"), col(qvecCol).as("__qv"))
      .select(col("__qid"), adcTable(cb, m, ksub, subDim).as("__tbl"))
    adcTopK(enc.crossJoin(broadcast(q)), m, k)
  }

  /** Build and PERSIST an IVF-PQ index — the [[buildIvfIndex]] layout
    * with [[pqEncode]] codes in place of raw vectors (the FAISS IVF-PQ
    * composition re-expressed as tables): coarse centroids trained and
    * saved as `{table}_centroids`, the (possibly trained) PQ codebook
    * saved as `{table}_codebook` (j, c, pos, v) — codes are
    * MEANINGLESS without the codebook that minted them, so the index
    * carries it and the probe side reads it back instead of trusting
    * the caller to re-derive the same literals — and the corpus stored
    * as (__cid, __codes, __cluster) BUCKETED by list id. The index
    * holds m small codes per vector instead of dim floats — the
    * memory/IO product of the two levers: probing reads only
    * nprobe/nlist of the corpus (bucket pruning) AND each row read is
    * m bytes of codes, not 4·dim bytes of floats. Pass `codebook`
    * (e.g. [[trainPqCodebooks]] output) to index with trained
    * sub-quantizers; the default stays the seed planes. */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      table: String, nlist: Int = 256, buckets: Int = 32,
                      lloydIters: Int = 1, m: Int = 4, ksub: Int = 8,
                      dim: Int = 64, seed: Long = 42L,
                      codebook: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    require(nlist > 0 && buckets > 0 && lloydIters >= 0)
    val subDim = pqSubDim(m, ksub, dim, codebook)
    val spark = corpus.sparkSession
    Seq(table, s"${table}_centroids", s"${table}_codebook")
      .foreach(Bucketing.dropForRewrite(spark, _))
    val cbUsed = codebook.getOrElse(pqCodebook(m, ksub, subDim, seed))
    import spark.implicits._
    cbUsed.zipWithIndex.flatMap { case (cents, j) =>
      cents.zipWithIndex.flatMap { case (cent, c) =>
        cent.zipWithIndex.map { case (v, pos) => (j, c + 1, pos + 1, v) }
      }
    }.toDF("j", "c", "pos", "v").write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_codebook")
    lloydCentroids(corpus, idCol, vecCol, nlist, lloydIters)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_centroids")
    val assigned = assignClusters(
      corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv")),
      "__cid", "__cv", spark.table(s"${table}_centroids"), 1)
    val coded = assigned
      .join(pqEncode(corpus, idCol, vecCol, m, ksub, dim, seed, codebook)
        .select(col("vec_id").as("__cid"), col("codes").as("__codes")),
        Seq("__cid"))
      .select("__cid", "__codes", "__cluster")
    Bucketing.writeBucketed(coded, table, "__cluster", buckets)
    spark.table(table)
  }

  /** Incremental growth for the CODES-ONLY index — the
    * [[appendToIvfIndex]] recipe composed with [[pqEncode]]: the new
    * batch assigns against the FROZEN persisted centroids
    * (`{table}_centroids`), encodes with the codebook PERSISTED WITH
    * the index (`{table}_codebook` — trained or seeded, whatever
    * minted the stored codes; re-deriving it caller-side would be the
    * exact staleness bug the persisted codebook exists to prevent),
    * and appends into the bucketed codes table so bucket pruning and
    * the exchange-free probe join keep working over old + new rows.
    * The batch pays O(|batch|·(nlist + m·ksub)·d) flops — the indexed
    * corpus is never re-read or re-shuffled, which is what makes daily
    * re-embedding viable on the index you actually run at 100 TB (m
    * bytes/vector, not 4·dim). Centroids and codebook are NOT
    * retrained (standard IVF-PQ posture; retrain on schedule with a
    * fresh [[buildIvfPqIndex]]). */
  def appendToIvfPqIndex(newVectors: DataFrame, idCol: String, vecCol: String,
                         table: String, m: Int = 4, ksub: Int = 8,
                         dim: Int = 64, seed: Long = 42L): Unit = {
    val subDim = pqSubDim(m, ksub, dim, None)
    val spark = newVectors.sparkSession
    val cb = loadCodebook(spark, table, m, ksub, subDim, seed)
    val assigned = assignClusters(
      newVectors.select(col(idCol).as("__cid"), col(vecCol).as("__cv")),
      "__cid", "__cv", spark.table(s"${table}_centroids"), 1)
    val coded = assigned
      .join(pqEncode(newVectors, idCol, vecCol, m, ksub, dim, seed, Some(cb))
        .select(col("vec_id").as("__cid"), col("codes").as("__codes")),
        Seq("__cid"))
      .select("__cid", "__codes", "__cluster")
    Bucketing.appendBucketed(coded, table, "__cluster")
  }

  /** Tombstone-apply for the vector indexes ([[buildIvfIndex]] and
    * [[buildIvfPqIndex]] share the layout: one bucketed table keyed by
    * `__cid`) — embedding takedowns are as routine as text ones.
    * [[Bucketing.deleteFromBucketed]] rewrites the survivors with the
    * bucket layout intact; centroids and codebook are per-index
    * training artifacts, not per-row statistics, so nothing shrinks —
    * a post-delete probe equals a probe over a never-ingested corpus
    * by construction (spec-pinned). Ids absent from the index are
    * no-ops. */
  def deleteFromVectorIndex(spark: org.apache.spark.sql.SparkSession,
                            table: String, deleteIds: DataFrame,
                            idCol: String): Unit = {
    val del = deleteIds.select(col(idCol).cast("long").as("__cid")).distinct()
    Bucketing.deleteFromBucketed(spark, table, del, "__cid")
  }

  /** Read back a [[buildIvfPqIndex]] index's persisted codebook as the
    * literal structure the ADC expressions consume. Pre-`_codebook`
    * indexes (none in this repo, but a user's old tables) fall back to
    * the seed planes the old build used. Model-sized collect. */
  private def loadCodebook(spark: org.apache.spark.sql.SparkSession,
                           table: String, m: Int, ksub: Int,
                           subDim: Int, seed: Long): Seq[Seq[Seq[Double]]] =
    if (!spark.catalog.tableExists(s"${table}_codebook"))
      pqCodebook(m, ksub, subDim, seed)
    else {
      val rows = spark.table(s"${table}_codebook").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
        .toMap
      require(rows.size == m * ksub * subDim,
        s"${table}_codebook has ${rows.size} cells, want ${m * ksub * subDim}")
      (0 until m).map(j => (1 to ksub).map(c =>
        (1 to subDim).map(p => rows((j, c, p)))))
    }

  /** Probe a [[buildIvfPqIndex]] index: queries pick their `nprobe`
    * nearest lists against the persisted centroids, the index scan
    * PRUNES to the probed lists' buckets, and scoring is pure ADC —
    * each query's m×ksub distance table rides the broadcast join and
    * every pruned corpus row costs m list lookups on its stored codes.
    * The distance table is [[adcTable]] and the scoring tail
    * [[adcTopK]], the same two functions [[pqTopK]] runs, so nprobe =
    * nlist is [[pqTopK]] over the whole corpus (the oracle path) by
    * construction. The query-side distance tables build
    * against the codebook PERSISTED WITH the index (`{table}_codebook`)
    * — trained or seeded, whatever minted the stored codes — so a
    * trained index round-trips through build → probe with no caller
    * re-derivation. Output: (query_id, rank, neighbor_id, adc),
    * smallest-ADC first, ties by id. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
                       queries: DataFrame, qidCol: String, qvecCol: String,
                       k: Int, nprobe: Int = 8, m: Int = 4, ksub: Int = 8,
                       dim: Int = 64, seed: Long = 42L): DataFrame = {
    val subDim = pqSubDim(m, ksub, dim, None)
    val cb = loadCodebook(spark, table, m, ksub, subDim, seed)
    val cent = spark.table(s"${table}_centroids")
    val q = assignClusters(
      queries.select(col(qidCol).as("__qid"), col(qvecCol).as("__qv")),
      "__qid", "__qv", cent, nprobe)
      .select(col("__qid"), col("__cluster"),
        adcTable(cb, m, ksub, subDim).as("__tbl"))
    val probed = q.select("__cluster").distinct().collect().map(_.get(0))
    val c = spark.table(table).where(col("__cluster").isin(probed.toSeq: _*))
    adcTopK(c.join(broadcast(q), Seq("__cluster")), m, k)
  }

  /** [[ivfPqTopKIndexed]] + an exact re-rank stage — the standard FAISS
    * `refine` composition: ADC picks `refine·k` candidates from the
    * codes-only index (cheap, lossy), then ONLY those ids join back to
    * the raw embeddings and the final top-k is by true cosine. Fixes
    * ADC's one weakness — quantization error reordering near-ties —
    * while keeping the corpus-side scan on m-byte codes; the raw-vector
    * table is touched for ≤ refine·k rows per query.
    *
    * Scale shape: the candidate list is refine·k·|queries| (id, qid)
    * pairs — top-k-small by construction — so it BROADCASTS and the
    * id-keyed fetch from the 100 TB embeddings table is a map-side
    * semi-join (scan once, shuffle nothing); scoring then rides the
    * broadcast query vectors and the bounded-heap top-k keeps the final
    * exchange at ≤ k rows per (query, partition). Ranking ties break
    * (cosine desc, id asc) — [[bruteForceTopK]]'s exact convention, so
    * refine = ∞ degrades to brute force over the probed lists. Output:
    * (query_id, rank, neighbor_id, cosine). */
  def ivfPqTopKRefined(spark: org.apache.spark.sql.SparkSession, table: String,
                       queries: DataFrame, qidCol: String, qvecCol: String,
                       corpus: DataFrame, cidCol: String, cvecCol: String,
                       k: Int, refine: Int = 4, nprobe: Int = 8,
                       m: Int = 4, ksub: Int = 8, dim: Int = 64,
                       seed: Long = 42L,
                       excludeSelf: Boolean = true): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val cand = ivfPqTopKIndexed(spark, table, queries, qidCol, qvecCol,
        k * refine, nprobe, m, ksub, dim, seed)
      .select(col("query_id").as("__qid"),
        col("neighbor_id").as("__cid"))
    // the candidate ids are longs (the index stores long-castable ids —
    // the ANN family contract), so the corpus id must long-cast to join
    // back; a non-numeric id would cast to NULL and silently drop EVERY
    // candidate (empty result, no error) — fail loud per row instead
    val cidLong = col(cidCol).cast("long")
    val guardedCid = when(col(cidCol).isNotNull && cidLong.isNull,
      raise_error(concat(
        lit(s"ivfPqTopKRefined: corpus id '$cidCol' is not long-castable: "),
        col(cidCol).cast("string")))).otherwise(cidLong)
    val withVec = corpus
      .select(guardedCid.as("__cid"), col(cvecCol).as("__cv"))
      .join(broadcast(cand), Seq("__cid"))
    val q = queries.select(col(qidCol).as("__qid"), col(qvecCol).as("__qv"))
    val scored = withVec.join(broadcast(q), Seq("__qid"))
      .where(if (excludeSelf) col("__cid") =!= col("__qid") else lit(true))
      .select(col("__qid"), col("__cid"),
        cosine(col("__cv"), col("__qv")).as("__sim"))
    finishTopK(scored, k)
  }

  /** Probe a [[buildIvfIndex]] index: assign each query its `nprobe`
    * nearest lists (against the persisted centroids), PRUNE the index
    * scan to the probed lists, and score only those corpus rows.
    *
    * The probed list-id set is collected to the driver — bounded by
    * nlist (≤ a few hundred longs) REGARDLESS of query count — and
    * pushed as an `IN` filter on the bucket column, so the bucketed
    * parquet scan prunes whole bucket files: unprobed inverted lists are
    * never read. The query side broadcasts (top-k query sets are small
    * by construction), so the corpus side runs scan→join→partial-top-k
    * with ZERO shuffles; only ≤ k·partitions pre-truncated rows per
    * query reach the final exchange ([[graft.functions.TopKByScore]]).
    * nprobe = nlist degrades gracefully to exact search.
    *
    * `filter` is an optional metadata predicate over the index's
    * payload columns (see [[buildIvfIndex]]'s `payloadCols`): filtered
    * vector search ("nearest neighbors WHERE label = 3") with the
    * predicate pushed to the index's parquet scan (PushedFilters — rows
    * failing it are skipped at the source, pre-filter not post-filter,
    * so k survivors are k MATCHING survivors and selective predicates
    * also prune row groups via min/max stats). */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int, nprobe: Int = 8,
                     filter: Option[Column] = None): DataFrame = {
    val cent = spark.table(s"${table}_centroids")
    val q = assignClusters(
      queries.select(col(qidCol).as("__qid"), col(qvecCol).as("__qv")),
      "__qid", "__qv", cent, nprobe)
    val probed = q.select("__cluster").distinct().collect().map(_.get(0))
    val pruned = spark.table(table).where(col("__cluster").isin(probed.toSeq: _*))
    val c = filter.fold(pruned)(pruned.where)
    val scored = c.join(broadcast(q), Seq("__cluster"))
      .where(col("__cid") =!= col("__qid"))
      .select(col("__qid"), col("__cid"),
        cosine(col("__cv"), col("__qv")).as("__sim"))
    finishTopK(scored, k)
  }

  /** Per-dimension corpus statistics of an embedding column: count, mean
    * and population variance — the preprocessing probe before centering,
    * whitening or quantizer training. Same 1e-9 quantization trick as
    * [[centroids]] (floor-scaled exact long sums for x and x²), so the
    * result is bit-reproducible across aggregation orders and engines.
    * Shuffle carries dim rows per map task (partial aggregation collapses
    * the posexplode before the exchange) — constant in corpus size. */
  def dimStats(df: DataFrame, vecCol: String): DataFrame = {
    val ex = df.select(posexplode(col(vecCol)).as(Seq("__pos", "__v")))
    val x = col("__v").cast("double")
    val mean = col("s1").cast("double") / (col("n") * lit(1e9))
    ex.groupBy((col("__pos") + 1).as("pos"))
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(floor(x * 1e9).cast("long")).as("s1"),
        org.apache.spark.sql.functions.sum(floor(x * x * 1e9).cast("long")).as("s2"))
      .select(col("pos"), col("n"), mean.as("mean"),
        (col("s2").cast("double") / (col("n") * lit(1e9)) - mean * mean)
          .as("variance"))
  }

  /** Per-dimension embedding drift between two snapshots (old model vs
    * re-embedded corpus, yesterday's crawl vs today's): [[dimStats]] on
    * both sides joined by dimension — mean shift and variance movement
    * per dim, the signal that an embedding space moved before an ANN
    * index trained on the old distribution silently degrades. The
    * vector-space companion to vocabularyDrift (text) and profileDrift
    * (schema stats). Corpus cost = one dimStats aggregate per side; the
    * join is dimension-sized. Consumers typically threshold on
    * Σ mean_shift² (one more tiny aggregate). */
  def embeddingDrift(oldDf: DataFrame, newDf: DataFrame,
                     vecCol: String): DataFrame =
    dimStats(oldDf, vecCol)
      .select(col("pos"), col("n").as("old_n"), col("mean").as("old_mean"),
        col("variance").as("old_var"))
      .join(dimStats(newDf, vecCol)
        .select(col("pos"), col("n").as("new_n"), col("mean").as("new_mean"),
          col("variance").as("new_var")), Seq("pos"))
      .select(col("pos"), col("old_n"), col("new_n"),
        col("old_mean"), col("new_mean"),
        (col("new_mean") - col("old_mean")).as("mean_shift"),
        col("old_var"), col("new_var"))

  /** Center an embedding column on the per-dimension corpus means: adds
    * `outCol` = vec − mean (double elements). The 64-ish mean values ride
    * a one-row broadcast (sorted collect_list → array), so the data side
    * stays a narrow map — but note the corpus IS scanned twice (once for
    * the means, once for the centering); persist upstream or reuse a
    * [[dimStats]] snapshot table when the scan is the expensive part. */
  def centerVectors(df: DataFrame, vecCol: String,
                    outCol: String = "centered"): DataFrame = {
    val means = dimStats(df, vecCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
        s => s.getField("mean")).as("__means"))
    df.crossJoin(broadcast(means))
      .withColumn(outCol,
        zip_with(col(vecCol), col("__means"), (x, m) => x.cast("double") - m))
      .drop("__means")
  }

  /** L2-normalize a vector column (unit sphere — cosine becomes dot).
    * The norm is the native sequential-accumulation kernel ([[norm]]);
    * zero vectors pass through unchanged instead of dividing by zero.
    * Convenience form: the norm subtree is re-evaluated per element
    * inside the interpreted lambda — for hot paths use [[l2NormalizeCol]],
    * which materializes the norm once per row. */
  def l2Normalize(v: Column): Column = {
    val n = norm(v)
    when(n === 0.0, transform(v, x => x.cast("double")))
      .otherwise(transform(v, x => x.cast("double") / n))
  }

  /** [[l2Normalize]] as a projection step: `outCol` = unit vector, with
    * the norm computed once per row in its own column (no per-element
    * re-evaluation). Narrow — no shuffle. */
  def l2NormalizeCol(df: DataFrame, vecCol: String,
                     outCol: String = "unit"): DataFrame =
    df.withColumn("__n", norm(col(vecCol)))
      .withColumn(outCol,
        when(col("__n") === 0.0, transform(col(vecCol), x => x.cast("double")))
          .otherwise(transform(col(vecCol), x => x.cast("double") / col("__n"))))
      .drop("__n")

  /** Dominant eigenvector of the corpus second-moment matrix (Σ x·xᵀ) by
    * distributed power iteration — PCA's top component when the input is
    * centered first ([[centerVectors]]).
    *
    * Never materializes the d×d matrix: each iteration is two matvecs
    * expressed as joins over the exploded (row, pos, value) relation —
    * w_r = ⟨x_r, v⟩ (join on pos with the broadcast 64-row v, group by
    * row), then u_p = Σ_r w_r·x_rp (join on row id, group by pos) — so
    * cost is O(nnz) per iteration and it scales to any dimension whose
    * vector fits in one row. All inner sums accumulate in DECIMAL(38,18)
    * and each normalized iterate is quantized to 1e-9, making the whole
    * trajectory (including the eigenvector's sign, fixed by the uniform
    * positive start) bit-reproducible across engines, partitionings and
    * aggregation orders. No driver collect — the normalizer is a global
    * window over the d-row iterate, so each iteration's subtree has
    * exactly ONE consumer and the unrolled plan stays LINEAR in iters
    * (a two-consumer normalizer doubles the subtree per pass and leans
    * on exchange reuse to survive).
    *
    * Lineage re-derives the exploded relation ~2× per iteration; for
    * iters beyond the default, pass a [[CacheScope]] to persist it.
    * Returns long-form (pos 1-based, v). */
  def powerIteration(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                     iters: Int = 3, scope: Option[CacheScope] = None): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters must be in [1,16], got $iters")
    require(dim >= 1, s"dim must be >= 1, got $dim")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 18)
    val e0 = df.select(col(idCol).as("__rid"),
        posexplode(col(vecCol)).as(Seq("__p0", "__x")))
      .select(col("__rid"), (col("__p0") + 1).as("pos"),
        col("__x").cast("double").as("x"))
    val e = scope.fold(e0)(_.cache(e0))
    // uniform positive start, quantized exactly as every later iterate
    val q0 = math.floor(1e9 / math.sqrt(dim.toDouble)) / 1e9
    var v = e.select("pos").distinct().withColumn("v", lit(q0))
    for (_ <- 1 to iters) {
      val w = e.join(broadcast(v), "pos")
        .groupBy("__rid")
        .agg(org.apache.spark.sql.functions.sum((col("x") * col("v")).cast(dec))
          .cast("double").as("w"))
      val u = e.join(w, "__rid")
        .groupBy("pos")
        .agg(org.apache.spark.sql.functions.sum((col("w") * col("x")).cast(dec))
          .cast("double").as("u"))
      val nrm = sqrt(org.apache.spark.sql.functions
        .sum((col("u") * col("u")).cast(dec))
        .over(org.apache.spark.sql.expressions.Window.partitionBy())
        .cast("double"))
      v = u.select(col("pos"), (floor(col("u") / nrm * 1e9) / 1e9).as("v"))
    }
    v
  }

  /** DuckDB twin of [[powerIteration]] over an `embeddings(vec_id,
    * embedding)`-shaped table: the same iteration unrolled as chained
    * CTEs, same DECIMAL accumulation, same 1e-9 quantization. Final
    * select emits (pos, v6 = floor(v·1e6)). */
  def powerIterationOracleSql(dim: Int, iters: Int): String = {
    val q0 = math.floor(1e9 / math.sqrt(dim.toDouble)) / 1e9
    val head =
      s"""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         |             CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
         |v0 AS (SELECT i AS pos, $q0 AS v FROM generate_series(1, $dim) t(i))""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""w$k AS (SELECT e.vec_id,
         |    CAST(sum(CAST(e.x * p.v AS DECIMAL(38,18))) AS DOUBLE) AS w
         |  FROM e JOIN v${k - 1} p ON e.pos = p.pos GROUP BY e.vec_id),
         |u$k AS (SELECT e.pos,
         |    CAST(sum(CAST(w$k.w * e.x AS DECIMAL(38,18))) AS DOUBLE) AS u
         |  FROM e JOIN w$k USING (vec_id) GROUP BY e.pos),
         |v$k AS (SELECT pos, floor(u / sqrt(CAST(
         |    sum(CAST(u * u AS DECIMAL(38,18))) OVER () AS DOUBLE)) * 1e9) / 1e9
         |    AS v FROM u$k)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT pos, CAST(floor(v * 1e6) AS BIGINT) AS v6 FROM v$iters ORDER BY pos"
  }

  // --------------------------------------------------------------------
  // Simplified silhouette — the linear-time clustering-quality readout
  // (Hruschka et al.'s simplification of Rousseeuw 1987): per point,
  // a = distance to the nearest centroid, b = distance to the second
  // nearest, s = (b−a)/max(a,b) ∈ [0,1]; full silhouette's O(n²)
  // point-to-point terms are replaced by point-to-centroid ones, which
  // is the only form that scales. Distances are squared Euclidean over
  // NANO-QUANTIZED integer coordinates, so every distance is an exact
  // long, s is one IEEE division over exact longs, and the per-cluster
  // mean folds nano-quantized s terms — bit-identical across engines
  // and partitionings.
  // --------------------------------------------------------------------

  /** Per-cluster simplified silhouette of `points` against `cents`
    * (k ≥ 2 centroids, broadcast). Coordinates quantize
    * `floor(x·1e6)` → squared distances are exact longs (|x| ≲ 10³ at
    * 64 dims stays under the long line); assignment = min (sqd, cid)
    * with the cid tie-break; s = (b−a)/max(a,b) as a single division
    * of exact longs, 0 when the point sits ON both centroids.
    *
    * Scale: one broadcast cross per point × k, collapsed by ONE
    * grouped sort_array(collect_list) over k-sized lists (k is small
    * by contract), then a k-sized cluster aggregate. The corpus
    * shuffles once on the point id. Output: (centroid_id, n_points,
    * silhouette). */
  def simplifiedSilhouette(points: DataFrame, idCol: String,
                           vecCol: String, cents: DataFrame,
                           cidCol: String, cvecCol: String): DataFrame = {
    def qz(c: Column): Column =
      transform(c, x => floor(x.cast("double") * lit(1e6)).cast("long"))
    val v = points.select(col(idCol).as("__id"), qz(col(vecCol)).as("__qv"))
    val c = cents.select(col(cidCol).as("__cid"), qz(col(cvecCol)).as("__qc"))
    val sqd = aggregate(
      zip_with(col("__qv"), col("__qc"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    val nearest = v.crossJoin(broadcast(c))
      .select(col("__id"), sqd.as("__d"), col("__cid"))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__d"), col("__cid"))))
        .as("__arr"))
      .select(col("__id"),
        col("__arr").getItem(0).getField("__d").as("__a"),
        col("__arr").getItem(0).getField("__cid").as("centroid_id"),
        col("__arr").getItem(1).getField("__d").as("__b"))
    val s = when(greatest(col("__a"), col("__b")) === 0L, lit(0.0))
      .otherwise((col("__b") - col("__a")).cast("double") /
        greatest(col("__a"), col("__b")).cast("double"))
    nearest
      .select(col("centroid_id"), floor(s * lit(1e9)).cast("long").as("__sq"))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_points"),
        (sum("__sq").cast("double") /
          (count(lit(1)) * lit(1000000000L)).cast("double"))
          .as("silhouette"))
  }

  /** [[simplifiedSilhouette]] as DuckDB SQL over `embeddings` with
    * centroids `centsPred` (a WHERE clause picking centroid rows) —
    * same quantization, same (sqd, cid) ranking, same nano-quantized
    * mean. */
  def silhouetteOracleSql(centsPred: String): String =
    s"""WITH qv AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS q
       |  FROM embeddings),
       |qc AS (SELECT vec_id AS cid, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS q
       |  FROM embeddings WHERE $centsPred),
       |d AS (SELECT qv.vec_id, qc.cid,
       |    CAST(list_sum(list_transform(list_zip(qv.q, qc.q),
       |      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS BIGINT) AS sqd
       |  FROM qv CROSS JOIN qc),
       |r AS (SELECT vec_id, cid, sqd,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sqd ASC, cid ASC) AS rn
       |  FROM d),
       |ab AS (SELECT a.vec_id, a.cid AS centroid_id, a.sqd AS da,
       |    b.sqd AS db
       |  FROM (SELECT * FROM r WHERE rn = 1) a
       |  JOIN (SELECT * FROM r WHERE rn = 2) b USING (vec_id)),
       |sil AS (SELECT centroid_id,
       |    CAST(floor((CASE WHEN greatest(da, db) = 0 THEN 0.0
       |      ELSE CAST(db - da AS DOUBLE) / CAST(greatest(da, db) AS DOUBLE)
       |      END) * 1e9) AS BIGINT) AS sq
       |  FROM ab)
       |SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_points,
       |  CAST(sum(sq) AS DOUBLE) / CAST(count(*) * 1000000000 AS DOUBLE)
       |    AS silhouette
       |FROM sil GROUP BY centroid_id ORDER BY centroid_id""".stripMargin
}
